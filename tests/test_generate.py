"""Graph -> ts generative inversion (SURVEY §2.5, R1-R7) vs the reference.

The reference walks with UNSEEDED module-global RNGs; parity is pinned by
seeding those globals and replaying the identical RNG call sequence in the
engine kernels (genkernels.py).  Strategies whose candidate order flows
through CPython set iteration (from_first_graph etc.) get distributional
tests instead (SURVEY §5.2 item 5).
"""

from __future__ import annotations

import random

import numpy as np
import pytest

from ts2g2_spark.operators import genkernels as gk

PY_SEED = 1234
NP_SEED = 5678


def _seed_reference_globals():
    random.seed(PY_SEED)
    np.random.seed(NP_SEED)


def _rng():
    return gk.Rng.seeded(PY_SEED, NP_SEED)


def _mk_value_graph(nx, n=6, vals_per_node=3, seed=9):
    """nx graph with int nodes 0..n-1, 'value' list attrs, ring+chords."""
    rng = np.random.default_rng(seed)
    g = nx.Graph()
    for i in range(n):
        g.add_node(i, value=[float(v) for v in rng.uniform(0, 10,
                                                           vals_per_node)])
    for i in range(n):
        g.add_edge(i, (i + 1) % n)
    g.add_edge(0, 3)
    return g


def _graphdata_from_nx(g):
    values = [list(g.nodes[i]["value"]) for i in g.nodes]
    neighbors = [list(g.neighbors(i)) for i in g.nodes]
    return gk.GraphData(values=values, neighbors=neighbors)


# ---------------------------------------------------------- R2 plain walks
@pytest.mark.parametrize("value_strategy,ref_value_cls", [
    ("random", "StrategyNextValueInNodeRandom"),
    ("round_robin", "StrategyNextValueInNodeRoundRobin"),
])
def test_plain_walk_bit_parity(reference, value_strategy, ref_value_cls):
    import networkx as nx
    from from_graph import strategy_to_time_sequence as S

    g = _mk_value_graph(nx)
    tg = reference.model.TimeGraph(g, graphs={"h": g})

    visitor = (reference.model.ToSequenceVisitor()
               .next_node_strategy(S.StrategySelectNextNodeRandomly())
               .next_value_strategy(getattr(S, ref_value_cls)())
               .ts_length(40))
    _seed_reference_globals()
    ref_seqs = visitor.to_sequence(tg)

    got = gk.walk_plain([_graphdata_from_nx(g)], 40, value_strategy,
                        "randomly", _rng())
    assert got[0] == ref_seqs[0]


def test_plain_walk_skip_parity(reference):
    import networkx as nx
    from from_graph import strategy_to_time_sequence as S

    g = _mk_value_graph(nx)
    tg = reference.model.TimeGraph(g, graphs={"h": g})
    visitor = (reference.model.ToSequenceVisitor()
               .next_node_strategy(S.StrategySelectNextNodeRandomly())
               .next_value_strategy(
                   S.StrategyNextValueInNodeRandom().skip_every_x_steps(2))
               .ts_length(25))
    _seed_reference_globals()
    ref_seqs = visitor.to_sequence(tg)

    got = gk.walk_plain([_graphdata_from_nx(g)], 25, "random", "randomly",
                        _rng(), skip=2)
    assert got[0] == ref_seqs[0]


def test_plain_walk_multivariate_parity(reference):
    import networkx as nx
    from from_graph import strategy_to_time_sequence as S

    g1 = _mk_value_graph(nx, n=5, seed=1)
    g2 = _mk_value_graph(nx, n=7, seed=2)
    tg = reference.model.TimeGraph(g1, graphs={"h1": g1, "h2": g2})
    visitor = (reference.model.ToSequenceVisitor()
               .next_node_strategy(S.StrategySelectNextNodeRandomly())
               .next_value_strategy(S.StrategyNextValueInNodeRandom())
               .ts_length(30))
    _seed_reference_globals()
    ref_seqs = visitor.to_sequence(tg)

    got = gk.walk_plain([_graphdata_from_nx(g1), _graphdata_from_nx(g2)],
                        30, "random", "randomly", _rng())
    assert got[0] == ref_seqs[0]
    assert got[1] == ref_seqs[1]


# ---------------------------------------------------- R5 quantile visitor
@pytest.mark.parametrize("value_strategy,ref_value_cls", [
    ("quantile_random", "StrategyNextValueInNodeQuantileRandom"),
    ("quantile", "StrategyNextValueInNodeQuantile"),
])
def test_quantile_walk_bit_parity(reference, value_strategy, ref_value_cls):
    import networkx as nx
    from from_graph import strategy_to_time_sequence as S

    from ts2g2_spark.operators import kernels as K

    y = np.asarray([3.0, 1.0, 4.0, 1.5, 9.0, 2.6, 5.3, 5.8, 9.7, 9.3,
                    2.3, 8.4, 6.2, 6.4, 3.3, 8.3], np.float64)
    Q = 4
    bins, idx = K.quantile_bins_indices(y, Q)
    q_values = [[] for _ in range(Q)]
    for i, b in enumerate(idx):
        q_values[int(b)].append(float(y[i]))

    g = nx.DiGraph()
    for i in range(Q):
        g.add_node(i, label=f"Q{i+1}", order=i)
    e, _ = K.qg_edges(y, Q)
    g.add_edges_from(map(tuple, e.tolist()))

    tg = reference.model.TimeGraph(
        g, graphs={"h": g}, quantiles=[bins], quantile_values=[q_values])
    visitor = (reference.model.ToSequenceVisitorQuantile()
               .next_node_strategy(S.StrategySelectNextNodeRandomly())
               .next_value_strategy(getattr(S, ref_value_cls)())
               .ts_length(30))
    _seed_reference_globals()
    ref_seqs = visitor.to_sequence(tg)

    gd = gk.GraphData(values=[[] for _ in range(Q)],
                      neighbors=[list(g.neighbors(i)) for i in range(Q)],
                      q_bins=bins.tolist(), q_values=q_values)
    got = gk.walk_plain([gd], 30, value_strategy, "randomly", _rng())
    assert got[0] == ref_seqs[0]
    if value_strategy == "quantile_random":
        # every generated value sits inside its quantile bin span
        assert all(bins[0] <= v <= bins[-1] for v in got[0])


# --------------------------------------------- R4 ordinal-partition visitor
def test_ordinal_partition_walk_bit_parity(reference):
    from from_graph import strategy_to_time_sequence as S

    from ts2g2_spark.operators import kernels as K

    rng = np.random.default_rng(5)
    y = rng.normal(size=60)
    w, tau, hist_bins = 3, 2, 8

    strat = reference.strategies.TimeseriesToOrdinalPatternGraph(w, tau)
    ref_graph = strat.to_graph(
        reference.model.TimeseriesArrayStream(y)).graph
    freqs, bins = np.histogram(y, bins=hist_bins)
    tg = reference.model.TimeGraph(
        ref_graph, graphs={"h": ref_graph},
        histogram_frequencies=[freqs], histogram_bins=[bins], w=w, tau=tau)
    visitor = (reference.model.ToSequenceVisitorOrdinalPartition()
               .next_node_strategy(S.StrategySelectNextNodeRandomly())
               .next_value_strategy(S.StrategyNextValueInNodeOrdinalPartition())
               .ts_length(40))
    _seed_reference_globals()
    ref_seqs = visitor.to_sequence(tg)

    # engine graph: unique patterns in first-occurrence order must equal the
    # reference graph's node insertion order
    pats = K.ordinal_patterns(y, w, tau)
    uniq = list(dict.fromkeys(map(tuple, pats.tolist())))
    assert [tuple(map(int, p)) for p in ref_graph.nodes] == uniq

    gd = gk.GraphData(values=[[] for _ in uniq],
                      neighbors=[[] for _ in uniq], patterns=uniq)
    # adjacency unused by 'randomly'; keep empty to mirror set_arguments({})
    got = gk.walk_ordinal_partition(
        [gd], 40, "randomly", _rng(),
        freqs=[freqs.astype(np.float64)], bins=[bins], w=w, tau=tau)
    assert got[0] == pytest.approx(ref_seqs[0], abs=0)


# ---------------------------------------------- R3 sliding-window visitor
def test_sliding_window_walk_bit_parity(reference):
    import networkx as nx
    from from_graph import strategy_to_time_sequence as S

    # 3 window-graphs, each with 2 nodes carrying value lists
    rng = np.random.default_rng(21)
    wins = []
    for i in range(3):
        h = nx.Graph()
        for j in range(2):
            h.add_node(f"w{i}n{j}",
                       value=[float(v) for v in rng.uniform(0, 5, 4)])
        h.add_edge(f"w{i}n0", f"w{i}n1")
        wins.append(h)
    g = nx.Graph()
    for a, b in zip(wins[:-1], wins[1:]):
        g.add_edge(a, b)

    # the sliding-window visitor expects a LIST of per-variable dicts
    # (core/model.py:512-524 indexes dicts[i] by integer — the univariate
    # dict form from to_graph() would KeyError upstream too)
    tg = reference.model.TimeGraph(
        g, graphs=[{f"h{i}": w for i, w in enumerate(wins)}])
    visitor = (reference.model.ToSequenceVisitorSlidingWindow()
               .next_node_strategy(S.StrategySelectNextNodeRandomly())
               .next_value_strategy(
                   S.StrategyNextValueInNodeRandomForSlidingWindow())
               .ts_length(20))
    _seed_reference_globals()
    ref_seqs = visitor.to_sequence(tg)

    win_values = [[list(w.nodes[nid]["value"]) for nid in w.nodes]
                  for w in wins]
    gd = gk.GraphData(values=[[] for _ in wins],
                      neighbors=[[1], [0, 2], [1]],
                      win_values=win_values)
    got = gk.walk_plain([gd], 20, "random_sliding", "randomly", _rng())
    assert got[0] == ref_seqs[0]


def test_round_robin_sliding_window_parity(reference):
    import networkx as nx
    from from_graph import strategy_to_time_sequence as S

    rng = np.random.default_rng(33)
    wins = []
    for i in range(2):
        h = nx.Graph()
        for j in range(2):
            h.add_node(f"w{i}n{j}",
                       value=[float(v) for v in rng.uniform(0, 5, 3)])
        h.add_edge(f"w{i}n0", f"w{i}n1")
        wins.append(h)
    g = nx.Graph()
    g.add_edge(wins[0], wins[1])

    tg = reference.model.TimeGraph(
        g, graphs=[{f"h{i}": w for i, w in enumerate(wins)}])
    visitor = (reference.model.ToSequenceVisitorSlidingWindow()
               .next_node_strategy(S.StrategySelectNextNodeRandomly())
               .next_value_strategy(
                   S.StrategyNextValueInNodeRoundRobinForSlidingWindow())
               .ts_length(16))
    _seed_reference_globals()
    ref_seqs = visitor.to_sequence(tg)

    win_values = [[list(w.nodes[nid]["value"]) for nid in w.nodes]
                  for w in wins]
    gd = gk.GraphData(values=[[] for _ in wins], neighbors=[[1], [0]],
                      win_values=win_values)
    got = gk.walk_plain([gd], 16, "round_robin_sliding", "randomly",
                        _rng())
    assert got[0] == ref_seqs[0]


# ------------------------------------- neighbor strategies: distributional
def test_from_first_graph_support():
    """Values only ever come from the walk's reachable nodes; with a
    star graph the walk alternates hub <-> leaves."""
    gd = gk.GraphData(
        values=[[10.0], [1.0], [2.0], [3.0]],
        neighbors=[[1, 2, 3], [0], [0], [0]],
    )
    got = gk.walk_plain([gd], 200, "random", "from_first_graph",
                        gk.Rng.seeded(1, 2))[0]
    assert set(got) <= {10.0, 1.0, 2.0, 3.0}
    # hub value appears ~every other step
    frac_hub = sum(v == 10.0 for v in got) / len(got)
    assert 0.35 < frac_hub < 0.65


def test_random_with_restart_distribution():
    """~15% of advances jump to the remembered start node."""
    gd = gk.GraphData(values=[[float(i)] for i in range(10)],
                      neighbors=[[] for _ in range(10)])
    rng = gk.Rng.seeded(3, 4)
    got = gk.walk_plain([gd], 5000, "random", "random_with_restart", rng)[0]
    # the restart node value should be over-represented vs uniform 10%
    from collections import Counter

    top = Counter(got).most_common(1)[0][1] / len(got)
    assert top > 0.18  # 0.15 restart + 0.085 uniform share ~ 0.22


def test_random_degree_is_uniform_over_neighbors():
    """ref :283-305 — overlap weights are candidate-independent, so the
    distribution is uniform over eligible neighbors."""
    gd = gk.GraphData(values=[[0.0], [1.0], [2.0], [3.0]],
                      neighbors=[[1, 2, 3], [0], [0], [0]])
    rng = gk.Rng.seeded(7, 8)
    got = gk.walk_plain([gd], 3000, "random", "random_degree", rng)[0]
    from collections import Counter

    c = Counter(got)
    leaf_counts = [c[1.0], c[2.0], c[3.0]]
    assert max(leaf_counts) < 1.5 * min(leaf_counts)


# --------------------------------------------------- Spark surface (R-ops)
def test_generate_sequences_spark(spark):
    from pyspark.sql import functions as F

    from ts2g2_spark.operators import generate

    nodes = spark.createDataFrame(
        [("s1", i, [float(i), float(i) + 0.5]) for i in range(4)]
        + [("s2", i, [float(10 + i)]) for i in range(3)],
        "series_key string, node_id long, values array<double>")
    edges = spark.createDataFrame(
        [("s1", 0, 1), ("s1", 1, 2), ("s1", 2, 3), ("s2", 0, 1),
         ("s2", 1, 2)],
        "series_key string, src long, dst long")
    packed = generate.pack_graph_rows(nodes, edges)
    out = generate.generate_sequences(packed, ts_length=25, run_seed=7)
    rows = {r.series_key: r for r in out.collect()}
    assert len(rows["s1"].seq) == 25
    assert set(rows["s2"].seq) <= {10.0, 11.0, 12.0}
    # determinism: same run_seed -> identical output
    again = {r.series_key: r.seq for r in generate.generate_sequences(
        packed, ts_length=25, run_seed=7).collect()}
    assert again["s1"] == rows["s1"].seq
    # different seed -> different walk (overwhelmingly)
    other = {r.series_key: r.seq for r in generate.generate_sequences(
        packed, ts_length=25, run_seed=8).collect()}
    assert other["s1"] != rows["s1"].seq


def test_generate_quantile_spark(spark):
    from ts2g2_spark.operators import generate

    series = spark.createDataFrame(
        [("a", list(map(float, range(1, 21))))],
        "series_key string, values array<double>")
    out = generate.generate_quantile_sequences(series, Q=4, ts_length=30)
    row = out.collect()[0]
    assert len(row.seq) == 30
    assert all(1.0 - 1e-9 <= v <= 20.0 for v in row.seq)


def test_generate_ordinal_spark(spark):
    from ts2g2_spark.operators import generate

    rng = np.random.default_rng(11)
    series = spark.createDataFrame(
        [("a", rng.normal(size=50).tolist())],
        "series_key string, values array<double>")
    out = generate.generate_ordinal_sequences(
        series, w=3, tau=1, hist_bins=8, ts_length=24)
    row = out.collect()[0]
    assert len(row.seq) >= 24


def test_quantile_value_strategy_empty_bin_fallback():
    """A bin with no recorded values (duplicate-heavy series) must not
    IndexError; the value falls back to a uniform draw inside the bin."""
    from ts2g2_spark.operators import genkernels as gk

    g = gk.GraphData(
        values=[[], []], neighbors=[[1], [0]],
        q_bins=[0.0, 1.0, 2.0], q_values=[[0.5, 0.6], []])
    rng = gk.Rng.seeded(1, 2)
    seq: list[float] = []
    gk._append_value("quantile", rng, g, {}, 0, 1, seq)  # empty bin 1
    assert len(seq) == 1 and 1.0 <= seq[0] <= 2.0


def test_generate_sliding_spark(spark):
    from ts2g2_spark.operators import generate

    s = spark.createDataFrame(
        [("a", [float(i % 7) for i in range(30)]),
         ("short", [1.0, 2.0])],  # len <= win -> no windows -> no row
        "series_key string, values array<double>")
    out = generate.generate_sliding_sequences(
        s, win_size=10, move_len=5, ts_length=20, run_seed=7).collect()
    assert len(out) == 1 and out[0].series_key == "a"
    # random_sliding appends one value per window node per step -> the
    # sequence can overshoot ts_length (reference behavior)
    assert len(out[0].seq) >= 20
    out2 = generate.generate_sliding_sequences(
        s, win_size=10, move_len=5, ts_length=20, run_seed=7).collect()
    assert out[0].seq == out2[0].seq  # seeded determinism


# two series: s1 a 3-node weighted cycle with a dead-end spur, s2 a 2-node
# back-and-forth — integer weights, the hash_walks input contract
# (graphs.qg_edges(counts=True) shape)
WALK_EDGES = [
    ("s1", 0, 1, 3), ("s1", 0, 2, 1), ("s1", 1, 2, 2),
    ("s1", 2, 0, 5), ("s1", 1, 9, 1),  # 9 has no out-edges
    ("s2", 0, 1, 1), ("s2", 1, 0, 4),
]


def _walk_edges(spark):
    return spark.createDataFrame(
        WALK_EDGES, "series_key string, src long, dst long, w long")


def test_hash_walks_matches_recursive_cte_oracle(spark):
    """hash_walks emits exactly the rows of the contract's recursive-CTE
    walk SQL run in DuckDB on the same edges: same md5 draw schedule,
    same int64 cumulative-interval choice, same dead-end halting."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as entry
    from ts2g2_spark.operators import generate

    con = duckdb.connect()
    con.register("walk_edges", pd.DataFrame(
        WALK_EDGES, columns=["series_key", "src", "dst", "w"]))
    edges_cte = ("cnt as (select series_key as user_id, src, dst, w"
                 " from walk_edges)")

    def oracle(run_seed):
        sql = entry._hashed_walks_sql(edges_cte, n_walks=4, n_steps=6,
                                      run_seed=run_seed)
        return sorted(map(tuple, con.execute(sql).fetchall()))

    def spark_rows(run_seed):
        return sorted(map(tuple, generate.hash_walks(
            _walk_edges(spark), n_walks=4, n_steps=6,
            run_seed=run_seed).collect()))

    got = spark_rows(11)
    assert got == oracle(11)
    assert {r[0] for r in got} == {"s1", "s2"}
    # some walk reached the dead-end spur and stopped early
    assert 9 in {r[3] for r in got}
    assert len(got) < 2 * 4 * 7
    # seed sensitivity: a different run_seed changes some draw
    assert spark_rows(12) == oracle(12) != got


def test_hash_walks_fused_dead_end_halts(spark):
    """A walk that reaches a node with no out-edges stops emitting
    (never errors, never pads): series 'd' is a straight line into a
    sink, so every walk is at most 3 rows (steps 0..2)."""
    from ts2g2_spark.operators import generate

    e = spark.createDataFrame(
        [("d", 0, 1, 1), ("d", 1, 2, 1)],
        "series_key string, src long, dst long, w long")
    out = generate.hash_walks(
        e, n_walks=8, n_steps=16, run_seed=5).collect()
    per_walk = {}
    for r in out:
        per_walk.setdefault(r.walk_id, []).append(r)
    for wid, rows in per_walk.items():
        steps = sorted(r.step for r in rows)
        assert steps == list(range(len(steps)))  # contiguous from 0
        assert len(rows) <= 3
        last = max(rows, key=lambda r: r.step)
        if len(rows) < 3:
            assert last.node == 2  # halted only because it hit the sink


def _series_builders():
    import __spark_entry__ as entry
    from ts2g2_spark.operators import generate

    def qg_mean_jump(series):
        # the contract builder reads its series through _event_series
        orig = entry._event_series
        entry._event_series = lambda spark, sf_dir: series
        try:
            return entry.q_qg_mean_jump(series.sparkSession, None)
        finally:
            entry._event_series = orig

    return {
        "sliding": lambda s: generate.generate_sliding_sequences(
            s, win_size=4, move_len=2, ts_length=12),
        "quantile": lambda s: generate.generate_quantile_sequences(
            s, Q=4, ts_length=12),
        "ordinal": lambda s: generate.generate_ordinal_sequences(
            s, w=3, tau=1, hist_bins=4, ts_length=12),
        "qg_mean_jump": qg_mean_jump,
    }


@pytest.mark.parametrize("builder",
                         ["sliding", "quantile", "ordinal", "qg_mean_jump"])
def test_null_series_row_yields_no_row(spark, builder):
    """A null `values` row among others in one Arrow batch yields no
    output row, and the other rows are those of the frame without it."""
    rng = np.random.default_rng(3)
    rows = [("1", rng.normal(size=20).tolist()), ("2", None),
            ("3", rng.normal(size=15).tolist())]
    schema = "series_key string, values array<double>"
    build = _series_builders()[builder]
    got = build(spark.createDataFrame(rows, schema).coalesce(1)).collect()
    want = build(spark.createDataFrame(
        [r for r in rows if r[1] is not None], schema).coalesce(1)).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert {str(r[0]) for r in got} == {"1", "3"}


@pytest.mark.parametrize("bad", [np.nan, -np.inf, np.inf],
                         ids=["nan", "-inf", "+inf"])
@pytest.mark.parametrize("builder", ["quantile", "ordinal"])
def test_nonfinite_series_row_yields_no_row(spark, builder, bad):
    """A series holding NaN or ±inf gets no graph (the QG edge kernels'
    rule), so the walkers give it no row, as they do a null row; the
    other rows of its Arrow batch are unchanged."""
    rng = np.random.default_rng(5)
    rows = [("1", rng.normal(size=20).tolist()),
            ("2", [1.0, bad, 2.0, 3.0, 0.5]),
            ("3", rng.normal(size=15).tolist())]
    schema = "series_key string, values array<double>"
    build = _series_builders()[builder]
    got = build(spark.createDataFrame(rows, schema).coalesce(1)).collect()
    want = build(spark.createDataFrame(
        [rows[0], rows[2]], schema).coalesce(1)).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert {r.series_key for r in got} == {"1", "3"}


# ------------------------------------- walkers vs their row kernels
_WALK = {"ts_length": 12, "node_strategy": "randomly", "skip": 0,
         "switch": 1}
_ROWS = ([("empty", []), ("one", [2.0]), ("null", None), ("two", [1.0, 3.0])]
         + [(f"r{i}", np.round(np.random.default_rng(i).normal(
             size=5 + 4 * i), 2).tolist()) for i in range(6)])


def _walk_cases():
    from ts2g2_spark.operators import generate

    return {
        "sliding": (
            lambda s: generate.generate_sliding_sequences(
                s, win_size=3, move_len=2, ts_length=12, run_seed=5),
            lambda rng, y: generate._sliding_walk(
                rng, y, win_size=3, move_len=2,
                value_strategy="random_sliding", **_WALK)),
        "quantile": (
            lambda s: generate.generate_quantile_sequences(
                s, Q=3, ts_length=12, run_seed=5),
            lambda rng, y: generate._quantile_walk(
                rng, y, Q=3, value_strategy="quantile_random", **_WALK)),
        "ordinal": (
            lambda s: generate.generate_ordinal_sequences(
                s, w=3, tau=1, hist_bins=4, ts_length=12, run_seed=5),
            lambda rng, y: generate._ordinal_walk(
                rng, y, w=3, tau=1, hist_bins=4, **_WALK)),
    }


@pytest.fixture
def two_row_batches(spark):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    yield spark
    spark.conf.set(key, old)


def _want(rows, walk):
    from ts2g2_spark.operators import generate

    out = []
    for key, *vals in rows:
        if any(v is None for v in vals):
            continue
        ps, ns = generate._seeds(5, key)
        seq = walk(gk.Rng.seeded(ps, ns), *vals)
        if seq is not None:
            out.append((key, ps, ns, [float(x) for x in seq]))
    return out


@pytest.mark.parametrize("walker", ["sliding", "quantile", "ordinal"])
def test_series_walker_matches_row_kernel(two_row_batches, walker):
    """In 2-row Arrow batches, with empty, 1-point and null rows: the
    walker's rows, in order, are its row kernel's walks in-process with
    the same seeds; a row with no graph or no window gives none."""
    spark = two_row_batches
    build, walk = _walk_cases()[walker]
    df = spark.createDataFrame(
        _ROWS, "series_key string, values array<double>").coalesce(1)
    got = [tuple(r) for r in build(df).collect()]
    want = _want([(k, None if v is None else np.asarray(v, np.float64))
                  for k, v in _ROWS], walk)
    assert got == want
    assert not {"empty", "null"} & {k for k, *_ in got}
    assert len(got) >= 6


def test_packed_walker_matches_row_kernel(two_row_batches):
    """generate_sequences on packed rows (a 1-node graph, paths, a null
    row) in 2-row Arrow batches: its rows are _plain_walk's in-process."""
    from ts2g2_spark.operators import generate

    spark = two_row_batches
    rows = [("one", 1, [[4.0]], [], []),
            ("null", 2, None, [0], [1]),
            ("path", 3, [[1.0, 2.0], [3.0], [4.0, 5.0]], [0, 1], [1, 2]),
            ("pair", 2, [[7.0], [8.0]], [0], [1]),
            ("star", 4, [[0.5], [1.5], [2.5], [3.5]], [0, 0, 0], [1, 2, 3])]
    df = spark.createDataFrame(
        rows, "series_key string, n long, node_values array<array<double>>,"
        " adj_src array<long>, adj_dst array<long>").coalesce(1)
    got = [tuple(r) for r in generate.generate_sequences(
        df, ts_length=12, run_seed=5).collect()]
    want = _want(
        [(k, n, None if v is None else [np.asarray(x) for x in v],
          np.asarray(s, np.int64), np.asarray(d, np.int64))
         for k, n, v, s, d in rows],
        lambda rng, *a: generate._plain_walk(
            rng, *a, value_strategy="random", **_WALK))
    assert got == want and [r[0] for r in got] == [
        "one", "path", "pair", "star"]


def test_qg_mean_jump_matches_kernel(two_row_batches):
    """The contract's G9 builder in 2-row Arrow batches, with empty,
    1-point and null rows: one row per phi of every non-null series, the
    in-process kernels.qg_mean_jump_length rounded to 9 dp (NaN, for a
    series with no transitions, is null)."""
    from ts2g2_spark.operators import kernels

    spark = two_row_batches
    rows = [(str(i), v) for i, (_, v) in enumerate(_ROWS)]
    got = [tuple(r) for r in _series_builders()["qg_mean_jump"](
        spark.createDataFrame(
            rows, "series_key string, values array<double>").coalesce(1)
    ).collect()]
    want = []
    for key, v in rows:
        if v is not None:
            jump = kernels.qg_mean_jump_length(np.asarray(v, float), 4, 2)
            want += [(int(key), phi, None if np.isnan(x) else round(x, 9))
                     for phi, x in zip((1, 2), jump.tolist())]
    assert got == want
    assert any(x is None for *_, x in got) and any(x for *_, x in got)
