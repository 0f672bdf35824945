"""Per-series graph metrics: the kernels in operators/kernels.py vs
networkx and brute-force references in-process, and every
graphmetrics `*_from_series` Spark op vs its kernel run per series.

The kernel inputs are test_graphmetrics.GRAPHS with reversed duplicates
and a self-loop added (`noisy_edges`), which the kernels must collapse.
The Spark frame holds an empty series, 1- and 2-point series and a null
`values` row, read in several Arrow batches.  Also pins
kernels.round_half_up against Spark's own round() on adversarial dyadic
values (np.round would half-even these the other way).
"""

from __future__ import annotations

from collections import Counter

import networkx as nx
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests.test_graphmetrics import GRAPHS, _pagerank_model, noisy_edges
from ts2g2_spark.functions.hashing import h64_py
from ts2g2_spark.operators import graphmetrics as gm
from ts2g2_spark.operators import kernels as K
from ts2g2_spark.operators.kernels import (
    graph_clustering_kernel, graph_pagerank_kernel, graph_summary_kernel,
    round_half_up,
)

SERIES = {
    "flat": [1.0] * 8,
    "ramp": [float(i) for i in range(12)],
    "saw": [1.0, 5.0, 2.0, 6.0, 1.0, 7.0, 3.0, 5.0, 2.0],
    "tiny": [2.0, 1.0],
    "one": [3.0],
    "empty": [],
    "null": None,
    "rand": np.random.default_rng(11).normal(size=60).tolist(),
    "steps": [1.0, 1.0, 2.0, 2.0, 1.0, 3.0, 3.0, 1.0, 2.0, 4.0],
    "ints": [float(x) for x in np.random.default_rng(23).integers(0, 9, 40)],
}
BATCH_ROWS = 2


@pytest.fixture(scope="module")
def series_df(spark):
    """SERIES in one partition, read in BATCH_ROWS-row Arrow batches while
    the module runs."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, str(BATCH_ROWS))
    try:
        yield spark.createDataFrame(
            list(SERIES.items()), "series_key string, values array<double>"
        ).coalesce(1).cache()
    finally:
        spark.conf.set(key, old)


def _graphs(kind="horizontal"):
    """(key, visibility edge array) of every non-null series."""
    return [(k, K.visibility_graph(np.asarray(v, float), kind=kind)[0])
            for k, v in SERIES.items() if v is not None]


# ------------------------------------------- (b) Spark op == kernel per series
def _cols(*cols):
    return list(zip(*(np.asarray(c).tolist() for c in cols)))


def _wl(e):
    nodes, lab = K.graph_wl_kernel(e, n_iter=3)
    fp = h64_py(",".join(map(str, np.sort(lab))))
    return [(len(nodes), fp)] if len(nodes) else []


def _lp(e, **kw):
    u, v, cn, j, a = K.link_prediction_kernel(e, **kw)
    return _cols(u, v, cn, round_half_up(j, 6), round_half_up(a, 6))


# op -> (graphmetrics call on the series frame, expected rows of one
# series' edge array, without series_key)
OPS = {
    "summary": (
        gm.graph_summary_from_series,
        lambda e: [tuple(s.values())]
        if (s := graph_summary_kernel(e))["n_nodes"] else []),
    "clustering": (
        gm.clustering_from_series,
        lambda e: _cols(*graph_clustering_kernel(e))),
    "mixing": (
        gm.mixing_from_series,
        lambda e: [] if (m := K.graph_mixing_kernel(e)) is None else [m]),
    "betweenness": (
        gm.betweenness_from_series,
        lambda e: _cols(*K.graph_betweenness_kernel(e))),
    "path_metrics": (
        gm.path_metrics_from_series,
        lambda e: [] if (m := K.graph_path_metrics_kernel(e)) is None
        else [tuple(m.values())]),
    "kcore": (
        gm.kcore_from_series, lambda e: _cols(*K.graph_kcore_kernel(e))),
    "pagerank": (
        lambda df, kind: gm.pagerank_from_series(df, kind=kind, iters=5),
        lambda e: _cols(*graph_pagerank_kernel(e, iters=5))),
    "lpa": (
        gm.lpa_from_series, lambda e: _cols(*K.graph_lpa_kernel(e))),
    "lpa_modularity": (
        gm.lpa_modularity_from_series,
        lambda e: [m] if (m := K.graph_modularity_kernel(e))[0] else []),
    "wl": (gm.wl_from_series, _wl),
    "link_prediction": (gm.link_prediction_from_series, _lp),
    "link_prediction_cn2": (
        lambda df, kind: gm.link_prediction_from_series(
            df, kind=kind, min_cn=2),
        lambda e: _lp(e, min_cn=2)),
    "link_prediction_cap3": (
        lambda df, kind: gm.link_prediction_from_series(
            df, kind=kind, max_hub_degree=3),
        lambda e: _lp(e, max_hub_degree=3)),
}


@pytest.mark.parametrize("kind", ["horizontal", "natural"])
@pytest.mark.parametrize("op", sorted(OPS))
def test_from_series_matches_kernel(series_df, op, kind):
    """Spark rows == the kernel run per series in-process: no row for the
    null, empty and 1-point series, nor for any edgeless graph."""
    call, expect = OPS[op]
    got = Counter(tuple(r) for r in call(series_df, kind=kind).collect())
    want = Counter((k, *row) for k, e in _graphs(kind) for row in expect(e))
    assert got == want
    assert len(got) > 0
    assert not {"null", "empty", "one"} & {k for k, *_ in got}


@pytest.mark.parametrize("call", [
    lambda df: gm.lpa_from_series(df, n_iter=0),
    lambda df: gm.lpa_modularity_from_series(df, n_iter=0),
    lambda df: gm.wl_from_series(df, n_iter=0),
    lambda df: gm.link_prediction_from_series(df, min_cn=0),
], ids=["lpa", "lpa_modularity", "wl", "link_prediction"])
def test_from_series_rejects_bad_parameters(series_df, call):
    with pytest.raises(ValueError):
        call(series_df)


# ------------------------------------------------------- kernel vs networkx
@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_clustering_kernel_matches_networkx(name):
    nodes, degree, tri, lcc = graph_clustering_kernel(
        noisy_edges(GRAPHS[name]))
    g = nx.Graph()
    g.add_edges_from(GRAPHS[name])
    nxt = nx.triangles(g)
    nxc = nx.clustering(g)
    assert sorted(nodes.tolist()) == sorted(g.nodes())
    for n, d, t, c in zip(nodes, degree, tri, lcc):
        assert d == g.degree[int(n)]
        assert t == nxt[int(n)]
        assert c == pytest.approx(nxc[int(n)], abs=1e-9)


def _equal_degree_graphs():
    """Random graphs where most nodes share a degree (regular graphs, a
    triangular lattice, circulant graphs), so the (degree, index)
    orientation of the triangle count breaks most of its ties by index."""
    out = [nx.random_regular_graph(d, n, seed=s)
           for s, (d, n) in enumerate([(3, 20), (4, 30), (6, 40), (8, 24),
                                       (5, 50), (10, 30)])]
    out.append(nx.triangular_lattice_graph(5, 8))
    out.append(nx.circulant_graph(30, [1, 2, 5]))
    out.append(nx.complete_graph(9))
    return [nx.convert_node_labels_to_integers(g) for g in out]


TRIANGLE_GRAPHS = {
    "equal_degrees": _equal_degree_graphs,
    # > 4096 nodes and sparse, plus planted triangles and one hub
    "sparse_5000_nodes": lambda: [nx.compose_all([
        nx.gnm_random_graph(5000, 12000, seed=3),
        nx.Graph([(i, i + 1) for i in range(0, 4500, 3)]
                 + [(i, i + 2) for i in range(0, 4500, 3)]
                 + [(i + 1, i + 2) for i in range(0, 4500, 3)]),
        nx.star_graph(300)])],
}


@pytest.mark.parametrize("case", sorted(TRIANGLE_GRAPHS))
def test_triangle_count_matches_networkx(case):
    """The one triangle count (graph_clustering_kernel) equals
    nx.triangles on graphs full of equal degrees and on one sparse graph
    of more than 4096 nodes, from noisy edges."""
    total = 0
    for g in TRIANGLE_GRAPHS[case]():
        nodes, degree, tri, _lcc = graph_clustering_kernel(
            noisy_edges(list(g.edges())))
        nxt = nx.triangles(g)
        assert nodes.tolist() == sorted(v for v in g if g.degree[v])
        assert degree.tolist() == [g.degree[v] for v in nodes.tolist()]
        assert tri.tolist() == [nxt[v] for v in nodes.tolist()]
        total += int(tri.sum())
    assert total > 0


def test_pagerank_kernel_sums_to_one_and_matches_dense_model():
    """Per graph: 8 rounded iterations follow the per-iteration-rounded
    model and sum to 1; 40 iterations land near the converged fixpoint
    (an independent dense power iteration without rounding, run to
    convergence; tolerance d^40 = 0.85^40 ~ 1.5e-3), and on the largest
    graph within round-off of it with the same top-5 ranking."""
    for name, edges in GRAPHS.items():
        e = noisy_edges(edges)
        g = nx.Graph()
        g.add_edges_from(edges)
        nodes, rank = graph_pagerank_kernel(e, iters=8, damping=0.85)
        model = _pagerank_model(g, iters=8, d=0.85, dp=9)
        assert nodes.tolist() == sorted(model), name
        assert rank == pytest.approx([model[v] for v in model], abs=2e-9)
        assert rank.sum() == pytest.approx(1.0, abs=1e-5)

        nodes, rank = graph_pagerank_kernel(e, iters=40, damping=0.85)
        assert rank.sum() == pytest.approx(1.0, abs=1e-5)
        idx = {int(n): i for i, n in enumerate(nodes)}
        n = len(nodes)
        A = np.zeros((n, n))
        for u, v in g.edges():
            A[idx[u], idx[v]] = A[idx[v], idx[u]] = 1.0
        P = A / A.sum(axis=1, keepdims=True)
        r = np.full(n, 1.0 / n)
        for _ in range(500):
            r = 0.15 / n + 0.85 * (P.T @ r)
        assert np.allclose(rank, r, atol=2e-3), name
        if name == "rand":
            assert np.allclose(rank, r, atol=1e-6)
            assert set(np.argsort(-rank)[:5]) == set(np.argsort(-r)[:5])


def test_summary_kernel_matches_networkx():
    for name, edges in GRAPHS.items():
        s = graph_summary_kernel(noisy_edges(edges))
        g = nx.Graph()
        g.add_edges_from(edges)
        degs = [d for _, d in g.degree]
        assert s["n_nodes"] == g.number_of_nodes()
        assert s["n_edges"] == g.number_of_edges()
        assert s["max_degree"] == max(degs)
        assert s["density"] == pytest.approx(nx.density(g), abs=1e-9)
        assert s["avg_degree"] == pytest.approx(np.mean(degs), abs=1e-9)


def test_empty_and_selfloop_edges():
    z = np.empty((0, 2), dtype=np.int64)
    assert graph_summary_kernel(z)["n_nodes"] == 0
    nodes, rank = graph_pagerank_kernel(z)
    assert len(nodes) == 0 and len(rank) == 0
    only_self = np.array([[3, 3]], dtype=np.int64)
    assert graph_summary_kernel(only_self)["n_edges"] == 0


# --------------------------------------------------- rounding contract
def test_round_half_up_matches_spark_round(spark):
    # dyadic values land EXACTLY on .5 at the 10th decimal — np.round
    # would half-even them down; Spark's BigDecimal HALF_UP goes up.
    vals = [
        2.0 ** -10,            # 0.0009765625  -> 0.000976563
        3 * 2.0 ** -10,        # 0.0029296875  -> 0.002929688
        2.0 ** -11,            # 0.00048828125 -> 0.000488281 (digit 4)
        0.1234567895,          # shortest-repr half case
        1.0 / 3.0,
        0.15 / 7,
        1e-10, 0.0, 1.0,
    ]
    ours = round_half_up(np.array(vals), 9)
    theirs = (
        spark.createDataFrame([(v,) for v in vals], "x double")
        .select(F.round("x", 9).alias("r"))
        .toPandas()["r"]
        .to_numpy()
    )
    assert np.array_equal(ours, theirs), (ours, theirs)


def test_round_half_up_negative_and_bulk_agreement():
    rng = np.random.default_rng(3)
    x = rng.normal(size=2000)
    got = round_half_up(x, 9)
    # reference: python Decimal on shortest repr (matches JVM valueOf)
    import decimal

    q = decimal.Decimal(1).scaleb(-9)
    ref = np.array([
        float(decimal.Decimal(repr(float(v))).quantize(
            q, rounding=decimal.ROUND_HALF_UP))
        for v in x
    ])
    assert np.array_equal(got, ref)


# ------------------------------------------------------------- mixing

def test_mixing_matches_networkx(spark, series_df):
    """assortativity == nx.degree_assortativity_coefficient and
    transitivity == nx.transitivity at the 6dp contract rounding, per
    series graph; degenerate graphs (tiny: one edge) give NULLs."""
    from ts2g2_spark.operators.graphmetrics import mixing_from_series

    got = {r.series_key: r for r in mixing_from_series(
        series_df, kind="horizontal").collect()}

    for key, e in _graphs():
        if len(e) == 0:
            assert key not in got
            continue
        g = nx.Graph()
        g.add_edges_from(e.tolist())
        r = got[key]
        if len({d for _, d in g.degree()}) > 1:
            want = nx.degree_assortativity_coefficient(g)
            assert r.assortativity == pytest.approx(want, abs=2e-6), key
        else:
            assert r.assortativity is None, key
        want_t = nx.transitivity(g)
        if sum(d * (d - 1) // 2 for _, d in g.degree()) > 0:
            assert r.transitivity == pytest.approx(want_t, abs=2e-6), key
        else:
            assert r.transitivity is None, key


# -------------------------------------------------------- betweenness

def test_betweenness_matches_networkx(spark, series_df):
    """Frontier-vectorized Brandes == nx.betweenness_centrality
    (normalized) at the 9dp rounding, for every series graph including
    the 2-node degenerate one."""
    from ts2g2_spark.operators.graphmetrics import betweenness_from_series

    got = betweenness_from_series(series_df, kind="horizontal").toPandas()
    for key, e in _graphs():
        sub = got[got.series_key == key].set_index("node")
        if len(e) == 0:
            assert sub.empty
            continue
        g = nx.Graph()
        g.add_edges_from(e.tolist())
        want = nx.betweenness_centrality(g, normalized=True)
        assert set(sub.index) == set(want)
        for node, w in want.items():
            assert sub.loc[node, "betweenness"] == pytest.approx(
                w, abs=2e-9), (key, node)


def test_betweenness_path_graph_exact(spark):
    """P4 (path graph on a monotone ramp HVG): interior nodes carry
    betweenness 2/3 with nx normalization, endpoints 0 — exact values,
    no tolerance."""
    from ts2g2_spark.operators.kernels import graph_betweenness_kernel

    e = np.array([[0, 1], [1, 2], [2, 3]])
    nodes, bc = graph_betweenness_kernel(e)
    assert nodes.tolist() == [0, 1, 2, 3]
    assert bc.tolist() == [0.0, round(2 / 3, 9), round(2 / 3, 9), 0.0]


def _nx_path_metrics(g):
    """graph_path_metrics_kernel's dict from networkx shortest paths:
    eccentricities and the average over reachable ordered pairs."""
    ecc, total, pairs = [], 0, 0
    for _s, d in nx.all_pairs_shortest_path_length(g):
        ecc.append(max(d.values()))
        total += sum(d.values())
        pairs += len(d) - 1
    return {"n_nodes": g.number_of_nodes(), "diameter": max(ecc),
            "radius": min(ecc), "avg_spl": total / pairs if pairs else None,
            "connected": nx.is_connected(g)}


DISTANCE_GRAPHS = {
    "sparse_5000_nodes": lambda: TRIANGLE_GRAPHS["sparse_5000_nodes"]()[0],
    # a random graph plus one hub, small enough for networkx's Brandes
    "sparse_1500_nodes": lambda: nx.compose(
        nx.gnm_random_graph(1500, 3600, seed=4), nx.star_graph(100)),
    # a random graph plus small components, on sparse labels
    "disconnected": lambda: nx.relabel_nodes(nx.disjoint_union_all([
        nx.gnm_random_graph(800, 2000, seed=5), nx.path_graph(7),
        nx.cycle_graph(9), nx.star_graph(5), nx.complete_graph(4),
        nx.petersen_graph(), nx.Graph([(0, 1)])]), lambda v: 7919 * v + 3),
}


def _distance_case(case):
    """(graph, noisy edges) of a DISTANCE_GRAPHS case, which the
    all-sources BFS runs in several source blocks, the last one partial."""
    g = nx.Graph(DISTANCE_GRAPHS[case]().edges())  # no isolated nodes
    n, m = g.number_of_nodes(), g.number_of_edges()
    step = K._BFS_CELLS // (n + 2 * m)  # sources per block
    assert n > step and n % step
    return g, noisy_edges(list(g.edges()))


@pytest.mark.parametrize("case", ["disconnected", "sparse_5000_nodes"])
def test_path_metrics_kernel_matches_networkx_in_blocks(case):
    """Path metrics equal networkx's exactly on a 5000-node sparse graph
    (93 source blocks) and on a disconnected one (2 blocks)."""
    g, e = _distance_case(case)
    assert K.graph_path_metrics_kernel(e) == _nx_path_metrics(g)


@pytest.mark.parametrize("case", ["disconnected", "sparse_1500_nodes"])
def test_betweenness_kernel_matches_networkx_in_blocks(case):
    """Betweenness equals nx.betweenness_centrality(normalized=True) at
    the 9 dp rounding on a 1500-node sparse graph (7 source blocks) and
    on a disconnected one (2 blocks).  Not on the 5000-node graph:
    networkx's pure-Python Brandes takes about a minute there."""
    g, e = _distance_case(case)
    nodes, bc = K.graph_betweenness_kernel(e)
    want = nx.betweenness_centrality(g, normalized=True)
    assert nodes.tolist() == sorted(want)
    np.testing.assert_allclose(bc, [want[v] for v in nodes.tolist()],
                               rtol=0, atol=2e-9)


# ------------------------------------------------------- path metrics

def test_path_metrics_match_networkx(spark, series_df):
    from ts2g2_spark.operators.graphmetrics import path_metrics_from_series

    got = {r.series_key: r for r in path_metrics_from_series(
        series_df, kind="horizontal").collect()}
    for key, e in _graphs():
        if len(e) == 0:
            assert key not in got
            continue
        g = nx.Graph()
        g.add_edges_from(e.tolist())
        r = got[key]
        assert r.connected  # HVGs: adjacent points always see each other
        assert r.n_nodes == g.number_of_nodes()
        assert r.diameter == nx.diameter(g), key
        assert r.radius == nx.radius(g), key
        assert r.avg_spl == pytest.approx(
            nx.average_shortest_path_length(g), abs=1e-12), key


def test_path_metrics_disconnected_reachable_pairs():
    """Two disjoint edges: per-component eccentricities, average over
    reachable ordered pairs only, connected=False."""
    from ts2g2_spark.operators.kernels import graph_path_metrics_kernel

    e = np.array([[0, 1], [5, 6]])
    m = graph_path_metrics_kernel(e)
    assert m == {"n_nodes": 4, "diameter": 1, "radius": 1,
                 "avg_spl": 1.0, "connected": False}
    assert graph_path_metrics_kernel(np.empty((0, 2), int)) is None


def test_kcore_matches_networkx(spark, series_df):
    """Simultaneous-peel core numbers == nx.core_number for every
    series graph — exact integers, no tolerance."""
    from ts2g2_spark.operators.graphmetrics import kcore_from_series

    got = kcore_from_series(series_df, kind="horizontal").toPandas()
    for key, e in _graphs():
        sub = got[got.series_key == key].set_index("node")["core"]
        if len(e) == 0:
            assert sub.empty
            continue
        g = nx.Graph()
        g.add_edges_from(e.tolist())
        want = nx.core_number(g)
        assert sub.to_dict() == want, key


def test_kcore_kernel_random_graphs():
    """Kernel vs networkx on random (non-visibility) graphs, including
    self-loops and duplicate edges the canonicalizer must drop."""
    from ts2g2_spark.operators.kernels import graph_kcore_kernel

    rng = np.random.default_rng(11)
    for trial in range(25):
        n = int(rng.integers(4, 80))
        m = int(rng.integers(3, n * 3))
        e = rng.integers(0, n, size=(m, 2))
        g = nx.Graph()
        g.add_edges_from(t for t in map(tuple, e.tolist()) if t[0] != t[1])
        nodes, core = graph_kcore_kernel(e)
        want = nx.core_number(g)
        assert dict(zip(nodes.tolist(), core.tolist())) == want, trial
    # empty edge set
    nodes, core = graph_kcore_kernel(np.empty((0, 2), dtype=np.int64))
    assert len(nodes) == 0 and len(core) == 0


# ------------------------------------------------------------------ LPA

def _brute_lpa(edges, n_iter):
    """Reference sync-LPA: neighbor-majority, ties to smallest label."""
    from collections import defaultdict

    adj = defaultdict(set)
    for u, v in edges:
        if u != v:
            adj[u].add(v)
            adj[v].add(u)
    lab = {n: n for n in adj}
    for _ in range(n_iter):
        new = {}
        for n in adj:
            c = defaultdict(int)
            for nb in adj[n]:
                c[lab[nb]] += 1
            new[n] = max(c.items(), key=lambda kv: (kv[1], -kv[0]))[0]
        lab = new
    return lab


def test_lpa_kernel_random_graphs():
    from ts2g2_spark.operators.kernels import graph_lpa_kernel

    rng = np.random.default_rng(17)
    for trial in range(30):
        m = int(rng.integers(1, 50))
        e = rng.integers(0, 18, size=(m, 2))
        nodes, comm = graph_lpa_kernel(e, n_iter=4)
        want = _brute_lpa(map(tuple, e.tolist()), 4)
        assert dict(zip(nodes.tolist(), comm.tolist())) == want, trial
    nodes, comm = graph_lpa_kernel(np.empty((0, 2), dtype=np.int64))
    assert len(nodes) == 0 and len(comm) == 0
    with pytest.raises(ValueError):
        graph_lpa_kernel(np.array([[0, 1]]), n_iter=0)


def test_lpa_labels_two_cliques():
    """Two triangles joined by one bridge edge resolve to exactly the
    two clique communities (the label VALUES are schedule artifacts —
    the bridge carries node 2's label into the right clique — so the
    assertion pins the partition, not the labels)."""
    from ts2g2_spark.operators.kernels import graph_lpa_kernel

    e = np.array([[0, 1], [1, 2], [0, 2], [3, 4], [4, 5], [3, 5], [2, 3]])
    nodes, comm = graph_lpa_kernel(e, n_iter=4)
    got = dict(zip(nodes.tolist(), comm.tolist()))
    left = {got[n] for n in (0, 1, 2)}
    right = {got[n] for n in (3, 4, 5)}
    assert len(left) == 1 and len(right) == 1 and left != right


def test_modularity_kernel_vs_networkx():
    """Kernel Q for the LPA partition == nx.community.modularity of the
    same partition, on random graphs."""
    from ts2g2_spark.operators.kernels import (
        graph_lpa_kernel, graph_modularity_kernel)

    rng = np.random.default_rng(31)
    for trial in range(20):
        m = int(rng.integers(3, 60))
        e = rng.integers(0, 20, size=(m, 2))
        nodes, lab = graph_lpa_kernel(e, n_iter=4)
        n_comm, q = graph_modularity_kernel(e, n_iter=4)
        g = nx.Graph()
        g.add_edges_from(t for t in map(tuple, e.tolist()) if t[0] != t[1])
        part = {}
        for n2, l in zip(nodes.tolist(), lab.tolist()):
            part.setdefault(l, set()).add(n2)
        want = nx.algorithms.community.modularity(g, part.values())
        assert abs(q - want) < 1e-9, trial
        assert n_comm == len(part)
    # edgeless
    assert graph_modularity_kernel(np.empty((0, 2), np.int64)) == (0, 0.0)


# ------------------------------------------------------------------ WL
def _brute_wl(edges, n_iter):
    """Dict-based 1-WL twin: degree init, h64_py relabel rounds."""
    from ts2g2_spark.functions.hashing import h64_py

    adj = {}
    for a, b in edges:
        a, b = min(a, b), max(a, b)
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    lab = {v: len(nbs) for v, nbs in adj.items()}
    for _ in range(n_iter):
        lab = {
            v: h64_py(f"{lab[v]}|"
                      + ",".join(str(x) for x in sorted(lab[u] for u in nbs)))
            for v, nbs in adj.items()
        }
    return lab


def test_wl_kernel_random_graphs():
    from ts2g2_spark.operators.kernels import graph_wl_kernel

    rng = np.random.default_rng(29)
    for trial in range(30):
        m = int(rng.integers(1, 50))
        e = rng.integers(0, 18, size=(m, 2))
        nodes, lab = graph_wl_kernel(e, n_iter=3)
        want = _brute_wl(map(tuple, e.tolist()), 3)
        assert dict(zip(nodes.tolist(), lab.tolist())) == want, trial
    nodes, lab = graph_wl_kernel(np.empty((0, 2), dtype=np.int64))
    assert len(nodes) == 0 and len(lab) == 0
    with pytest.raises(ValueError):
        graph_wl_kernel(np.array([[0, 1]]), n_iter=0)


def _fp_of(edges, n_iter=3):
    from ts2g2_spark.functions.hashing import h64_py
    from ts2g2_spark.operators.kernels import graph_wl_kernel

    _, lab = graph_wl_kernel(np.asarray(edges, np.int64), n_iter=n_iter)
    return h64_py(",".join(str(x) for x in np.sort(lab)))


def test_wl_fingerprint_invariance_and_power():
    # isomorphism invariance: a node-id permutation keeps the fingerprint
    rng = np.random.default_rng(31)
    e = rng.integers(0, 12, size=(25, 2))
    perm = rng.permutation(100)
    assert _fp_of(e) == _fp_of(perm[e])
    # separating power beyond the degree sequence: C4 + K2 vs P6 share
    # the degree multiset {1,1,2,2,2,2} but WL splits them in round 1
    c4_k2 = [(0, 1), (1, 2), (2, 3), (3, 0), (4, 5)]
    p6 = [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5)]
    assert _fp_of(c4_k2) != _fp_of(p6)
    # documented 1-WL limit: regular graphs of equal degree and size are
    # indistinguishable (C6 vs two triangles both read 2-regular, n=6)
    c6 = [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (5, 0)]
    two_c3 = [(0, 1), (1, 2), (2, 0), (3, 4), (4, 5), (5, 3)]
    assert _fp_of(c6) == _fp_of(two_c3)


def test_link_prediction_kernel_matches_networkx():
    from ts2g2_spark.operators.kernels import link_prediction_kernel

    small = [(0, 1), (1, 2), (2, 3), (0, 2), (1, 3), (3, 4), (4, 5), (2, 5)]
    for edges in [small, *GRAPHS.values()]:
        g = nx.Graph()
        g.add_edges_from(edges)
        u, v, cn, jacc, aa = link_prediction_kernel(noisy_edges(edges),
                                                    min_cn=1)
        got = {(int(a), int(b)): (int(c), float(j), float(s))
               for a, b, c, j, s in zip(u, v, cn, jacc, aa)}
        nonedges = list(nx.non_edges(g))
        want_j = {tuple(sorted((a, b))): p
                  for a, b, p in nx.jaccard_coefficient(g, nonedges)}
        want_a = {tuple(sorted((a, b))): p
                  for a, b, p in nx.adamic_adar_index(g, nonedges)}
        want_c = {tuple(sorted((a, b))): len(list(
            nx.common_neighbors(g, a, b))) for a, b in nonedges}
        want = {k: v for k, v in want_c.items() if v >= 1}
        assert set(got) == set(want)
        for k, (c, j, s) in got.items():
            assert c == want_c[k]
            assert j == pytest.approx(want_j[k], abs=1e-12)
            assert s == pytest.approx(want_a[k], abs=1e-12)


def test_link_prediction_kernel_empty_and_min_cn():
    from ts2g2_spark.operators.kernels import link_prediction_kernel

    u, v, cn, jacc, aa = link_prediction_kernel(
        np.empty((0, 2), dtype=np.int64))
    assert len(u) == 0 and len(jacc) == 0
    # a single edge: no wedge, no candidates
    assert len(link_prediction_kernel(np.array([[0, 1]]))[0]) == 0
    # path 0-1-2: exactly one prediction (0,2) through hub 1 (deg 2)
    u, v, cn, jacc, aa = link_prediction_kernel(np.array([[0, 1], [1, 2]]))
    assert (u.tolist(), v.tolist(), cn.tolist()) == ([0], [2], [1])
    assert jacc.tolist() == [1.0]  # cn=1, du=dv=1, union=1
    assert aa.tolist() == [1.0 / np.log(2.0)]
    # a path graph: every candidate pair has exactly 1 common neighbor
    path = np.array([(i, i + 1) for i in range(5)], dtype=np.int64)
    u1, *_ = link_prediction_kernel(path, min_cn=1)
    u2, *_ = link_prediction_kernel(path, min_cn=2)
    assert len(u1) == 4 and len(u2) == 0
    with pytest.raises(ValueError):
        link_prediction_kernel(path, min_cn=0)


def test_link_prediction_aa_is_the_sequential_ascending_fold():
    """Adamic-Adar equals, bit for bit, a pure-Python left fold of
    1/ln(deg) over each pair's hub degrees sorted ascending -- also for a
    pair that shares many hubs of mixed (and repeated) degrees."""
    from ts2g2_spark.operators.kernels import link_prediction_kernel

    rng = np.random.default_rng(7)
    edges, leaf = [], 100
    for h, extra in enumerate(rng.integers(0, 6, 40).tolist()):
        hub = 2 + h
        edges += [(0, hub), (1, hub)]  # nodes 0 and 1 share 40 hubs
        for _ in range(extra):
            edges.append((hub, leaf))
            leaf += 1
    edges += [tuple(e) for e in rng.integers(2, 60, (80, 2)).tolist()
              if e[0] != e[1]]
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    u, v, cn, _j, aa = link_prediction_kernel(np.array(edges, np.int64))
    got = dict(zip(zip(u.tolist(), v.tolist()), aa.tolist()))
    want = {}
    for a in adj:
        for b in adj:
            common = adj[a] & adj[b]
            if a < b and b not in adj[a] and common:
                logs = np.log(np.array(sorted(len(adj[z]) for z in common),
                                       np.float64))
                acc = 0.0
                for t in logs.tolist():
                    acc += 1.0 / t
                want[(a, b)] = acc
    assert cn[(u == 0) & (v == 1)].tolist() == [40]
    assert got == want


@pytest.mark.parametrize("cap", [2, 3, 5])
def test_link_prediction_hub_cap_bitequal_both_strategies(series_df, cap):
    """Under max_hub_degree the Spark op and the kernel run per series
    stay bit-identical, and the capped candidate set is a subset of the
    exact one with cn bounded by the exact cn (wedges only removed, never
    added)."""
    capped = Counter(tuple(r) for r in gm.link_prediction_from_series(
        series_df, kind="horizontal", max_hub_degree=cap).collect())
    assert capped == Counter(
        (k, *row) for k, e in _graphs() for row in _lp(e, max_hub_degree=cap))
    exact = {(k, u, v): cn for k, u, v, cn, *_ in
             gm.link_prediction_from_series(
                 series_df, kind="horizontal").collect()}
    for k, u, v, cn, *_ in capped:
        assert cn <= exact[(k, u, v)], (cap, k, u, v)
    assert len(capped) <= len(exact)


def test_link_prediction_kernel_hub_cap_star():
    """A planted k-star: the hub is the only wedge center, so capping
    below k removes every candidate; capping at k keeps all C(k,2)."""
    from ts2g2_spark.operators.kernels import link_prediction_kernel

    k = 6
    star = np.array([(0, i) for i in range(1, k + 1)], dtype=np.int64)
    u, v, cn, jacc, aa = link_prediction_kernel(star, min_cn=1)
    assert len(u) == k * (k - 1) // 2
    u2, *_ = link_prediction_kernel(star, min_cn=1, max_hub_degree=k - 1)
    assert len(u2) == 0
    u3, *_ = link_prediction_kernel(star, min_cn=1, max_hub_degree=k)
    assert len(u3) == k * (k - 1) // 2
    with pytest.raises(ValueError):
        link_prediction_kernel(star, min_cn=1, max_hub_degree=0)


def test_link_prediction_hub_cap_nontrivial_survivors():
    """Capped candidates are a subset of the exact ones with cn bounded by
    the exact cn (wedges are only removed, never added), and a cap that
    demonstrably KEEPS some candidates (cap=8 on a 50-point random HVG
    keeps ~30 of ~1500) guards against the property holding trivially
    on all-empty output."""
    from ts2g2_spark.operators.kernels import link_prediction_kernel

    rng = np.random.default_rng(3)
    kept, total = 0, 0
    for n in (50, 40):
        e, _ = K.visibility_graph(rng.normal(size=n), kind="horizontal")
        u, v, cn, *_ = link_prediction_kernel(e)
        exact = dict(zip(zip(u.tolist(), v.tolist()), cn.tolist()))
        total += len(exact)
        for cap in (2, 3, 5, 8):
            u, v, cn, *_ = link_prediction_kernel(e, max_hub_degree=cap)
            for key, c in zip(zip(u.tolist(), v.tolist()), cn.tolist()):
                assert c <= exact[key], (n, cap, key)
        kept += len(u)  # cap 8
    assert 0 < kept < total
