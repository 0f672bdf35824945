"""Graph -> time-series generation as a Spark operator (SURVEY §2.5).

Per-series graphs arrive as edge/node frames (adjacency-as-data, §1.2);
`pack_graph_rows` folds them into one row per series (groupBy + sorted
collect), and `generate_sequences` walks each packed graph inside an Arrow
kernel with a DETERMINISTIC per-series seed derived from (run_seed,
series_key) — recorded in the output so lineage can replay any row
(SURVEY §4.3 "deterministic RNG for R-ops").

The walks themselves are embarrassingly parallel across series: each
walker is one map-only Arrow stage on the package's one emitter
(`emit._map_segments`, operators/emit.py, one walk per row), zero
shuffle beyond the pack groupBy.  A null series row yields no output
row.  `hash_walks` is the exception: it walks per-series edge groups,
so it is one grouped applyInPandas.
"""

from __future__ import annotations

import zlib
import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ts2g2_spark.operators import genkernels as gk
from ts2g2_spark.operators import emit, kernels

PACKED_SCHEMA = (
    "series_key string, n long, node_values array<array<double>>, "
    "adj_src array<long>, adj_dst array<long>"
)
SEQ_SCHEMA = "series_key string, py_seed long, np_seed long, seq array<double>"
_SEQ_COLS = [("py_seed", "long"), ("np_seed", "long"), ("seq", "array<double>")]


def pack_graph_rows(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """(series_key, node_id, values[]) + (series_key, src, dst) -> one row
    per series with positional adjacency arrays.  Node ids must be the
    0..n-1 insertion positions (the engine's graph builders emit exactly
    that)."""
    nv = nodes.groupBy("series_key").agg(
        F.max("node_id").alias("max_id"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("node_id", "values"))),
            lambda s: s["values"],
        ).alias("node_values"),
    )
    ea = edges.groupBy("series_key").agg(
        F.array_sort(F.collect_list(F.struct("src", "dst"))).alias("e"))
    return (
        nv.join(ea, "series_key", "left")
        .select(
            "series_key",
            (F.col("max_id") + 1).alias("n"),
            "node_values",
            F.coalesce(F.transform("e", lambda s: s["src"]),
                       F.array().cast("array<long>")).alias("adj_src"),
            F.coalesce(F.transform("e", lambda s: s["dst"]),
                       F.array().cast("array<long>")).alias("adj_dst"),
        )
    )


def _seeds(run_seed: int, series_key: str) -> tuple[int, int]:
    """Stable per-series seed split (crc32 is stable across processes —
    NEVER hash(): PYTHONHASHSEED would break replay)."""
    base = zlib.crc32(f"{run_seed}:{series_key}".encode())
    return base & 0x7FFFFFFF, (base ^ 0x5DEECE66) & 0x7FFFFFFF


def _walk_rows(series: DataFrame, run_seed: int, walk, **params
               ) -> DataFrame:
    """One generated sequence per non-null row of `series` (series_key,
    then walk's columns): walk(rng, *row values after series_key,
    **params) with the row's seeded Rng; a walk that returns None gives
    its row no output row."""

    def row(key, *args):
        ps, ns = _seeds(run_seed, key)
        seq = walk(gk.Rng.seeded(ps, ns), *args, **params)
        if seq is None:
            return [], [], []
        return [ps], [ns], [np.asarray(seq, np.float64)]

    return emit._map_segments(series, SEQ_SCHEMA,
                              emit._row_kernel(_SEQ_COLS, row))


def _plain_walk(rng, n, node_values, adj_src, adj_dst, *, ts_length,
                value_strategy, node_strategy, skip, switch):
    """One packed graph's walk (generate_sequences' row kernel)."""
    neighbors: list[list[int]] = [[] for _ in range(int(n))]
    for s, d in zip(adj_src.tolist(), adj_dst.tolist()):
        neighbors[s].append(d)
        neighbors[d].append(s)  # undirected adjacency, insertion order
    g = gk.GraphData(values=[v.tolist() for v in node_values],
                     neighbors=neighbors)
    return gk.walk_plain([g], ts_length, value_strategy, node_strategy, rng,
                         skip=skip, switch=switch)[0]


def generate_sequences(
    packed: DataFrame,
    ts_length: int,
    value_strategy: str = "random",
    node_strategy: str = "randomly",
    skip: int = 0,
    switch: int = 1,
    run_seed: int = 42,
) -> DataFrame:
    """Walk every packed per-series graph; returns the generated sequence
    plus the seeds used (lineage/replay contract)."""
    return _walk_rows(
        packed.select("series_key", "n", "node_values", "adj_src",
                      "adj_dst"), run_seed, _plain_walk,
        ts_length=ts_length, value_strategy=value_strategy,
        node_strategy=node_strategy, skip=skip, switch=switch)


def _sliding_walk(rng, values, *, win_size, move_len, ts_length,
                  value_strategy, node_strategy, skip, switch):
    """One series' sliding-window walk, None when it has no window
    (generate_sliding_sequences' row kernel)."""
    y = values.tolist()
    n = len(y)
    if n <= win_size:
        return None
    starts = list(range(0, n - win_size, move_len))
    win_values = [[[y[s + t]] for t in range(win_size)] for s in starts]
    m = len(starts)
    neighbors: list[list[int]] = [[] for _ in range(m)]
    for i in range(m - 1):
        neighbors[i].append(i + 1)
        neighbors[i + 1].append(i)
    g = gk.GraphData(values=[[] for _ in range(m)], neighbors=neighbors,
                     win_values=win_values)
    return gk.walk_plain([g], ts_length, value_strategy, node_strategy, rng,
                         skip=skip, switch=switch)[0]


def generate_sliding_sequences(
    series: DataFrame,
    win_size: int,
    move_len: int = 1,
    ts_length: int = 30,
    value_strategy: str = "random_sliding",
    node_strategy: str = "randomly",
    skip: int = 0,
    switch: int = 1,
    run_seed: int = 42,
) -> DataFrame:
    """R3 sliding-window inversion from the series frame: each window is a
    supernode chained to its neighbors (ref core/model.py:504-573 walk over
    the sliding-window composed graph), carrying its window's per-point
    value lists for the *_sliding value strategies.  Preserves the
    reference windowing off-by-one (core/model.py:81-82: the final window
    starting at len-win is dropped; len <= win -> no windows -> the series
    emits no row)."""
    return _walk_rows(
        series.select("series_key", "values"), run_seed, _sliding_walk,
        win_size=win_size, move_len=move_len, ts_length=ts_length,
        value_strategy=value_strategy, node_strategy=node_strategy,
        skip=skip, switch=switch)


def _quantile_walk(rng, y, *, Q, ts_length, value_strategy, node_strategy,
                   skip, switch):
    """One series' quantile-graph walk, None when it has no graph
    (generate_quantile_sequences' row kernel)."""
    if not len(y) or not np.isfinite(y).all():
        return None  # an empty series, or one holding NaN/±inf: no bins
    bins, idx = kernels.quantile_bins_indices(y, Q)
    q_values: list[list[float]] = [[] for _ in range(Q)]
    for i, b in enumerate(idx):
        q_values[int(b)].append(float(y[i]))
    e, _ = kernels.qg_edges(y, Q)
    neighbors: list[list[int]] = [[] for _ in range(Q)]
    for s, d in e.tolist():
        neighbors[s].append(d)
    g = gk.GraphData(values=[[] for _ in range(Q)], neighbors=neighbors,
                     q_bins=bins.tolist(), q_values=q_values)
    return gk.walk_plain([g], ts_length, value_strategy, node_strategy, rng,
                         skip=skip, switch=switch)[0]


def generate_quantile_sequences(
    series: DataFrame,
    Q: int,
    ts_length: int,
    value_strategy: str = "quantile_random",
    node_strategy: str = "randomly",
    skip: int = 0,
    switch: int = 1,
    run_seed: int = 42,
) -> DataFrame:
    """Quantile-graph inversion straight from the series frame
    (series_key, values): the kernel rebuilds the reference's quantile
    state (bins with the 1e-9 epsilon, recorded per-bin values —
    to_graph/strategies.py:407-435) and walks it, all row-local."""
    return _walk_rows(
        series.select("series_key", "values"), run_seed, _quantile_walk,
        Q=Q, ts_length=ts_length, value_strategy=value_strategy,
        node_strategy=node_strategy, skip=skip, switch=switch)


def _ordinal_walk(rng, y, *, w, tau, hist_bins, ts_length, node_strategy,
                  skip, switch):
    """One series' ordinal-partition walk, None when it has no graph
    (generate_ordinal_sequences' row kernel)."""
    if not np.isfinite(y).all():
        return None  # a series holding NaN/±inf has no graph
    pats = kernels.ordinal_patterns(y, w, tau)
    if not len(pats):
        return None  # nor does one too short for a pattern
    uniq = list(dict.fromkeys(map(tuple, pats.tolist())))
    index = {p: i for i, p in enumerate(uniq)}
    neighbors: list[list[int]] = [[] for _ in range(len(uniq))]
    for a, b in zip(pats[:-1], pats[1:]):
        ia, ib = index[tuple(a)], index[tuple(b)]
        if ib not in neighbors[ia]:
            neighbors[ia].append(ib)
    freqs, bins = np.histogram(y, bins=hist_bins)
    g = gk.GraphData(values=[[] for _ in uniq], neighbors=neighbors,
                     patterns=uniq)
    return gk.walk_ordinal_partition(
        [g], ts_length, node_strategy, rng, freqs=[freqs.astype(np.float64)],
        bins=[bins], w=w, tau=tau, skip=skip, switch=switch)[0]


def generate_ordinal_sequences(
    series: DataFrame,
    w: int,
    tau: int,
    hist_bins: int,
    ts_length: int,
    node_strategy: str = "randomly",
    skip: int = 0,
    switch: int = 1,
    run_seed: int = 42,
) -> DataFrame:
    """Ordinal-partition inversion from the series frame: rebuilds the OPG
    (patterns + transitions, to_graph/strategies.py:96-126) and the
    histogram state (core/model.py:225-233) row-locally, then walks
    (core/model.py:673-716)."""
    return _walk_rows(
        series.select("series_key", "values"), run_seed, _ordinal_walk,
        w=w, tau=tau, hist_bins=hist_bins, ts_length=ts_length,
        node_strategy=node_strategy, skip=skip, switch=switch)


# ------------------------------------------- hash-replayable walks (R2/R7)
def hash_walks(
    edges: DataFrame,
    n_walks: int = 8,
    n_steps: int = 16,
    run_seed: int = 42,
) -> DataFrame:
    """Deterministic REPLAYABLE weighted random walks over per-series
    transition graphs — the oracle-checkable counterpart of the
    seeded-RNG visitors (ref model.py random walk loop; semantics:
    weighted node choice proportional to edge weight, halt on dead ends
    or after n_steps).

    Where `generate_sequences` replays the reference's Mersenne-Twister
    RNG bit-exactly (and therefore can never have an ANSI-SQL oracle),
    this variant derives EVERY random draw from the portable md5 hash
    (functions.hashing.h64) of (run_seed, series_key, walk_id, step,
    node) and does ALL weight arithmetic in int64:

      start node : node whose dense rank == h64('start|..') % n_nodes
      next node  : out-edge whose cumulative-weight interval
                   [lo, hi) (dst order) contains h64('step|..') %
                   total_w(node)

    so a recursive-CTE oracle reproduces every row exactly — no float,
    no RNG state, no rounding contract.

    edges: (series_key, src long, dst long, w long) with INTEGER
    weights (e.g. graphs.qg_edges(counts=True) transition counts).
    Returns the long frame (series_key, walk_id, step, node), step 0 =
    start.

    One applyInPandas pass over per-series edge groups: one shuffle on
    series_key, then each series' walks run in one kernel call.
    Per-series transition graphs are tiny by construction (Q^2 edges for
    a quantile graph), so a series costs a few thousand md5 calls; walk
    state is never collected and the work is embarrassingly parallel
    across series."""
    import pandas as pd

    from ts2g2_spark.functions.hashing import h64_py

    sk_type = edges.schema["series_key"].dataType.simpleString()
    schema = f"series_key {sk_type}, walk_id long, step int, node long"

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        sk = pdf["series_key"].iloc[0]
        sks = str(sk)
        g = pdf.sort_values(["src", "dst"])
        srcs = g["src"].to_numpy(np.int64)
        dsts = g["dst"].to_numpy(np.int64)
        ws = g["w"].to_numpy(np.int64)
        nodes = np.unique(np.concatenate([srcs, dsts]))
        nn = len(nodes)
        # per-src cumulative [lo, hi) intervals in dst order
        out_edges: dict[int, tuple] = {}
        for s in np.unique(srcs):
            m = srcs == s
            d, w = dsts[m], ws[m]
            hi = np.cumsum(w)
            out_edges[int(s)] = (d, hi, int(hi[-1]))
        rows = []
        for wid in range(n_walks):
            idx = h64_py(f"start|{run_seed}|{sks}|{wid}") % nn
            node = int(nodes[idx])
            rows.append((sk, wid, 0, node))
            for t in range(1, n_steps + 1):
                oe = out_edges.get(node)
                if oe is None:  # dead end: the walk halts
                    break
                d, hi, tw = oe
                u = h64_py(
                    f"step|{run_seed}|{sks}|{wid}|{t}|{node}") % tw
                node = int(d[int(np.searchsorted(hi, u, side="right"))])
                rows.append((sk, wid, t, node))
        return pd.DataFrame(
            rows, columns=["series_key", "walk_id", "step", "node"])

    return edges.groupBy("series_key").applyInPandas(kern, schema=schema)

