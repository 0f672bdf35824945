"""Graph-metric operators over ts2g2 per-series graphs.

The reference materializes every series graph as an in-memory networkx
object and leaves metric extraction to the caller (core/model.py:433 is
the only built-in: eigenvector centrality).  ts2g2's unit of work is the
per-series segment, so a graph metric is row-local: the `*_from_series`
operators build each series' visibility graph AND run the metric on it
inside the Arrow batch that holds the series, with zero shuffles, through
the one emitter of operators/graphs.py (`graphs._map_segments`): one
segmented visibility-graph build per run of a batch, then the metric on
each series' slice of those edges.  The numeric semantics (canonical
undirected edge set, HALF_UP / IEEE-floor rounding contracts, fixed
iteration schedules) live in the `kernels.graph_*_kernel` functions; the
contract's DuckDB oracles replay them.

Three relational operators stay for edge frames that already exist:
`canonical_edges`, `degrees` and `degree_exponent` (one aggregate over
the degree frame).

All operators treat the graph as UNDIRECTED and ignore self-loops and
duplicate/reversed duplicates, which matches how the reference's
strategies populate nx.Graph (parallel edge inserts collapse,
to_graph/strategies.py:541).  A series whose graph has no edges yields no
rows, and so does a null `values` row.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ts2g2_spark.operators import graphs, kernels


def canonical_edges(edges: DataFrame) -> DataFrame:
    """Undirected edge set: (series_key, a < b), self-loops dropped,
    duplicates (either orientation) collapsed.  One shuffle (distinct)."""
    return (
        edges.select(
            "series_key",
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def degrees(edges: DataFrame) -> DataFrame:
    """Per-node degree: (series_key, node, degree).  Partial-agg'd count
    over the exploded endpoint stream — one shuffle keyed on
    (series_key, node)."""
    e = canonical_edges(edges)
    ends = e.select("series_key", F.col("a").alias("node")).unionByName(
        e.select("series_key", F.col("b").alias("node"))
    )
    return ends.groupBy("series_key", "node").agg(
        F.count(F.lit(1)).alias("degree")
    )


def degree_exponent(edges: DataFrame, round_dp: int = 6) -> DataFrame:
    """Power-law exponent of each series graph's degree distribution —
    the visibility-graph literature's one-number chaos/noise
    discriminator (an i.i.d. series' HVG has exponential degree tails
    with rate ln(3/2); correlated/chaotic series deviate): the Clauset
    et al. continuous-MLE estimator

        alpha = 1 + n / (sum ln d_i - n * ln(d_min - 0.5))

    over the per-node degrees, with d_min the series' smallest degree.
    The denominator is strictly positive (d_i >= d_min > d_min - 0.5),
    so no degenerate division exists.  Rounded to `round_dp`: the ln
    sum accumulates in engine order, the rounded value is the contract
    (the acf/corr discipline).

    Output: (series_key, n_nodes, dmin, alpha).  One aggregate over the
    shared `degrees` frame (the per-series result is a scalar of it)."""
    d = degrees(edges)
    n = F.count(F.lit(1))
    return d.groupBy("series_key").agg(
        n.cast("long").alias("n_nodes"),
        F.min("degree").alias("dmin"),
        (F.round(
            1.0 + n / (F.sum(F.log("degree"))
                       - n * F.log(F.min("degree") - 0.5)),
            round_dp) + F.lit(0.0)).alias("alpha"),
    )


# ---------------------------------------------------------------------------
# Per-series metrics: visibility graph + metric in one map-only pass
# ---------------------------------------------------------------------------
def _per_series(
    series_df: DataFrame,
    kind: str,
    limit: int,
    cols: Sequence[tuple[str, str]],
    metric: Callable[[np.ndarray], Sequence],
) -> DataFrame:
    """visibility_edges(kind, limit) |> metric per series, map-only.

    Each run's visibility graphs come from one
    kernels.visibility_graph_segmented call; metric(edges) then runs on
    each non-null series' edge slice and returns one sequence per (name,
    Spark type) of `cols`, all of the series' output-row count
    (zero-length for none).  A None in a double column becomes null."""
    schema = ", ".join(
        ["series_key string"] + [f"{n} {t}" for n, t in cols])
    types = [t for _, t in cols]

    def kernel(_keys, v: graphs.Lists):
        seg, e, _w = kernels.visibility_graph_segmented(
            v.values, v.lengths, kind=kind, limit=limit)
        cut = np.searchsorted(seg, np.arange(len(v.valid) + 1)).tolist()
        rows = np.flatnonzero(v.valid).tolist()
        parts = [metric(e[cut[r]:cut[r + 1]]) for r in rows]
        seg, out = graphs._stack(rows, parts, types)
        return seg, {n: c for (n, _), c in zip(cols, out)}

    return graphs._map_segments(
        series_df.select("series_key", "values"), schema, kernel)


def _row(values: Iterable) -> list[list]:
    """One output row as one-element columns."""
    return [[v] for v in values]


def graph_summary_from_series(
    series_df, kind: str = "horizontal", limit: int = 0
):
    """visibility_edges(kind) |> per-series summary: (series_key,
    n_nodes, n_edges, density, max_degree, avg_degree), one row per
    series with at least one edge (nodes come from edges)."""
    cols = [("n_nodes", "long"), ("n_edges", "long"), ("density", "double"),
            ("max_degree", "long"), ("avg_degree", "double")]

    def metric(e):
        s = kernels.graph_summary_kernel(e)
        return _row(s[n] for n, _ in cols) if s["n_nodes"] else [[]] * 5

    return _per_series(series_df, kind, limit, cols, metric)


def clustering_from_series(
    series_df, kind: str = "horizontal", limit: int = 0
):
    """visibility_edges(kind) |> local clustering: (series_key, node,
    degree, triangles, lcc) per node, lcc = 2T / (d (d-1)) rounded HALF_UP
    to 9 dp, 0.0 for degree < 2 (networkx convention)."""
    return _per_series(
        series_df, kind, limit,
        [("node", "long"), ("degree", "long"), ("triangles", "long"),
         ("lcc", "double")],
        kernels.graph_clustering_kernel)


def mixing_from_series(
    series_df, kind: str = "horizontal", limit: int = 0,
    round_dp: int = 6,
):
    """visibility_edges(kind) |> degree assortativity + global
    transitivity: one (series_key, assortativity, transitivity) row per
    series with an edge; each is null where undefined (constant degrees,
    no wedge).  Exact integer-sum rationals, quantized with
    floor(x*10^dp + 0.5)/10^dp (kernels.graph_mixing_kernel)."""

    def metric(e):
        m = kernels.graph_mixing_kernel(e, round_dp=round_dp)
        return [[], []] if m is None else _row(m)

    return _per_series(
        series_df, kind, limit,
        [("assortativity", "double"), ("transitivity", "double")], metric)


def betweenness_from_series(
    series_df, kind: str = "horizontal", limit: int = 0,
    normalized: bool = True, round_dp: int = 9,
):
    """visibility_edges(kind) |> Brandes betweenness centrality:
    (series_key, node, betweenness).  Per-source shortest-path counting
    is inherently iterative, so this metric has no SQL-expressible form
    beyond the oracle's unrolled BFS; parity is pinned against networkx."""
    return _per_series(
        series_df, kind, limit,
        [("node", "long"), ("betweenness", "double")],
        lambda e: kernels.graph_betweenness_kernel(
            e, normalized=normalized, round_dp=round_dp))


def path_metrics_from_series(
    series_df, kind: str = "horizontal", limit: int = 0,
):
    """visibility_edges(kind) |> shortest-path summary: (series_key,
    n_nodes, diameter, radius, avg_spl, connected), one row per series
    with an edge (kernels.graph_path_metrics_kernel; parity pinned
    against networkx)."""
    cols = [("n_nodes", "long"), ("diameter", "long"), ("radius", "long"),
            ("avg_spl", "double"), ("connected", "boolean")]

    def metric(e):
        m = kernels.graph_path_metrics_kernel(e)
        return [[]] * 5 if m is None else _row(m[n] for n, _ in cols)

    return _per_series(series_df, kind, limit, cols, metric)


def kcore_from_series(
    series_df, kind: str = "horizontal", limit: int = 0,
):
    """visibility_edges(kind) |> k-core decomposition: (series_key, node,
    core) with core = the node's core number.  Pure integer peel
    (kernels.graph_kcore_kernel) — deterministic and SQL-replayable,
    parity-pinned against networkx core_number."""
    return _per_series(
        series_df, kind, limit, [("node", "long"), ("core", "long")],
        kernels.graph_kcore_kernel)


def pagerank_from_series(
    series_df,
    kind: str = "horizontal",
    limit: int = 0,
    iters: int = 8,
    damping: float = 0.85,
    round_dp: int = 9,
):
    """visibility_edges(kind) |> fixed-iteration PageRank: (series_key,
    node, rank).  Ranks are rounded HALF_UP to `round_dp` at EVERY
    iteration, so order-dependent float summation differences cannot
    accumulate and the unrolled SQL oracle replays the identical
    trajectory (kernels.graph_pagerank_kernel)."""
    return _per_series(
        series_df, kind, limit, [("node", "long"), ("rank", "double")],
        lambda e: kernels.graph_pagerank_kernel(
            e, iters=iters, damping=damping, round_dp=round_dp))


def lpa_from_series(
    series_df, kind: str = "horizontal", limit: int = 0, n_iter: int = 4,
):
    """visibility_edges(kind) |> deterministic synchronous label
    propagation: (series_key, node, community) after exactly n_iter
    rounds, ties to the smallest label (kernels.graph_lpa_kernel)."""
    if n_iter < 1:
        raise ValueError(f"lpa_from_series: need n_iter >= 1, got {n_iter}")
    return _per_series(
        series_df, kind, limit, [("node", "long"), ("community", "long")],
        lambda e: kernels.graph_lpa_kernel(e, n_iter=n_iter))


def lpa_modularity_from_series(
    series_df, kind: str = "horizontal", limit: int = 0,
    n_iter: int = 4, round_dp: int = 9,
):
    """visibility_edges(kind) |> LPA |> Newman modularity of that
    partition: one (series_key, n_communities, modularity) row per series
    with an edge.  Q is one exact-integer rational, quantized to
    `round_dp` (kernels.graph_modularity_kernel)."""
    if n_iter < 1:
        raise ValueError(
            f"lpa_modularity_from_series: need n_iter >= 1, got {n_iter}")

    def metric(e):
        n_comm, q = kernels.graph_modularity_kernel(
            e, n_iter=n_iter, round_dp=round_dp)
        return _row((n_comm, q)) if n_comm else [[], []]

    return _per_series(
        series_df, kind, limit,
        [("n_communities", "long"), ("modularity", "double")], metric)


def wl_from_series(
    series_df, kind: str = "horizontal", limit: int = 0, n_iter: int = 3,
):
    """visibility_edges(kind) |> Weisfeiler-Lehman fingerprint:
    (series_key, n_nodes, wl_fp) with wl_fp = h64 of the sorted final
    1-WL label multiset (kernels.graph_wl_kernel).  Equal fingerprints
    <=> 1-WL-indistinguishable graphs (a strictly stronger invariant than
    the degree-sequence/edge-set hashes of functions/hashing), so
    grouping by wl_fp deduplicates structurally identical series graphs
    across a corpus."""
    from ts2g2_spark.functions.hashing import h64_py

    if n_iter < 1:
        raise ValueError(f"wl_from_series: need n_iter >= 1, got {n_iter}")

    def metric(e):
        nodes, lab = kernels.graph_wl_kernel(e, n_iter=n_iter)
        if len(nodes) == 0:
            return [[], []]
        return _row((len(nodes),
                     h64_py(",".join(str(x) for x in np.sort(lab)))))

    return _per_series(
        series_df, kind, limit, [("n_nodes", "long"), ("wl_fp", "long")],
        metric)


def link_prediction_from_series(
    series_df, kind: str = "horizontal", limit: int = 0,
    min_cn: int = 1, round_dp: int = 6,
    max_hub_degree: int | None = None,
):
    """visibility_edges(kind) |> link-prediction scores (Liben-Nowell &
    Kleinberg 2003): (series_key, u, v, cn, jaccard, adamic_adar) for
    every NON-edge pair u < v sharing >= `min_cn` hubs.
    `kernels.link_prediction_kernel` emits raw IEEE doubles (one jaccard
    division; a sequential ascending-degree Adamic-Adar fold, the
    oracle's list_reduce order), and the HALF_UP rounding contract is
    applied JVM-side by F.round.  `max_hub_degree` caps the sum-deg^2
    wedge budget: hubs above it emit no wedges while du/dv stay true
    degrees.  None (default) = exact."""
    if min_cn < 1:
        raise ValueError(
            f"link_prediction_from_series: need min_cn >= 1, got {min_cn=}")

    raw = _per_series(
        series_df, kind, limit,
        [("u", "long"), ("v", "long"), ("cn", "long"), ("_jacc", "double"),
         ("_aa", "double")],
        lambda e: kernels.link_prediction_kernel(
            e, min_cn, max_hub_degree=max_hub_degree))
    return raw.select(
        "series_key", "u", "v", "cn",
        F.round("_jacc", round_dp).alias("jaccard"),
        F.round("_aa", round_dp).alias("adamic_adar"),
    )
