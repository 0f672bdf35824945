"""Intra- and multi-graph linking (SURVEY §2.4, L1-L12) as DataFrame joins.

The reference links graphs with O(V^2) nested Python loops over NetworkX
(to_graph/strategy_linking_graph.py, strategy_linking_multi_graphs.py); here
every linking strategy is a join / window function over node and edge
frames, so Catalyst picks the physical join and the operators hold at
cluster scale.

Data contract — the "node frame":
    (graph_key string, node_id string, ord long, value double,
     values array<double>)
  * graph_key  — which constituent graph the node belongs to (one per
    variable / per sliding window; the reference's md5 dict key)
  * node_id    — globally unique node label (reference: "{md5}_{node}")
  * ord        — insertion order within its graph (the reference's 'order'
    node attribute, set at strategy_linking_multi_graphs.py:148-151)
  * value      — first element of the node's 'value' list (what
    StrategyLinkingGraphByValueWithinRange compares, strategy_linking_graph
    .py:81-83)
  * values     — the node's 'timeseries' attribute (what correlation
    strategies correlate, strategy_linking_multi_graphs.py:62-66)

Linking output — edge rows (src string, dst string, weight double,
binding string); src/dst are node_ids.  Undirected strategies emit each
edge once with src <= dst (NetworkX Graph dedup canonicalized).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ts2g2_spark.operators import kernels
from ts2g2_spark.operators.emit import _map_segments, _row_kernel
from ts2g2_spark.operators.kernels import dtw_path

LINK_EDGE_SCHEMA = "src string, dst string, weight double, binding string"


def _canon(a: Column, b: Column) -> list[Column]:
    return [F.least(a, b).alias("src"), F.greatest(a, b).alias("dst")]


# --------------------------------------------------------------- L1
def link_seasonality(nodes: DataFrame, period: int) -> DataFrame:
    """Edge between the i-th and (i+period)-th node of each graph in
    insertion order (ref strategy_linking_graph.py:34-50: loop i in
    range(len(nodes) - period)).  lead() window — one shuffle on graph_key,
    no join."""
    w = Window.partitionBy("graph_key").orderBy("ord")
    nxt = F.lead("node_id", period).over(w)
    return (
        nodes.select("graph_key", "node_id", nxt.alias("linked"))
        .where(F.col("linked").isNotNull())
        .select(
            F.col("node_id").alias("src"), F.col("linked").alias("dst"),
            F.lit(None).cast("double").alias("weight"),
            F.lit("seasonality").alias("binding"),
        )
    )


# --------------------------------------------------------------- L2
def link_value_within_range(
    nodes: DataFrame, allowed_difference: float
) -> DataFrame:
    """All node pairs (across the composed graph) with
    |value_a - value_b| < allowed_difference, a != b (ref
    strategy_linking_graph.py:63-85; both directions iterated, nx.Graph
    dedups -> canonical src<=dst here).

    Physical plan: banded self-join — bucket = floor(value / d), join on
    bucket adjacency instead of a cross product, so the cost is
    O(n * band_occupancy) not O(n^2)."""
    d = float(allowed_difference)
    b = nodes.select(
        "node_id", "value", F.floor(F.col("value") / d).alias("bucket")
    )
    left = b.alias("a")
    right = (
        b.select(
            "node_id", "value",
            F.explode(
                F.array(F.col("bucket") - 1, F.col("bucket"),
                        F.col("bucket") + 1)
            ).alias("bucket"),
        ).alias("bb")
    )
    return (
        left.join(right, on="bucket")
        .where(
            (F.col("a.node_id") < F.col("bb.node_id"))
            & (F.abs(F.col("a.value") - F.col("bb.value")) < d)
        )
        .select(
            *_canon(F.col("a.node_id"), F.col("bb.node_id")),
            F.lit(None).cast("double").alias("weight"),
            F.lit("timesteps").alias("binding"),
        )
        .dropDuplicates(["src", "dst"])
    )


# --------------------------------------------------------------- L3/L4
def _pearson_pairs(pairs: DataFrame, binding: str) -> DataFrame:
    """Pearson weight of each (src, dst, values_a, values_b) pair row; a
    pair with a null `values` yields no row."""
    return _map_segments(
        pairs, LINK_EDGE_SCHEMA,
        _row_kernel([("weight", "double"), ("binding", "string")],
                    lambda _src, _dst, a, b: (
                        [kernels.pearson_prefix(a, b)], [binding])))


def link_correlation(nodes: DataFrame, group_col: str | None = None) -> DataFrame:
    """Pearson-weighted edge between EVERY distinct node pair of the
    composed graph (ref strategy_linking_multi_graphs.py:41-77 — the loop
    is all ordered pairs; nx.Graph keeps one undirected edge, corr is
    symmetric).  group_col keys the pairing per window-group for the
    sliding-window variant (L4, lines 80-118).

    Physical plan: self-join a < b — at reference scale the node count is
    the variable count, so Spark broadcasts the smaller side; the grouped
    variant joins on (group, a<b)."""
    return _pearson_pairs(_value_pairs(nodes, "node_id", group_col),
                          "Correlation")


def _value_pairs(frame: DataFrame, key: str,
                 group_col: str | None = None) -> DataFrame:
    """(src, dst, values_a, values_b) for every pair of rows with
    key a < key b (and, with group_col, the same group): one self-join,
    broadcast at variable-count scale."""
    n = frame.select(key, "values", *([group_col] if group_col else []))
    on = F.col(f"a.{key}") < F.col(f"b.{key}")
    if group_col:
        on = (F.col(f"a.{group_col}") == F.col(f"b.{group_col}")) & on
    return n.alias("a").join(n.alias("b"), on=on).select(
        F.col(f"a.{key}").alias("src"), F.col(f"b.{key}").alias("dst"),
        F.col("a.values").alias("values_a"),
        F.col("b.values").alias("values_b"))


# ------------------------------------------------------- L3 rank variant
def link_spearman(nodes: DataFrame) -> DataFrame:
    """Spearman rank-correlation linking: the L3 all-pairs shape (ref
    strategy_linking_multi_graphs.py:41-77 pairs every distinct node) but
    weighted by the rank correlation over the common prefix length — the
    robust-to-outliers sibling every monitoring deployment wants next to
    Pearson (a single spike can't dominate the weight).

    Engine-exact by construction, unlike float Pearson: ranks are computed
    AFTER truncation to the common length (ranking the full series first
    would change tie structure), carried as integer HALF-RANK units
    (2*avg_rank = 2*min_rank + tie_count - 1, always integral — the
    quality_auc posture), and every moment sum is exact int64 addition, so
    partition order can't move a bit.  The only float ops are two
    correctly-rounded sqrts, one multiply and one divide, in a fixed order
    both engines replay identically.  Degenerate (constant-rank or n < 2)
    pairs weigh 0.0, matching the NaN -> 0 Pearson convention above.

    Physical plan: self-join a < b (node count = variable count, small
    side broadcastable), one posexplode of the zipped common prefix, two
    pair-partitioned windows for the tie-aware ranks, one hash agg.  Sums
    stay exact for series up to ~6.9k points (4*n^4 < 2^53); callers at
    rollup grain are far below that.

    int64 bound: half-ranks <= 2n, so n*sum(ha*hb) <= 4*n^4 — the int64
    ceiling is n ~ 38k and the double-exactness ceiling n ~ 6.9k."""
    keyed = _value_pairs(nodes, "node_id")
    pairs = (
        keyed
        .withColumn("n", F.least(F.size("values_a"), F.size("values_b")))
        .select("src", "dst",
                F.slice("values_a", 1, F.col("n")).alias("pa"),
                F.slice("values_b", 1, F.col("n")).alias("pb"))
        .select("src", "dst",
                F.posexplode(F.arrays_zip(F.col("pa"), F.col("pb"))))
        .select("src", "dst", F.col("col.pa").alias("xa"),
                F.col("col.pb").alias("xb"))
    )
    ha = (2 * F.rank().over(Window.partitionBy("src", "dst").orderBy("xa"))
          + F.count("*").over(Window.partitionBy("src", "dst", "xa")) - 1)
    hb = (2 * F.rank().over(Window.partitionBy("src", "dst").orderBy("xb"))
          + F.count("*").over(Window.partitionBy("src", "dst", "xb")) - 1)
    ranked = pairs.select(
        "src", "dst", ha.cast("long").alias("ha"), hb.cast("long").alias("hb"))
    m = ranked.groupBy("src", "dst").agg(
        F.count("*").alias("n"),
        F.sum("ha").alias("sa"), F.sum("hb").alias("sb"),
        F.sum(F.col("ha") * F.col("ha")).alias("saa"),
        F.sum(F.col("hb") * F.col("hb")).alias("sbb"),
        F.sum(F.col("ha") * F.col("hb")).alias("sab"),
    )
    num = F.col("n") * F.col("sab") - F.col("sa") * F.col("sb")
    da = F.col("n") * F.col("saa") - F.col("sa") * F.col("sa")
    db = F.col("n") * F.col("sbb") - F.col("sb") * F.col("sb")
    w = F.when(
        (da > 0) & (db > 0),
        num.cast("double")
        / (F.sqrt(da.cast("double")) * F.sqrt(db.cast("double"))),
    ).otherwise(F.lit(0.0))
    scored = m.select("src", "dst", w.alias("weight"))
    # left join back onto the pair list so a pair whose common prefix is
    # empty (posexplode emits nothing) still appears with weight 0.0 —
    # the NaN -> 0 Pearson convention above, not a silent drop
    return (
        keyed.select("src", "dst")
        .join(scored, on=["src", "dst"], how="left")
        .select("src", "dst",
                F.coalesce("weight", F.lit(0.0)).alias("weight"),
                F.lit("spearman").alias("binding"))
    )


# --------------------------------------------------------------- L5
def link_time_cooccurrence(nodes: DataFrame) -> DataFrame:
    """Edge between nodes of different graphs with equal insertion order
    (ref strategy_linking_multi_graphs.py:121-177: after per-graph 'order'
    assignment, every pair of distinct composed-graph positions with equal
    order is linked).  Equi-join on ord — shuffle carries one row per node,
    join key is the order index."""
    n = nodes.select("graph_key", "node_id", "ord")
    return (
        n.alias("a").join(n.alias("b"), on="ord")
        .where(F.col("a.node_id") < F.col("b.node_id"))
        .select(
            *_canon(F.col("a.node_id"), F.col("b.node_id")),
            F.lit(None).cast("double").alias("weight"),
            F.lit("positional").alias("binding"),
        )
        .dropDuplicates(["src", "dst"])
    )


# --------------------------------------------------------------- L6
def link_positional_correlation(nodes: DataFrame) -> DataFrame:
    """L5 plus Pearson weight of the two nodes' timeseries attributes (ref
    strategy_linking_multi_graphs.py:180-240)."""
    return _pearson_pairs(_value_pairs(nodes, "node_id", "ord"),
                          "positional")


# --------------------------------------------------------------- L7
def link_sliding_window_chain(segment_graphs: DataFrame) -> DataFrame:
    """Chain consecutive sliding-window graphs as supernodes, per variable
    (ref strategy_linking_multi_graphs.py:242-285: h.add_edge(g_i, g_{i+1})
    following graph_order).  Input frame: (series_key string,
    seg_ord long, graph_id string) — one row per window-graph supernode.
    lead() window, no join."""
    w = Window.partitionBy("series_key").orderBy("seg_ord")
    nxt = F.lead("graph_id").over(w)
    return (
        segment_graphs.select("series_key", "graph_id", nxt.alias("linked"))
        .where(F.col("linked").isNotNull())
        .select(
            F.col("graph_id").alias("src"), F.col("linked").alias("dst"),
            F.lit(None).cast("double").alias("weight"),
            F.lit("sliding window").alias("binding"),
        )
    )


# --------------------------------------------------------------- L8
def link_dtw(series: DataFrame, band: int | None = None) -> DataFrame:
    """DTW linking (ref strategy_linking_multi_graphs.py:288-333): for each
    series pair (i < j), compute the DTW best path over the RAW series and
    link the nodes at each aligned (a, b) position.  Input = series frame
    (series_key, values); node ids are "{series_key}:{pos}" — callers join
    back to real node labels if needed.

    Physical plan: self-join on key order (variable-count scale -> Spark
    broadcasts), DTW DP inside an Arrow kernel per pair.  Pass band= (a
    Sakoe-Chiba radius) to bound the per-pair DP at O(n*band) when series
    are long; default None = the exact reference-parity full DP.  A
    pair with a null or empty `values` yields no row (an empty series
    has no alignment; `kernels.dtw_path` raises for one)."""

    def links(key_a, key_b, a, b):
        path = dtw_path(a, b, band=band) if len(a) and len(b) else []
        return ([f"{key_a}:{i}" for i, _ in path],
                [f"{key_b}:{j}" for _, j in path],
                [None] * len(path), ["dynamical time warping"] * len(path))

    return _map_segments(
        _value_pairs(series, "series_key"), LINK_EDGE_SCHEMA,
        _row_kernel([("src", "string"), ("dst", "string"),
                     ("weight", "double"), ("binding", "string")], links))


# --------------------------------------------------------------- L10
def manual_edge(
    nodes: DataFrame, pos_1: int, pos_2: int, weight: float | None = None
) -> DataFrame:
    """add_edge by node position (ref core/model.py:271-277: positions
    index the node list in insertion order).  Composed-graph order =
    (graph_key, ord).

    SCALE NOTE: the unpartitioned Window.orderBy below is a
    single-partition global sort — correct here ONLY because the input
    is a composed multi-graph node list (tens to thousands of rows by
    contract; positional indexing is inherently a total order).  Do not
    feed this a billion-row frame; for bulk edge addition join on a
    precomputed per-graph position instead."""
    w = Window.orderBy("graph_key", "ord")
    pos = nodes.select(
        "node_id", (F.row_number().over(w) - 1).alias("pos"))
    a = pos.where(F.col("pos") == pos_1).select(
        F.col("node_id").alias("src"))
    b = pos.where(F.col("pos") == pos_2).select(
        F.col("node_id").alias("dst"))
    return a.crossJoin(b).select(
        "src", "dst", F.lit(weight).cast("double").alias("weight"),
        F.lit("manual").alias("binding"),
    )


# --------------------------------------------------------------- L11
def combine_identical_nodes(
    nodes: DataFrame, edges: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Merge nodes with equal `value`, union their neighborhoods.

    The reference's own implementation (core/model.py:323-350) is a NO-OP:
    it tests `(node, attrs) tuple not in graph` (always true, so every
    iteration `continue`s) and would KeyError on `node_1[attribute]` if it
    ever got past — verified in tests/test_linking.py.  The engine
    implements the DOCUMENTED intent ("combines nodes that have same value
    of attribute", core/model.py:324-325): canonical node = first by
    insertion order per value; edges rewritten onto canonicals.

    Returns (merged_nodes, rewritten_edges).  Aggregation + two equi-joins
    (SURVEY §2.4 L11)."""
    w = Window.partitionBy("value").orderBy("graph_key", "ord")
    canon = nodes.withColumn(
        "canon_id", F.first("node_id").over(w)
    )
    mapping = canon.select("node_id", "canon_id")
    merged = (
        canon.groupBy("value", "canon_id")
        .agg(
            F.min_by(F.struct("graph_key", "ord"), F.struct("graph_key", "ord"))
            .alias("k"),
            F.flatten(
                F.array_sort(
                    F.collect_list(F.struct("graph_key", "ord", "values"))
                ).getField("values")
            ).alias("values"),
        )
        .select(
            F.col("k.graph_key").alias("graph_key"),
            F.col("canon_id").alias("node_id"),
            F.col("k.ord").alias("ord"), "value", "values",
        )
    )
    e = (
        edges.join(mapping.withColumnRenamed("node_id", "src"), "src")
        .drop("src").withColumnRenamed("canon_id", "src")
        .join(mapping.withColumnRenamed("node_id", "dst"), "dst")
        .drop("dst").withColumnRenamed("canon_id", "dst")
        .where(F.col("src") != F.col("dst"))
        .select(*_canon(F.col("src"), F.col("dst")), "weight", "binding")
        .dropDuplicates(["src", "dst"])
    )
    return merged, e


# --------------------------------------------------------------- L12
def combine_identical_subgraphs(
    segment_graphs: DataFrame, chain_edges: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Merge sliding-window supernodes whose window-graphs are identical
    (ref core/model.py:289-321: set-equal edge lists; identical graphs get
    identical md5-relabelled node ids, so set equality <=> same
    fingerprint).  Input frame: (series_key, seg_ord, graph_id,
    fingerprint) with fingerprint = hash of the canonical edge list
    (G16, core/model.py:220-223).  Canonical supernode = first seg_ord per
    (series_key, fingerprint); chain edges rewritten, self-loops dropped.

    groupBy + two equi-joins; no driver-side graph objects."""
    w = Window.partitionBy("series_key", "fingerprint").orderBy("seg_ord")
    canon = segment_graphs.withColumn(
        "canon_id", F.first("graph_id").over(w))
    mapping = canon.select("graph_id", "canon_id")
    merged = (
        canon.groupBy("series_key", "fingerprint", "canon_id")
        .agg(F.min("seg_ord").alias("seg_ord"),
             F.sort_array(F.collect_list("seg_ord")).alias("merged_seg_ords"))
        .select("series_key",
                F.col("canon_id").alias("graph_id"),
                "seg_ord", "fingerprint", "merged_seg_ords")
    )
    e = (
        chain_edges.join(
            mapping.withColumnRenamed("graph_id", "src"), "src")
        .drop("src").withColumnRenamed("canon_id", "src")
        .join(mapping.withColumnRenamed("graph_id", "dst"), "dst")
        .drop("dst").withColumnRenamed("canon_id", "dst")
        .where(F.col("src") != F.col("dst"))
        .select(*_canon(F.col("src"), F.col("dst")), "weight", "binding")
        .dropDuplicates(["src", "dst"])
    )
    return merged, e


def link_cross_correlation(
    nodes: DataFrame,
    max_lag: int = 3,
    min_overlap: int = 3,
    round_dp: int = 6,
) -> DataFrame:
    """Lagged cross-correlation linking — L3 extended with a lag grid:
    for every a < b node pair, Pearson r between a[t] and b[t + lag]
    over the overlapping positions for each lag in [-max_lag, max_lag],
    keeping the single best lag per pair (|r| desc, then lag asc — the
    deterministic tie-break; r rounded to `round_dp` BEFORE ranking so
    engine and oracle order identically).  Lags with fewer than
    `min_overlap` overlapping points are skipped; zero-variance windows
    score r = 0 (the reference's NaN -> 0 contract,
    strategy_linking_multi_graphs.py:66-68).

    Output: (src, dst, lag, weight, binding='xcorr').  Physical plan:
    the same a < b self-join as link_correlation (broadcast at
    reference node counts), then a row-local Arrow kernel over the
    lag grid — no extra shuffle beyond the pair join."""
    if max_lag < 0 or min_overlap < 2:
        raise ValueError("max_lag must be >= 0 and min_overlap >= 2")
    return _map_segments(
        _value_pairs(nodes, "node_id"),
        "src string, dst string, lag int, weight double, binding string",
        _row_kernel([("lag", "int"), ("weight", "double"),
                     ("binding", "string")],
                    lambda _src, _dst, a, b: kernels.xcorr_best(
                        a, b, max_lag, min_overlap, round_dp)))
