"""ts -> graph operators as Spark DataFrame transforms.

Data contract — the "series frame": (series_key string, values
array<double>).  A series is row-local (one row = one whole series or one
segment), so every kernel below is one map-only `mapInArrow` over Arrow
batches with ZERO shuffle, through the package's one emitter,
`emit._map_segments` (operators/emit.py): per run of an Arrow batch it
hands the kernel each column once (a list column as its flat numpy buffer
plus row offsets and validity, `Lists`), and builds the output batch
column-wise (series_key gathered with `take`, numeric columns with
`pa.array`) — no pandas and no per-edge Python objects.

- The HVG, NVG, OPG and QG edge sets (`visibility_edges`, `opg_edges`,
  `qg_edges`) run one segmented kernel from `kernels` over the whole run,
  so numpy's per-call cost is paid once per batch, not once per series;
  `opg_edges_multivariate` builds each series' patterns per series and
  groups the run's transitions in one call.
- Kernels with no segmented form (`proximity_edges`, `histogram`) run per
  row through `emit._row_kernel`, still inside that one emitter.

Edges come out as rows keyed by series_key; adjacency is data, never a
driver-side object (SURVEY §1.2).  A null `values` row yields no output
rows.  A table that arrives as one row per point becomes a series frame
with `series_from_points` (one groupBy).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ts2g2_spark.operators import kernels
from ts2g2_spark.operators.emit import Lists, _map_segments, _row_kernel

EDGE_SCHEMA = "series_key string, src long, dst long, weight double"
PAT_EDGE_SCHEMA = (
    "series_key string, src_pattern string, dst_pattern string, weight double"
)


def _edge_arrays(e: np.ndarray, w: np.ndarray) -> dict[str, pa.Array]:
    """edges[m, 2], weights[m] -> src, dst, weight.  A NaN weight becomes
    null (an unweighted edge)."""
    e = e.reshape(-1, 2)
    return {
        "src": pa.array(e[:, 0], pa.int64()),
        "dst": pa.array(e[:, 1], pa.int64()),
        "weight": pa.array(w, pa.float64(), from_pandas=True),
    }


def _pattern_columns(pats: np.ndarray, src: np.ndarray, dst: np.ndarray,
                    wt: np.ndarray) -> dict[str, pa.Array]:
    """Distinct pattern rows `pats` (padded with -1; ranks are >= 0) and
    each edge's src/dst row indices into them -> src_pattern, dst_pattern,
    weight.  Each distinct pattern is formatted once, as comma-joined
    ranks, and gathered with `take`."""
    text = pa.array([",".join(str(r) for r in row if r >= 0)
                     for row in pats.tolist()], pa.string())
    return {"src_pattern": text.take(src), "dst_pattern": text.take(dst),
            "weight": pa.array(wt, pa.float64())}


# ----------------------------------------------------------------- inputs
def series_from_tokens(df: DataFrame) -> DataFrame:
    """tokenized input table -> series frame (values = double(tokens))."""
    return df.select(
        F.col("doc_id").alias("series_key"),
        F.expr("transform(tokens, t -> cast(t as double))").alias("values"),
    )


def series_from_points(
    points: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    val_col: str = "value",
    order_col: str | None = None,
) -> DataFrame:
    """Row-per-point table -> series frame.  Deterministic point order by
    (ts, order_col).  One shuffle (groupBy key), then everything downstream
    is map-only."""
    okey = [F.col(ts_col)] + ([F.col(order_col)] if order_col else [])
    packed = F.array_sort(
        F.collect_list(F.struct(*okey, F.col(val_col).alias("v")))
    )
    return points.groupBy(
        F.col(key_col).cast("string").alias("series_key")
    ).agg(F.transform(packed, lambda s: s["v"]).alias("values"))


# ------------------------------------------------- preprocessing (P2/P3)
def segment(df: DataFrame, start: int, end: int) -> DataFrame:
    """Positional slice ts[start:end] (ref core/model.py:58-60). Catalyst
    slice(), no UDF."""
    return df.withColumn(
        "values", F.expr(f"slice(values, {start + 1}, {max(end - start, 0)})")
    )


def sliding_windows(
    df: DataFrame, win_size: int, move_len: int = 1
) -> DataFrame:
    """Sliding-window segmentation preserving the reference off-by-one
    (core/model.py:81-82: range(0, len-win, move) — the final window
    starting at len-win is DROPPED; len<=win -> no windows).

    Pure Catalyst: sequence() of starts + slice(); output one row per
    segment with seg_id = start index, series_key suffixed for downstream
    per-segment kernels."""
    return (
        df.where(F.size("values") > win_size)
        .select(
            "series_key",
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, size(values) - {win_size} - 1,"
                    f" {move_len}),"
                    f" s -> slice(values, s + 1, {win_size}))"
                )
            ).alias("seg_id", "seg_values"),
        )
        .select(
            "series_key",
            (F.col("seg_id") * move_len).cast("long").alias("start_idx"),
            F.col("seg_values").alias("values"),
        )
    )


def histogram(df: DataFrame, bins: int) -> DataFrame:
    """np.histogram per series (ref core/model.py:225-233), exact."""
    cols = [("bin_edges", "array<double>"), ("freqs", "array<long>")]

    def row(_key, y: np.ndarray) -> tuple[list, list]:
        f, b = np.histogram(y, bins)
        return [b], [f]

    return _map_segments(df.select("series_key", "values"),
                         "series_key string, bin_edges array<double>, "
                         "freqs array<long>", _row_kernel(cols, row))


# --------------------------------------------------- visibility (G1-G5)
def visibility_edges(
    df: DataFrame,
    kind: str = "natural",
    limit: int = 0,
    angle: float | None = None,
    angle_abs: bool = True,
    weighted: bool = False,
    weight_abs: bool = True,
) -> DataFrame:
    """NVG/HVG (+angle constraint, +angle weighting) edge rows.
    Map-only, one segmented kernel call per Arrow batch; per-series cost
    O(n^2) worst-case vectorized (reference is O(n^3) Python:
    to_graph/strategies.py:527-540)."""

    def kernel(_keys, v: Lists):
        seg, e, w = kernels.visibility_graph_segmented(
            v.values, v.lengths, kind=kind, limit=limit, angle=angle,
            angle_abs=angle_abs, weighted=weighted, weight_abs=weight_abs)
        return seg, _edge_arrays(e, w)

    return _map_segments(df.select("series_key", "values"), EDGE_SCHEMA,
                         kernel)


# ------------------------------------------- ordinal partition (G6/G7)
def opg_edges(
    df: DataFrame, w: int, tau: int, use_quantiles: bool = False, Q: int = 4
) -> DataFrame:
    """Ordinal-partition transition edges per series, one segmented kernel
    call per Arrow batch.  Patterns serialized as comma-joined rank
    strings, each distinct pattern formatted once."""

    def kernel(_keys, v: Lists):
        seg, pats, src, dst, wt = kernels.opg_edges_segmented(
            *kernels.ordinal_patterns_segmented(
                v.values, v.lengths, w, tau, use_quantiles=use_quantiles,
                Q=Q))
        return seg, _pattern_columns(pats, src, dst, wt)

    return _map_segments(df.select("series_key", "values"), PAT_EDGE_SCHEMA,
                         kernel)


def opg_edges_multivariate(df: DataFrame, w: int, tau: int) -> DataFrame:
    """Multivariate OPG (G7, ref to_graph/strategies.py:72-94,107-126):
    per-variable up/down diff patterns concatenated variable-major, then
    the same transition aggregate (weight = count / #patterns).  Input
    frame: (series_key, variables array<array<double>>) — all variables of
    one multivariate series row-local, so the kernel stays map-only.

    The patterns are built per series; the transitions of a whole Arrow
    batch are grouped by one opg_edges_segmented call, with rows of
    different widths (variable counts) padded with -1."""

    def kernel(_keys, v: Lists):
        mats = [kernels.multivariate_ordinal_patterns(s, w, tau)
                if s is not None else np.empty((0, 0), np.int64)
                for s in v.rows()]
        pats = np.full((sum(len(m) for m in mats),
                        max((m.shape[1] for m in mats), default=0)), -1,
                       np.int64)
        a = 0
        for m in mats:
            pats[a:a + len(m), :m.shape[1]] = m
            a += len(m)
        seg, uniq, src, dst, wt = kernels.opg_edges_segmented(
            pats, [len(m) for m in mats])
        return seg, _pattern_columns(uniq, src, dst, wt)

    return _map_segments(df.select("series_key", "variables"),
                         PAT_EDGE_SCHEMA, kernel)


# ------------------------------------------------- quantile graph (G8/G9)
def qg_edges(
    df: DataFrame, Q: int, phi: int = 1, counts: bool = False
) -> DataFrame:
    """Quantile-graph transition edges per series (G8): (series_key, src,
    dst, weight) with weight = count / transitions out of src, one
    segmented kernel call per Arrow batch.  A series holding a NaN or
    +-inf has no edges (its quantile bins are undefined).

    counts=True returns the raw integer transition counts as `w` (long)
    instead of `weight` — the exact integer form `generate.hash_walks`
    needs for its modular weighted choice (integer arithmetic end to end,
    no float weight on the walk path)."""
    series = df.select("series_key", "values")
    if not counts:
        def kernel(_keys, v: Lists):
            seg, e, w = kernels.qg_edges_segmented(
                v.values, v.lengths, Q, phi)
            return seg, _edge_arrays(e, w)

        return _map_segments(series, EDGE_SCHEMA, kernel)

    def count_kernel(_keys, v: Lists):
        seg, e, c = kernels.qg_transitions_segmented(
            v.values, v.lengths, Q, phi)
        return seg, {"src": pa.array(e[:, 0], pa.int64()),
                     "dst": pa.array(e[:, 1], pa.int64()),
                     "w": pa.array(c, pa.int64())}

    return _map_segments(
        series, "series_key string, src long, dst long, w long",
        count_kernel)


# ------------------------------------------------- proximity (G11-G15)
def proximity_edges(
    df: DataFrame,
    method: str = "cycle",
    segment_length: int = 10,
    threshold: float = 0.5,
    k: int = 5,
    epsilon: float = 0.5,
    recurrence_type: str = "epsilon",
    tie_order: str = "reference",
) -> DataFrame:
    """Proximity networks (ref to_graph/strategies.py:175-397), map-only.

    tie_order applies to recurrence_type="k-nnn" only (see
    kernels.proximity_knn_edges): "reference" = argsort bit-parity,
    "stable" = deterministic (dist, index) ties, SQL-oracle-expressible.
    """
    if method in ("cycle", "correlation"):
        fn = lambda y: kernels.proximity_cycle_edges(  # noqa: E731
            y, segment_length, threshold)
    elif method == "recurrence":
        if recurrence_type == "epsilon":
            fn = lambda y: kernels.proximity_epsilon_edges(y, epsilon)  # noqa
        elif recurrence_type == "k-nnn":
            fn = lambda y: kernels.proximity_knn_edges(  # noqa: E731
                y, k, tie_order=tie_order)
        elif recurrence_type == "annn":
            fn = lambda y: kernels.proximity_annn_edges(y, k)  # noqa: E731
        else:
            raise ValueError(recurrence_type)
    else:
        raise ValueError(method)

    def row(_key, y: np.ndarray) -> tuple[np.ndarray, ...]:
        e, w = fn(y)
        e = np.asarray(e).reshape(-1, 2)
        return e[:, 0], e[:, 1], w

    return _map_segments(
        df.select("series_key", "values"), EDGE_SCHEMA,
        _row_kernel([("src", "long"), ("dst", "long"), ("weight", "double")],
                    row))
