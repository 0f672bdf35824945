"""ts -> graph operators as Spark DataFrame transforms.

Data contract — the "series frame": (series_key string, values
array<double>).  A series is row-local (one row = one whole series or one
segment), so every kernel below is one `mapInArrow` over Arrow batches with
ZERO shuffle.  Both emitters read a batch's `values` lengths and flat
float64 buffer once and build the output batch column-wise (series_key
gathered with `take`, numeric columns with `pa.array`) — no pandas and no
per-edge Python objects:

- `_map_segments` runs one segmented kernel from `kernels` over the whole
  batch (the flat buffer plus the series lengths), so numpy's per-call
  cost is paid once per batch, not once per series.  The HVG, NVG, OPG and
  QG edge sets (`visibility_edges`, `opg_edges`, `qg_edges`) use it, and
  so does `opg_edges_multivariate`, which builds each series' patterns
  per series but groups the batch's transitions in one call.
- `_map_series` runs a per-series kernel once per series on a slice of
  that buffer.  `proximity_edges`, `histogram` and the `graphmetrics`
  `*_from_series` metrics still use it.

Edges come out as rows keyed by series_key; adjacency is data, never a
driver-side object (SURVEY §1.2).  A null `values` row yields no output
rows.  A table that arrives as one row per point becomes a series frame
with `series_from_points` (one groupBy).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ts2g2_spark.operators import kernels

EDGE_SCHEMA = "series_key string, src long, dst long, weight double"
PAT_EDGE_SCHEMA = (
    "series_key string, src_pattern string, dst_pattern string, weight double"
)


# --------------------------------------------------------------- emitters
#: most points one segmented kernel call takes: a batch's rows are cut into
#: runs of at most this many points (a longer series runs alone), which
#: bounds kernel scratch such as HVG's ~log2(n) sparse-table levels
_SEGMENT_POINTS = 1 << 18


def _map_segments(
    df: DataFrame,
    schema: str,
    kernel: Callable[..., tuple[np.ndarray, dict[str, pa.Array]]],
    col: str = "values",
) -> DataFrame:
    """Map-only mapInArrow over `df` with one segmented kernel call per
    Arrow batch (per run of _SEGMENT_POINTS points).

    For a list<double> `col`, kernel(values, lengths) gets the run's flat
    float64 buffer and its row lengths (a null row has length 0); for a
    list<list<double>> `col`, kernel(rows) gets the batch's rows, each a
    list of float64 slices or None for a null row.  It returns (seg,
    columns): the row of each output row, in output order, and the output
    columns after series_key, which is gathered from the input with one
    `take`."""

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            for a, args in _row_runs(batch.column(col)):
                seg, cols = kernel(*args)
                if len(seg):
                    yield pa.RecordBatch.from_pydict({
                        "series_key": batch.column("series_key").take(
                            seg + a),
                        **cols,
                    })

    return df.mapInArrow(run, schema=schema)


def _row_runs(arr: pa.Array) -> Iterator[tuple[int, tuple]]:
    """(first row, kernel arguments) for each run of a batch column, as
    _map_segments hands them to its kernel."""
    if pa.types.is_list(arr.type.value_type):
        yield 0, (_slices(arr),)
        return
    lengths = arr.value_lengths().fill_null(0).to_numpy(
        zero_copy_only=False).astype(np.int64)
    values = np.asarray(arr.flatten().to_numpy(zero_copy_only=False),
                        np.float64)  # flatten skips null rows
    off = np.concatenate(([0], np.cumsum(lengths)))
    for a, b in _runs(off, _SEGMENT_POINTS):
        yield a, (values[off[a]:off[b]], lengths[a:b])


def _runs(off: np.ndarray, max_points: int) -> Iterator[tuple[int, int]]:
    """Consecutive row ranges [a, b) covering every row (row offsets
    `off`), each of at most max_points points or a single row."""
    a = 0
    while a < len(off) - 1:
        b = max(int(np.searchsorted(off, off[a] + max_points, "right")) - 1,
                a + 1)
        yield a, b
        a = b


def _slices(arr: pa.Array) -> list:
    """Each row of a list<double> column as a float64 slice of one flat
    buffer, None for a null row; a list<list<double>> row becomes a list of
    such slices."""
    lengths = arr.value_lengths().fill_null(0).to_numpy(zero_copy_only=False)
    off = np.concatenate(([0], np.cumsum(lengths, dtype=np.int64))).tolist()
    child = arr.flatten()  # skips the child ranges of null rows
    if pa.types.is_list(child.type):
        flat = _slices(child)
    else:
        flat = np.asarray(child.to_numpy(zero_copy_only=False), np.float64)
    valid = arr.is_valid().to_numpy(zero_copy_only=False).tolist()
    return [flat[a:b] if ok else None
            for a, b, ok in zip(off[:-1], off[1:], valid)]


def _map_series(
    df: DataFrame,
    schema: str,
    kernel: Callable,
    build: Callable[[list], dict[str, pa.Array]],
    col: str = "values",
) -> DataFrame:
    """The per-series emitter: a map-only mapInArrow over `df`.

    Per Arrow batch, kernel(y) runs once per non-null `col` row (a null row
    yields nothing) and returns a tuple of arrays whose first axis is that
    series' output rows; build(results) turns the batch's results into the
    output columns after series_key, which is gathered from the input with
    one `take`.  Used by the kernels that have no segmented form yet
    (proximity, histogram, the graphmetrics metrics)."""

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            rows, parts = [], []
            for i, y in enumerate(_slices(batch.column(col))):
                if y is not None:
                    rows.append(i)
                    parts.append(kernel(y))
            if not parts:
                continue
            take = np.repeat(rows, [len(p[0]) for p in parts])
            yield pa.RecordBatch.from_pydict({
                "series_key": batch.column("series_key").take(take),
                **build(parts),
            })

    return df.mapInArrow(run, schema=schema)


def _edge_arrays(e: np.ndarray, w: np.ndarray) -> dict[str, pa.Array]:
    """edges[m, 2], weights[m] -> src, dst, weight.  A NaN weight becomes
    null (an unweighted edge)."""
    e = e.reshape(-1, 2)
    return {
        "src": pa.array(e[:, 0], pa.int64()),
        "dst": pa.array(e[:, 1], pa.int64()),
        "weight": pa.array(w, pa.float64(), from_pandas=True),
    }


def _edge_columns(parts: list) -> dict[str, pa.Array]:
    """(edges[m, 2], weights[m]) per series -> src, dst, weight."""
    return _edge_arrays(np.concatenate([p[0] for p in parts]),
                        np.concatenate([p[1] for p in parts]))


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


def _list_rows(rows: np.ndarray, type_: pa.DataType) -> pa.Array:
    """2-D array -> Arrow list column, one list per row."""
    n, k = rows.shape
    return pa.ListArray.from_arrays(
        pa.array(np.arange(n + 1, dtype=np.int32) * k),
        pa.array(rows.ravel(), type_))


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
    schema = "series_key string, bin_edges array<double>, freqs array<long>"

    def kernel(y: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        f, b = np.histogram(y, bins)
        return b[None, :], f[None, :]

    def build(parts: list) -> dict[str, pa.Array]:
        return {
            "bin_edges": _list_rows(
                np.concatenate([p[0] for p in parts]), pa.float64()),
            "freqs": _list_rows(
                np.concatenate([p[1] for p in parts]), pa.int64()),
        }

    return _map_series(df, schema, kernel, build)


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

    def kernel(values: np.ndarray, lengths: np.ndarray):
        seg, e, w = kernels.visibility_graph_segmented(
            values, lengths, kind=kind, limit=limit, angle=angle,
            angle_abs=angle_abs, weighted=weighted, weight_abs=weight_abs)
        return seg, _edge_arrays(e, w)

    return _map_segments(df, EDGE_SCHEMA, kernel)


# ------------------------------------------- ordinal partition (G6/G7)
def opg_edges(
    df: DataFrame, w: int, tau: int, use_quantiles: bool = False, Q: int = 4
) -> DataFrame:
    """Ordinal-partition transition edges per series, one segmented kernel
    call per Arrow batch.  Patterns serialized as comma-joined rank
    strings, each distinct pattern formatted once."""

    def kernel(values: np.ndarray, lengths: np.ndarray):
        seg, pats, src, dst, wt = kernels.opg_edges_segmented(
            *kernels.ordinal_patterns_segmented(
                values, lengths, w, tau, use_quantiles=use_quantiles, Q=Q))
        return seg, _pattern_columns(pats, src, dst, wt)

    return _map_segments(df, PAT_EDGE_SCHEMA, kernel)


def opg_edges_multivariate(df: DataFrame, w: int, tau: int) -> DataFrame:
    """Multivariate OPG (G7, ref to_graph/strategies.py:72-94,107-126):
    per-variable up/down diff patterns concatenated variable-major, then
    the same transition aggregate (weight = count / #patterns).  Input
    frame: (series_key, variables array<array<double>>) — all variables of
    one multivariate series row-local, so the kernel stays map-only.

    The patterns are built per series; the transitions of a whole Arrow
    batch are grouped by one opg_edges_segmented call, with rows of
    different widths (variable counts) padded with -1."""

    def kernel(rows: list):
        mats = [kernels.multivariate_ordinal_patterns(s, w, tau)
                if s is not None else np.empty((0, 0), np.int64)
                for s in rows]
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

    return _map_segments(df, PAT_EDGE_SCHEMA, kernel, col="variables")


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
    if not counts:
        def kernel(values: np.ndarray, lengths: np.ndarray):
            seg, e, w = kernels.qg_edges_segmented(values, lengths, Q, phi)
            return seg, _edge_arrays(e, w)

        return _map_segments(df, EDGE_SCHEMA, kernel)

    def count_kernel(values: np.ndarray, lengths: np.ndarray):
        seg, e, c = kernels.qg_transitions_segmented(values, lengths, Q, phi)
        return seg, {"src": pa.array(e[:, 0], pa.int64()),
                     "dst": pa.array(e[:, 1], pa.int64()),
                     "w": pa.array(c, pa.int64())}

    return _map_segments(df, "series_key string, src long, dst long, w long",
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

    return _map_series(df, EDGE_SCHEMA, fn, _edge_columns)
