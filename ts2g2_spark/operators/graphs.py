"""ts -> graph operators as Spark DataFrame transforms.

Data contract — the "series frame": (series_key string, values
array<double>).  A series is row-local (one row = one whole series or one
segment), so every kernel below is one `mapInArrow` over Arrow batches with
ZERO shuffle, through the one emitter `_map_segments`: per run of an Arrow
batch it hands the kernel each column once (a list column as its flat
numpy buffer plus row offsets and validity, `Lists`), and builds the
output batch column-wise (series_key gathered with `take`, numeric columns
with `pa.array`) — no pandas and no per-edge Python objects.

- The HVG, NVG, OPG and QG edge sets (`visibility_edges`, `opg_edges`,
  `qg_edges`) run one segmented kernel from `kernels` over the whole run,
  so numpy's per-call cost is paid once per batch, not once per series;
  `opg_edges_multivariate` builds each series' patterns per series and
  groups the run's transitions in one call.
- Kernels with no segmented form (`proximity_edges`, `histogram`, the
  `generate` walkers, the `analytics` centralities) run per row through
  `_row_kernel`, still inside that one emitter.

Edges come out as rows keyed by series_key; adjacency is data, never a
driver-side object (SURVEY §1.2).  A null `values` row yields no output
rows.  A table that arrives as one row per point becomes a series frame
with `series_from_points` (one groupBy).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence
from typing import NamedTuple

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ts2g2_spark.operators import kernels

EDGE_SCHEMA = "series_key string, src long, dst long, weight double"
PAT_EDGE_SCHEMA = (
    "series_key string, src_pattern string, dst_pattern string, weight double"
)


# --------------------------------------------------------------- emitter
#: most points one kernel call takes: a batch's rows are cut into runs of
#: at most this many points (a longer series runs alone), which bounds
#: kernel scratch such as HVG's ~log2(n) sparse-table levels
_SEGMENT_POINTS = 1 << 18


class Lists(NamedTuple):
    """A list column's rows in one run: row r is values[off[r]:off[r+1]]
    (values is itself a Lists for a list<list<...>> column, else a numpy
    array of the column's element type).  A null row is empty and has
    valid[r] False."""

    values: np.ndarray | Lists
    off: np.ndarray
    valid: np.ndarray

    @property
    def lengths(self) -> np.ndarray:
        return np.diff(self.off)

    def rows(self) -> list:
        """Each row as a slice of values (a list of slices for a nested
        column), None for a null row."""
        flat = (self.values.rows() if isinstance(self.values, Lists)
                else self.values)
        off = self.off.tolist()
        return [flat[a:b] if ok else None
                for a, b, ok in zip(off[:-1], off[1:], self.valid.tolist())]

    def run(self, a: int, b: int) -> Lists:
        """Rows [a, b)."""
        lo, hi = int(self.off[a]), int(self.off[b])
        values = (self.values.run(lo, hi) if isinstance(self.values, Lists)
                  else self.values[lo:hi])
        return Lists(values, self.off[a:b + 1] - lo, self.valid[a:b])


def _column(arr: pa.Array):
    """A batch column as kernels get it: Lists for a list column, else a
    numpy array (object for strings)."""
    if not pa.types.is_list(arr.type):
        return arr.to_numpy(zero_copy_only=False)
    lengths = arr.value_lengths().fill_null(0).to_numpy(zero_copy_only=False)
    return Lists(_column(arr.flatten()),  # flatten skips null rows
                 np.concatenate(([0], np.cumsum(lengths, dtype=np.int64))),
                 arr.is_valid().to_numpy(zero_copy_only=False))


def _map_segments(
    df: DataFrame,
    schema: str,
    kernel: Callable[..., tuple[np.ndarray, dict[str, pa.Array]]],
) -> DataFrame:
    """Map-only mapInArrow over `df` with one kernel call per run of an
    Arrow batch (rows whose list columns hold at most _SEGMENT_POINTS
    elements in all, or one longer row).

    kernel gets one argument per column of `df`, in order: a list column
    as Lists, any other as a numpy array.  It returns (seg, columns): the
    run row of each output row, in output order, and the output columns
    after series_key, which is gathered from the input with one `take`."""

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            cols = [_column(c) for c in batch.columns]
            off = sum((c.off for c in cols if isinstance(c, Lists)),
                      np.zeros(batch.num_rows + 1, np.int64))
            for a, b in _runs(off, _SEGMENT_POINTS):
                seg, out = kernel(*(c.run(a, b) if isinstance(c, Lists)
                                    else c[a:b] for c in cols))
                if len(seg):
                    yield pa.RecordBatch.from_pydict({
                        "series_key": batch.column("series_key").take(
                            seg + a),
                        **out,
                    })

    return df.mapInArrow(run, schema=schema)


def _runs(off: np.ndarray, max_points: int) -> Iterator[tuple[int, int]]:
    """Consecutive row ranges [a, b) covering every row (row offsets
    `off`), each of at most max_points points or a single row."""
    a = 0
    while a < len(off) - 1:
        b = max(int(np.searchsorted(off, off[a] + max_points, "right")) - 1,
                a + 1)
        yield a, b
        a = b


#: Arrow type of each Spark type a row kernel emits
_ARROW = {"long": pa.int64(), "int": pa.int32(), "double": pa.float64(),
          "boolean": pa.bool_(), "array<double>": pa.list_(pa.float64()),
          "array<long>": pa.list_(pa.int64()),
          "array<string>": pa.list_(pa.string())}


def _stack(rows: list[int], parts: list[Sequence], types: Sequence[str]
           ) -> tuple[np.ndarray, list[pa.Array]]:
    """parts[k] holds run row rows[k]'s output: one sequence per output
    column (Spark types `types`), all of its output-row count -> (seg,
    output columns).  A None or NaN double, in a list or not, becomes
    null."""
    seg = np.repeat(np.asarray(rows, np.int64), [len(p[0]) for p in parts])
    cols = []
    for k, t in enumerate(types):
        at = _ARROW[t]
        if pa.types.is_list(at):
            vals = [x for p in parts for x in p[k]]
        else:
            dt = at.to_pandas_dtype()
            vals = np.concatenate([np.asarray(p[k], dt) for p in parts]
                                  or [np.empty(0, dt)])
        cols.append(pa.array(vals, at, from_pandas=True))
    return seg, cols


def _row_kernel(cols: Sequence[tuple[str, str]], f: Callable[..., Sequence]
                ) -> Callable:
    """A _map_segments kernel that runs f once per row whose list columns
    are all non-null (a null list row yields no output rows).  f gets that
    row's value of each column (a list row as a numpy slice, a nested one
    as a list of slices) and returns one sequence per (name, Spark type)
    of `cols`, all of the row's output-row count."""
    names = [n for n, _ in cols]
    types = [t for _, t in cols]

    def kernel(*args):
        lists = [isinstance(a, Lists) for a in args]
        rows, parts = [], []
        for i, row in enumerate(zip(*(a.rows() if isl else a
                                      for a, isl in zip(args, lists)))):
            if not any(x is None for x, isl in zip(row, lists) if isl):
                rows.append(i)
                parts.append(f(*row))
        seg, out = _stack(rows, parts, types)
        return seg, dict(zip(names, out))

    return kernel


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
