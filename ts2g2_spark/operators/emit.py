"""The one Arrow emitter for per-series Python kernels.

A series (or a pair of series) is row-local, so a per-series kernel is one
map-only `mapInArrow` over Arrow batches, through `_map_segments`: per run
of an Arrow batch it hands the kernel each column once (a list column as
its flat numpy buffer plus row offsets and validity, `Lists`), and builds
the output batch column-wise.  Each output column the kernel returns is
taken as it is; every other one is gathered with `take` from the input
column of the same name (series keys, timestamps carried through).  No
pandas and no per-row Python objects on the way in or out.

Kernels with no vectorized form run once per row through `_row_kernel`,
still inside that one emitter; a null list row yields no output rows.

This module imports only numpy, pyarrow and pyspark, so a Python worker
that runs a kernel pays no import of the graph kernels it does not use.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence
from typing import NamedTuple

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

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
    schema: str | StructType,
    kernel: Callable[..., tuple[np.ndarray, dict[str, pa.Array]]],
) -> DataFrame:
    """Map-only mapInArrow over `df` with one kernel call per run of an
    Arrow batch (rows whose list columns hold at most _SEGMENT_POINTS
    elements in all, or one longer row).

    kernel gets one argument per column of `df`, in order: a list column
    as Lists, any other as a numpy array.  It returns (seg, columns): the
    run row of each output row, in output order, and some of the output
    columns by name.  Every output column of `schema` it does not return
    is gathered from the input column of the same name with one `take`."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    names = schema.fieldNames()

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
                        n: out[n] if n in out
                        else batch.column(n).take(seg + a) for n in names})

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
          "boolean": pa.bool_(), "string": pa.string(),
          "array<double>": pa.list_(pa.float64()),
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
