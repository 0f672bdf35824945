"""Compressed chunk stage: tokens -> (ts_dod, val_gorilla) binary columns.

A map-only mapInArrow kernel (no shuffle) encodes each Arrow batch in one
vectorized pass: every (doc, chunk window) segment of the batch's points
goes through the codecs' segment encoders at once, so there is no per-doc
or per-row Python work.  Decode is the exact inverse, giving the pinned
per-row token-array-equality invariant (BASELINE.json input_hint).
Chunking: one chunk per (doc, chunk window) so a chunk's byte size stays
bounded regardless of series length; an empty tokens array still gives
one n=0 chunk at base_epoch.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from ts2g2_spark.functions import codecs
from ts2g2_spark.plans.points import BASE_EPOCH

CHUNK_SCHEMA = (
    "doc_id string, source string, chunk_id int, chunk_ts timestamp, "
    "n int, ts_dod binary, val_gorilla binary"
)
_CHUNK_COLS = [f.split()[0] for f in CHUNK_SCHEMA.split(", ")]
DECODE_SCHEMA = "doc_id string, tokens array<int>, n_tok int"


def _binary(encoded: tuple[np.ndarray, np.ndarray]) -> pa.Array:
    """(offsets, data) from a codecs segment encoder -> Arrow binary."""
    offsets, data = encoded
    if offsets[-1] >= 2**31:
        raise ValueError("chunk bytes of one Arrow batch exceed 2 GiB; "
                         "lower spark.sql.execution.arrow.maxRecordsPerBatch")
    return pa.Array.from_buffers(
        pa.binary(), len(offsets) - 1,
        [None, pa.py_buffer(offsets.astype(np.int32)), pa.py_buffer(data)])


def compress_chunks(
    df: DataFrame,
    step_seconds: int = 1,
    base_epoch: int = BASE_EPOCH,
    chunk_points: int = 4096,
    positions_col: str | None = None,
) -> DataFrame:
    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if not batch.num_rows:
                continue
            toks = batch.column("tokens")
            n = toks.value_lengths().fill_null(0).to_numpy().astype(np.int64)
            doc_start = np.cumsum(n) - n
            if positions_col is None:
                pos = np.arange(n.sum()) - np.repeat(doc_start, n)
            else:
                pos = batch.column(positions_col).flatten().to_numpy()
            ts = base_epoch + pos.astype(np.int64) * step_seconds
            # one segment per (doc, chunk window), at least one per doc
            nch = np.maximum(-(-n // chunk_points), 1)
            cdoc = np.repeat(np.arange(len(n)), nch)
            cid = np.arange(nch.sum()) - np.repeat(np.cumsum(nch) - nch, nch)
            clen = np.minimum(n[cdoc] - cid * chunk_points, chunk_points)
            first = np.full(len(cdoc), base_epoch, dtype=np.int64)
            full = clen > 0
            first[full] = ts[(doc_start[cdoc] + cid * chunk_points)[full]]
            vals = toks.flatten().to_numpy().astype(np.float64)
            yield pa.RecordBatch.from_arrays([
                batch.column("doc_id").take(cdoc),
                batch.column("source").take(cdoc),
                pa.array(cid, type=pa.int32()),
                pa.array(first * 1_000_000, type=pa.timestamp("us", tz="UTC")),
                pa.array(clen, type=pa.int32()),
                _binary(codecs.dod_encode_segments(ts, clen)),
                _binary(codecs.gorilla_encode_segments(vals, clen)),
            ], names=_CHUNK_COLS)

    return df.mapInArrow(kernel, schema=CHUNK_SCHEMA)


def decompress_chunks(chunks: DataFrame) -> DataFrame:
    """Inverse: chunks -> (doc_id, tokens, n_tok). Exact reconstruction.

    applyInPandas (not mapInPandas): a doc's chunks must be reassembled
    whole, and grouped-UDF semantics guarantee the full group per call even
    when a stored chunk table was split across files/batches."""
    import pandas as pd

    def kernel(g: pd.DataFrame) -> pd.DataFrame:
        g = g.sort_values("chunk_id")
        toks = (
            np.concatenate(
                [codecs.gorilla_decode(b).astype(np.int32)
                 for b in g["val_gorilla"]]
            )
            if len(g)
            else np.empty(0, np.int32)
        )
        return pd.DataFrame(
            {"doc_id": [g["doc_id"].iloc[0]], "tokens": [toks],
             "n_tok": [len(toks)]}
        )

    return chunks.groupBy("doc_id").applyInPandas(
        kernel, schema=DECODE_SCHEMA)
