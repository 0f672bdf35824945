"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

Spark-side design (the part that matters at 100 TB) is real and tested:
schemas, partitioning, Arrow batch shapes, and the mapInPandas UDF
signatures all match what a production decode would use.  Decoding comes
in three tiers behind the `decoder=` hooks:

  * decoder="codec"       -> REAL pure-numpy decode of self-contained
                             formats (uncompressed BMP, binary PGM/PPM,
                             PCM WAV — functions/mediacodec.py); the
                             format is sniffed from the payload magic.
                             Compressed formats (PNG/JPEG/GIF, video)
                             raise NotImplementedError naming the
                             missing dependency — pillow/ffmpeg are not
                             in this container.
  * decoder="fake"        -> deterministic fake decode derived from the
                             bytes (crc-seeded), so tests pin the
                             plumbing end-to-end with stable values for
                             ANY payload, compressed included
  * decoder=None          -> NotImplementedError (explicit stub marker)

A real deployment passes its own `decoder` callable with the same
signature `(payload, kind) -> np.ndarray`; nothing else changes.
"""

from __future__ import annotations

import zlib
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "media_id string, kind string, payload binary, "
    "width int, height int, sample_rate int, n_frames int"
)
FEATURE_SCHEMA = (
    "media_id string, kind string, feature array<float>, feat_dim int"
)


def _fake_pixels(payload: bytes, h: int, w: int) -> np.ndarray:
    """Deterministic fake decode: pixel grid seeded by the payload crc."""
    rng = np.random.default_rng(zlib.crc32(payload))
    return rng.integers(0, 256, size=(h, w), dtype=np.uint8)


def exact_media_dedup(media: DataFrame, bytes_col: str = "payload"
                      ) -> DataFrame:
    """Exact duplicate groups by content hash — hash-groupBy, the shuffle
    carries (hash, id), never the payload bytes (column pruning keeps the
    binary out of the exchange)."""
    h = media.select("media_id", F.xxhash64(F.col(bytes_col)).alias("h"))
    return (
        h.groupBy("h").agg(
            F.sort_array(F.collect_list("media_id")).alias("members"),
            F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
    )


def extract_features(
    media: DataFrame,
    feat_dim: int = 64,
    decoder: Callable[[bytes, str], np.ndarray] | str | None = "fake",
    batch_limit_bytes: int = 64 << 20,
) -> DataFrame:
    """Decode + featurize each media row inside Arrow batches.

    The UDF receives payload bytes per row; batches are bounded by the
    session's arrow.maxRecordsPerBatch so executor memory stays flat
    regardless of table size.  Feature = mean-pooled pixel/sample blocks:
    block j of feat_dim is the mean of the j-th contiguous slice of the
    flattened (zero-padded) pixel/sample array — simple, deterministic,
    and SQL-replayable, which is what lets `media_features_real` in the
    entry contract value-check the decode path end to end.

    decoder="codec" decodes REAL self-contained payloads (BMP/PGM/PPM
    pixels — RGB reduced to integer luma before pooling — and PCM WAV
    samples); "fake" is the crc-seeded deterministic stub; a callable
    plugs in with the signature `(payload, kind) -> np.ndarray`."""
    if decoder is None:
        raise NotImplementedError(
            "media decoding requires pillow/ffmpeg — not available in this "
            "container; pass decoder='codec' (self-contained formats), "
            "'fake' (deterministic stub) or a callable")

    def _decode(payload: bytes, kind: str) -> np.ndarray:
        if callable(decoder):
            return decoder(payload, kind)
        if decoder == "codec":
            from ts2g2_spark.functions import mediacodec

            arr = mediacodec.decode_media(payload, kind)
            if arr.ndim == 3:
                arr = mediacodec.luma(arr)
            return arr.astype(np.float32)
        return _fake_pixels(payload, 32, 32).astype(np.float32)

    def kern(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                arr = _decode(bytes(r.payload), r.kind)
                flat = arr.astype(np.float32).ravel()
                # mean-pool into feat_dim blocks (pad to a multiple)
                pad = (-len(flat)) % feat_dim
                if pad:
                    flat = np.pad(flat, (0, pad))
                feat = flat.reshape(feat_dim, -1).mean(axis=1)
                rows.append({"media_id": r.media_id, "kind": r.kind,
                             "feature": feat, "feat_dim": feat_dim})
            if rows:
                yield pd.DataFrame(rows)

    return media.select("media_id", "kind", "payload").mapInPandas(
        kern, schema=FEATURE_SCHEMA)
