"""Multimodal binary-column plumbing (schemas, batching, UDF signatures);
decode itself is a deterministic fake (no media libs in this container)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from ts2g2_spark.operators import multimodal as mm


@pytest.fixture(scope="module")
def media(spark):
    rng = np.random.default_rng(77)
    rows = []
    for i in range(6):
        payload = bytes(rng.integers(0, 256, 128, dtype=np.uint8))
        rows.append((f"img{i}", "image", payload, 32, 24, None, None))
    rows.append(("img_dup", "image", rows[0][2], 32, 24, None, None))
    rows.append(("vid0", "video",
                 bytes(rng.integers(0, 256, 256, dtype=np.uint8)),
                 8, 8, None, 25))
    rows.append(("aud0", "audio",
                 bytes(rng.integers(0, 256, 64, dtype=np.uint8)),
                 None, None, 16000, None))
    return spark.createDataFrame(rows, mm.MEDIA_SCHEMA)


def test_metadata_and_exact_dedup(spark, media):
    """Exact duplicates group by content hash, and the payload bytes
    never enter the dedup shuffle."""
    groups = mm.exact_media_dedup(media).collect()
    assert len(groups) == 1
    assert groups[0].members == ["img0", "img_dup"]
    # payload binary never enters the dedup shuffle: the Exchange operator
    # itself must not carry the payload column (children print BELOW it in
    # the plan string, so inspect the Exchange line only)
    plan = mm.exact_media_dedup(
        spark.createDataFrame([], mm.MEDIA_SCHEMA))._jdf \
        .queryExecution().executedPlan().toString()
    exchange_lines = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert exchange_lines
    assert all("payload" not in ln for ln in exchange_lines)


def test_extract_features_deterministic(spark, media):
    f1 = {r.media_id: r.feature
          for r in mm.extract_features(media, feat_dim=16).collect()}
    f2 = {r.media_id: r.feature
          for r in mm.extract_features(media, feat_dim=16).collect()}
    assert f1 == f2  # deterministic fake decode
    assert all(len(v) == 16 for v in f1.values())
    assert f1["img0"] == f1["img_dup"]  # same bytes -> same feature
    assert f1["img0"] != f1["img1"]


def test_extract_features_stub_marker(spark, media):
    with pytest.raises(NotImplementedError):
        mm.extract_features(media, decoder=None)


def test_custom_decoder(spark, media):
    def dec(payload, kind):
        return np.full((4, 4), len(payload), dtype=np.float32)

    f = {r.media_id: r.feature
         for r in mm.extract_features(media, feat_dim=4,
                                      decoder=dec).collect()}
    assert f["img0"] == [128.0, 128.0, 128.0, 128.0]


# ------------------------------------------------- real codec decode

from ts2g2_spark.functions import mediacodec as mc  # noqa: E402


def test_bmp_roundtrip_padded_and_topdown():
    rng = np.random.default_rng(3)
    # w=3 forces 3-byte row padding (stride 12 for 9 payload bytes)
    px = rng.integers(0, 256, size=(5, 3, 3), dtype=np.uint8)
    assert np.array_equal(mc.decode_bmp(mc.encode_bmp(px)), px)
    # grayscale encode replicates channels; decode returns (H, W, 3)
    g = rng.integers(0, 256, size=(4, 7), dtype=np.uint8)
    back = mc.decode_bmp(mc.encode_bmp(g))
    assert np.array_equal(back[..., 0], g)
    assert np.array_equal(back[..., 1], back[..., 2])
    # hand-build a TOP-DOWN 24bpp BMP (negative height) and check order
    import struct
    body = mc.encode_bmp(px)
    # flip the stored rows to top-down order + negate height
    h, w = px.shape[:2]
    stride = ((24 * w + 31) // 32) * 4
    pix_off = 54
    rows = np.frombuffer(body[pix_off:], dtype=np.uint8).reshape(h, stride)
    td = (body[:22] + struct.pack("<i", -h) + body[26:pix_off]
          + rows[::-1].tobytes())
    assert np.array_equal(mc.decode_bmp(td), px)


def test_bmp_unsupported_raises():
    import struct
    px = np.zeros((2, 2, 3), dtype=np.uint8)
    body = bytearray(mc.encode_bmp(px))
    struct.pack_into("<I", body, 30, 1)  # BI_RLE8
    with pytest.raises(NotImplementedError):
        mc.decode_bmp(bytes(body))
    with pytest.raises(ValueError):
        mc.decode_bmp(b"not a bmp at all" * 10)


def test_pnm_roundtrip_and_comments():
    rng = np.random.default_rng(4)
    g = rng.integers(0, 256, size=(6, 9), dtype=np.uint8)
    assert np.array_equal(mc.decode_pnm(mc.encode_pgm(g)), g)
    c = rng.integers(0, 256, size=(3, 5, 3), dtype=np.uint8)
    assert np.array_equal(mc.decode_pnm(mc.encode_ppm(c)), c)
    # header comments are legal netpbm
    withc = b"P5\n# a comment\n9 6\n# more\n255\n" + g.tobytes()
    assert np.array_equal(mc.decode_pnm(withc), g)
    with pytest.raises(NotImplementedError):
        mc.decode_pnm(b"P5\n2 2\n65535\n" + b"\x00" * 8)


def test_wav_roundtrip_mono_stereo():
    rng = np.random.default_rng(5)
    mono = rng.integers(-32768, 32767, size=100, dtype=np.int16)
    rate, back = mc.decode_wav(mc.encode_wav(8000, mono))
    assert rate == 8000 and np.array_equal(back, mono)
    stereo = rng.integers(-32768, 32767, size=(50, 2), dtype=np.int16)
    rate, back = mc.decode_wav(mc.encode_wav(44100, stereo))
    assert rate == 44100 and back.shape == (50, 2)
    assert np.array_equal(back, stereo)


def test_sniff_and_compressed_raise():
    assert mc.sniff_kind(mc.encode_pgm(np.zeros((2, 2), np.uint8))) == "pgm"
    assert mc.sniff_kind(mc.encode_bmp(np.zeros((2, 2), np.uint8))) == "bmp"
    assert mc.sniff_kind(
        mc.encode_wav(8000, np.zeros(4, np.int16))) == "wav"
    for magic, kind in [(b"\x89PNG\r\n", "png"),
                        (b"\xff\xd8\xff\xe0", "jpeg"), (b"GIF89a", "gif")]:
        assert mc.sniff_kind(magic + b"rest") == kind
        with pytest.raises(NotImplementedError, match=kind):
            mc.decode_media(magic + b"rest", "image")
    with pytest.raises(NotImplementedError):
        mc.decode_media(b"garbage bytes", "image")


def test_luma_exact_integer():
    px = np.array([[[255, 0, 0], [0, 255, 0], [0, 0, 255],
                    [10, 20, 30]]], dtype=np.uint8)
    expect = [255 * 299 // 1000, 255 * 587 // 1000, 255 * 114 // 1000,
              (10 * 299 + 20 * 587 + 30 * 114) // 1000]
    assert mc.luma(px).tolist() == [expect]


@pytest.fixture(scope="module")
def codec_media(spark):
    """Real self-contained payloads: PGM + BMP images, a WAV clip."""
    rng = np.random.default_rng(11)
    g = rng.integers(0, 256, size=(8, 8), dtype=np.uint8)
    c = rng.integers(0, 256, size=(6, 6, 3), dtype=np.uint8)
    s = rng.integers(-1000, 1000, size=64, dtype=np.int16)
    rows = [
        ("pgm0", "image", mc.encode_pgm(g), 8, 8, None, None),
        ("bmp0", "image", mc.encode_bmp(c), 6, 6, None, None),
        ("wav0", "audio", mc.encode_wav(8000, s), None, None, 8000, None),
    ]
    df = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    return df, g, c, s


def _pool(flat, feat_dim):
    flat = flat.astype(np.float32)
    pad = (-len(flat)) % feat_dim
    if pad:
        flat = np.pad(flat, (0, pad))
    return flat.reshape(feat_dim, -1).mean(axis=1)


def test_extract_features_codec_real_pixels(spark, codec_media):
    df, g, c, s = codec_media
    feats = {r.media_id: np.array(r.feature) for r in
             mm.extract_features(df, feat_dim=16,
                                 decoder="codec").collect()}
    assert np.array_equal(feats["pgm0"], _pool(g.ravel(), 16))
    assert np.array_equal(feats["bmp0"], _pool(mc.luma(c).ravel(), 16))
    assert np.array_equal(feats["wav0"], _pool(s, 16))
