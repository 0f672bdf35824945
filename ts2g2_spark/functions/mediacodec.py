"""Pure-numpy codecs for self-contained media formats.

The multimodal operators (operators/multimodal.py) treat media as opaque
binary + typed metadata; this module supplies REAL decode for the
formats that need no external library — uncompressed BMP, binary PPM/PGM
(netpbm P5/P6), and PCM WAV — so `extract_features` can compute from
actual pixels/samples instead of the deterministic fake.
Compressed formats (PNG/JPEG/GIF, any video codec) still raise
NotImplementedError with the magic spelled out: the sandbox ships no
pillow/ffmpeg, and silently faking a decode for real compressed data
would be worse than refusing.

Everything here is deterministic and byte-exact: decode(encode(x)) == x
is pinned by tests/test_multimodal.py round-trips, which is what lets a
SQL oracle value-check the whole decode path by recomputing features
from the pre-encode pixel values (`media_features_real` in
__spark_entry__.py).

No counterpart exists in the reference repo (it has no media operators);
this backs the training-data-pipeline multimodal surface only.
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = [
    "sniff_kind", "decode_bmp", "encode_bmp", "decode_pnm", "encode_pgm",
    "encode_ppm", "decode_wav", "encode_wav", "decode_media", "luma",
]

_MAGIC = (
    (b"BM", "bmp"),
    (b"P5", "pgm"),
    (b"P6", "ppm"),
    (b"\x89PNG", "png"),
    (b"\xff\xd8\xff", "jpeg"),
    (b"GIF8", "gif"),
)

_COMPRESSED_HINT = {
    "png": "PNG is DEFLATE-compressed — needs zlib+filter reconstruction "
           "or pillow",
    "jpeg": "JPEG needs a DCT decoder (pillow/libjpeg)",
    "gif": "GIF is LZW-compressed (pillow)",
}


def sniff_kind(payload: bytes) -> str:
    """Classify a payload by magic bytes: 'bmp' | 'pgm' | 'ppm' | 'wav' |
    'png' | 'jpeg' | 'gif' | 'unknown'."""
    for magic, kind in _MAGIC:
        if payload[: len(magic)] == magic:
            return kind
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return "wav"
    return "unknown"


# ---------------------------------------------------------------- BMP

def decode_bmp(payload: bytes) -> np.ndarray:
    """Decode an uncompressed (BI_RGB) BMP.

    Supports 8-bit palettized (returns (H, W, 3) via palette lookup —
    or (H, W) when the palette is pure grayscale), 24-bit and 32-bit.
    Handles bottom-up (positive height) and top-down (negative height)
    row order and the 4-byte row padding.  Raises NotImplementedError
    for RLE/bitfields compression."""
    if payload[:2] != b"BM":
        raise ValueError("decode_bmp: not a BMP (missing 'BM' magic)")
    if len(payload) < 54:
        raise ValueError("decode_bmp: truncated header")
    pix_off = struct.unpack_from("<I", payload, 10)[0]
    hdr_size = struct.unpack_from("<I", payload, 14)[0]
    if hdr_size < 40:
        raise NotImplementedError(
            f"decode_bmp: core-header BMP (DIB size {hdr_size}) unsupported")
    width, height = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    compression = struct.unpack_from("<I", payload, 30)[0]
    if compression != 0:
        raise NotImplementedError(
            f"decode_bmp: compression {compression} (RLE/bitfields) "
            "unsupported — BI_RGB only")
    top_down = height < 0
    height = abs(height)
    if width <= 0 or height <= 0:
        raise ValueError("decode_bmp: non-positive dimensions")
    if bpp not in (8, 24, 32):
        raise NotImplementedError(f"decode_bmp: {bpp}bpp unsupported")
    stride = ((bpp * width + 31) // 32) * 4
    need = pix_off + stride * height
    if len(payload) < need:
        raise ValueError("decode_bmp: truncated pixel data")
    raw = np.frombuffer(payload, dtype=np.uint8,
                        count=stride * height, offset=pix_off)
    rows = raw.reshape(height, stride)
    if not top_down:
        rows = rows[::-1]
    if bpp == 8:
        n_colors = struct.unpack_from("<I", payload, 46)[0] or 256
        pal_off = 14 + hdr_size
        pal = np.frombuffer(payload, dtype=np.uint8,
                            count=4 * n_colors, offset=pal_off)
        pal = pal.reshape(n_colors, 4)[:, :3][:, ::-1]  # BGRA -> RGB
        idx = rows[:, :width]
        out = pal[idx]  # (H, W, 3)
        if np.all(out[..., 0] == out[..., 1]) and np.all(
                out[..., 1] == out[..., 2]):
            return np.ascontiguousarray(out[..., 0])
        return np.ascontiguousarray(out)
    ch = bpp // 8
    px = rows[:, : width * ch].reshape(height, width, ch)
    rgb = px[..., :3][..., ::-1]  # BGR(A) -> RGB, alpha dropped
    return np.ascontiguousarray(rgb)


def encode_bmp(px: np.ndarray) -> bytes:
    """Encode (H, W) grayscale or (H, W, 3) RGB uint8 as a 24-bit
    bottom-up BI_RGB BMP (the most interoperable variant)."""
    px = np.asarray(px, dtype=np.uint8)
    if px.ndim == 2:
        px = np.repeat(px[:, :, None], 3, axis=2)
    if px.ndim != 3 or px.shape[2] != 3:
        raise ValueError("encode_bmp: need (H, W) or (H, W, 3) uint8")
    h, w = px.shape[:2]
    stride = ((24 * w + 31) // 32) * 4
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = px[::-1, :, ::-1].reshape(h, w * 3)  # RGB -> BGR
    data = rows.tobytes()
    pix_off = 14 + 40
    header = b"BM" + struct.pack("<IHHI", pix_off + len(data), 0, 0,
                                 pix_off)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data),
                      2835, 2835, 0, 0)
    return header + dib + data


# ------------------------------------------------------------- netpbm

def _pnm_token(payload: bytes, pos: int) -> tuple[bytes, int]:
    """Next whitespace-delimited header token, skipping '#' comments."""
    n = len(payload)
    while pos < n:
        c = payload[pos:pos + 1]
        if c == b"#":
            while pos < n and payload[pos:pos + 1] != b"\n":
                pos += 1
        elif c.isspace():
            pos += 1
        else:
            break
    start = pos
    while pos < n and not payload[pos:pos + 1].isspace():
        pos += 1
    if start == pos:
        raise ValueError("decode_pnm: truncated header")
    return payload[start:pos], pos


def decode_pnm(payload: bytes) -> np.ndarray:
    """Decode binary netpbm: P5 (PGM, returns (H, W)) or P6 (PPM,
    returns (H, W, 3)).  Header comments allowed; maxval must be
    <= 255 (16-bit netpbm raises — keep the honest limit explicit)."""
    magic = payload[:2]
    if magic not in (b"P5", b"P6"):
        raise ValueError("decode_pnm: not binary PGM/PPM (P5/P6)")
    pos = 2
    w_tok, pos = _pnm_token(payload, pos)
    h_tok, pos = _pnm_token(payload, pos)
    m_tok, pos = _pnm_token(payload, pos)
    w, h, maxval = int(w_tok), int(h_tok), int(m_tok)
    if maxval > 255:
        raise NotImplementedError(
            "decode_pnm: 16-bit netpbm (maxval > 255) unsupported")
    if w <= 0 or h <= 0 or maxval <= 0:
        raise ValueError("decode_pnm: bad dimensions/maxval")
    pos += 1  # exactly one whitespace byte after maxval per spec
    ch = 1 if magic == b"P5" else 3
    count = w * h * ch
    if len(payload) < pos + count:
        raise ValueError("decode_pnm: truncated pixel data")
    px = np.frombuffer(payload, dtype=np.uint8, count=count, offset=pos)
    return px.reshape(h, w) if ch == 1 else px.reshape(h, w, 3)


def encode_pgm(px: np.ndarray) -> bytes:
    """Encode (H, W) uint8 grayscale as binary PGM (P5)."""
    px = np.asarray(px, dtype=np.uint8)
    if px.ndim != 2:
        raise ValueError("encode_pgm: need (H, W) uint8")
    h, w = px.shape
    return b"P5\n%d %d\n255\n" % (w, h) + px.tobytes()


def encode_ppm(px: np.ndarray) -> bytes:
    """Encode (H, W, 3) uint8 RGB as binary PPM (P6)."""
    px = np.asarray(px, dtype=np.uint8)
    if px.ndim != 3 or px.shape[2] != 3:
        raise ValueError("encode_ppm: need (H, W, 3) uint8")
    h, w = px.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + px.tobytes()


# ---------------------------------------------------------------- WAV

def decode_wav(payload: bytes) -> tuple[int, np.ndarray]:
    """Decode a PCM RIFF/WAVE payload -> (sample_rate, samples).

    Samples are (n,) mono or (n, channels) — int16 for 16-bit PCM,
    uint8 for 8-bit.  Chunk-walks the RIFF container (fmt before data,
    unknown chunks skipped, odd sizes padded per spec).  Non-PCM
    (float/ADPCM/extensible) raises NotImplementedError."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("decode_wav: not a RIFF/WAVE payload")
    pos, n = 12, len(payload)
    fmt = None
    data = None
    while pos + 8 <= n:
        cid = payload[pos:pos + 4]
        csz = struct.unpack_from("<I", payload, pos + 4)[0]
        body = payload[pos + 8: pos + 8 + csz]
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + csz + (csz & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("decode_wav: missing fmt/data chunk")
    audio_format, channels, rate, _, _, bits = fmt
    if audio_format != 1:
        raise NotImplementedError(
            f"decode_wav: format {audio_format} unsupported — "
            "integer PCM (1) only")
    if bits == 16:
        samples = np.frombuffer(data, dtype="<i2",
                                count=len(data) // 2).astype(np.int16)
    elif bits == 8:
        samples = np.frombuffer(data, dtype=np.uint8)
    else:
        raise NotImplementedError(f"decode_wav: {bits}-bit PCM unsupported")
    if channels > 1:
        usable = (len(samples) // channels) * channels
        samples = samples[:usable].reshape(-1, channels)
    return rate, samples


def encode_wav(rate: int, samples: np.ndarray) -> bytes:
    """Encode (n,) or (n, channels) int16 samples as 16-bit PCM WAV."""
    s = np.asarray(samples, dtype="<i2")
    channels = 1 if s.ndim == 1 else s.shape[1]
    data = s.tobytes()
    fmt = struct.pack("<HHIIHH", 1, channels, rate,
                      rate * channels * 2, channels * 2, 16)
    body = (b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


# ----------------------------------------------------------- dispatch

def luma(px: np.ndarray) -> np.ndarray:
    """Integer luma for RGB -> grayscale: (299 r + 587 g + 114 b) // 1000
    — exact integer arithmetic, so an oracle replays it bit-identically
    (no float rounding ambiguity)."""
    if px.ndim == 2:
        return px
    p = px.astype(np.int64)
    return ((299 * p[..., 0] + 587 * p[..., 1] + 114 * p[..., 2])
            // 1000).astype(np.uint8)


def decode_media(payload: bytes, kind: str) -> np.ndarray:
    """The `decoder='codec'` hook for the multimodal operators: sniff the
    real format by magic (`kind` is advisory metadata, magic wins) and
    return pixels (images: (H, W) or (H, W, 3) uint8) or raw samples
    (audio: float32 of the integer PCM values).  Compressed formats
    raise NotImplementedError naming the missing dependency."""
    sniffed = sniff_kind(bytes(payload))
    if sniffed == "bmp":
        return decode_bmp(payload)
    if sniffed in ("pgm", "ppm"):
        return decode_pnm(payload)
    if sniffed == "wav":
        _, samples = decode_wav(payload)
        return samples.astype(np.float32)
    if sniffed in _COMPRESSED_HINT:
        raise NotImplementedError(
            f"decode_media: {sniffed} unsupported here — "
            f"{_COMPRESSED_HINT[sniffed]}")
    raise NotImplementedError(
        f"decode_media: unrecognized payload (kind hint '{kind}') — "
        "self-contained BMP/PGM/PPM/WAV only; compressed formats need "
        "pillow/ffmpeg")
