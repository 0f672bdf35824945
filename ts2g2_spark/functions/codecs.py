"""Chunk codecs: delta-of-delta timestamps + Gorilla XOR values.

Both codecs follow the Facebook Gorilla paper (Pelkonen et al., VLDB 2015):
timestamps are delta-of-delta encoded, values are XORed with their
predecessor and only the meaningful bytes stored.  One deliberate,
documented deviation from the paper's bit-level layout: we use a
STREAM-SPLIT, BYTE-ALIGNED layout (a control-byte stream + a payload-byte
stream) instead of interleaved variable-bit fields.  Rationale: the decode
side of the bit-interleaved format is inherently sequential (each field's
position depends on the previous field), which forces a per-value Python
loop; the stream-split layout makes BOTH encode and decode fully
vectorizable with numpy (cumsum over control bytes -> gather), which is the
whole game for Arrow-batched UDF throughput.  Compression is within ~12% of
bit-packed Gorilla on typical monotone-timestamp/slow-moving-value data and
the round-trip is EXACT (bit-for-bit), which is the pinned invariant
(BASELINE.json input_hint: per-row token-array equality).

Layout (little-endian):
  dod:     [n: uint32][controls: n bytes][payload: sum(controls) bytes]
           controls[i] = number of significant bytes (0..9) of
           zigzag(dod_i); first two entries carry zigzag(t0), zigzag(d1).
  gorilla: [n: uint32][controls: n bytes][payload: ...]
           controls[i] = (offset << 4) | nbytes of xor_i where offset is
           the index of the lowest significant byte; xor_0 is the raw
           first value.  control 0x00 == identical value (xor == 0).
"""

from __future__ import annotations

import numpy as np

_U64 = np.uint64
_MASK = np.uint64(0xFF)


def _zigzag(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.int64)
    return ((v << 1) ^ (v >> 63)).astype(np.uint64)


def _unzigzag(u: np.ndarray) -> np.ndarray:
    u = u.astype(np.uint64)
    return ((u >> np.uint64(1)).astype(np.int64)) ^ -(u & np.uint64(1)).astype(np.int64)


def _sig_bytes(u: np.ndarray) -> np.ndarray:
    """Number of significant bytes of each uint64 (0 for value 0)."""
    nb = np.zeros(len(u), dtype=np.uint8)
    x = u.copy()
    while True:
        nz = x != 0
        if not nz.any():
            break
        nb[nz] += 1
        x = x >> np.uint64(8)
    return nb


def _pack_bytes(u: np.ndarray, nbytes: np.ndarray) -> np.ndarray:
    """Serialize the low `nbytes[i]` bytes of u[i], concatenated. Vectorized:
    expand each value to its 8 LE bytes, then mask-select."""
    if len(u) == 0:
        return np.empty(0, dtype=np.uint8)
    b = u[:, None] >> (np.uint64(8) * np.arange(8, dtype=np.uint64))[None, :]
    b = (b & _MASK).astype(np.uint8)  # (n, 8) LE bytes
    sel = np.arange(8, dtype=np.uint8)[None, :] < nbytes[:, None]
    return b[sel]


def _unpack_bytes(payload: np.ndarray, nbytes: np.ndarray) -> np.ndarray:
    """Inverse of _pack_bytes: gather variable-length LE byte runs back into
    uint64s. Vectorized via offsets + masked scatter."""
    n = len(nbytes)
    out = np.zeros((n, 8), dtype=np.uint8)
    ends = np.cumsum(nbytes.astype(np.int64))
    starts = ends - nbytes
    sel = np.arange(8, dtype=np.int64)[None, :] < nbytes[:, None]
    out[sel] = payload
    shifts = np.uint64(8) * np.arange(8, dtype=np.uint64)
    return (out.astype(np.uint64) << shifts[None, :]).sum(
        axis=1, dtype=np.uint64
    ), starts  # starts returned for testability


def _frame(seg_len: np.ndarray, controls: np.ndarray, nbytes: np.ndarray,
           payload: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Lay out many chunks back to back, each as [n][controls][payload].

    `controls`/`nbytes` hold one entry per value and `payload` the packed
    bytes of all values, in value order; segment i owns the next
    `seg_len[i]` values.  Returns (offsets, data): chunk i is
    data[offsets[i]:offsets[i + 1]]."""
    seg_len = np.asarray(seg_len, dtype=np.int64)
    el_start = np.cumsum(seg_len) - seg_len
    pay_cum = np.zeros(len(nbytes) + 1, dtype=np.int64)
    np.cumsum(nbytes, out=pay_cum[1:])
    pay_start = pay_cum[el_start]
    size = 4 + seg_len + pay_cum[el_start + seg_len] - pay_start
    offsets = np.zeros(len(seg_len) + 1, dtype=np.int64)
    np.cumsum(size, out=offsets[1:])
    data = np.empty(offsets[-1], dtype=np.uint8)
    hdr = offsets[:-1, None] + np.arange(4)
    data[hdr.ravel()] = seg_len.astype("<u4").view(np.uint8)
    seg = np.repeat(np.arange(len(seg_len)), seg_len)  # segment of each value
    ctrl_at = offsets[:-1] + 4 - el_start
    data[np.arange(len(controls)) + ctrl_at[seg]] = controls
    pay_at = offsets[:-1] + 4 + seg_len - pay_start
    data[np.arange(len(payload)) + np.repeat(pay_at[seg], nbytes)] = payload
    return offsets, data


def _seg_index(n: int, seg_len: np.ndarray) -> np.ndarray:
    """Index of each of n values within its segment."""
    seg_len = np.asarray(seg_len, dtype=np.int64)
    return np.arange(n) - np.repeat(np.cumsum(seg_len) - seg_len, seg_len)


def dod_encode_segments(ts: np.ndarray, seg_len: np.ndarray,
                        ) -> tuple[np.ndarray, np.ndarray]:
    """Delta-of-delta encode consecutive segments of `ts` as separate
    chunks in one numpy pass; returns (offsets, data) as `_frame`."""
    ts = np.asarray(ts, dtype=np.int64)
    k = _seg_index(len(ts), seg_len)
    d = np.zeros_like(ts)
    d[1:] = ts[1:] - ts[:-1]
    dod = np.zeros_like(ts)
    dod[1:] = d[1:] - d[:-1]
    # first value raw, second its delta, the rest delta-of-delta
    stream = _zigzag(np.where(k == 0, ts, np.where(k == 1, d, dod)))
    nb = _sig_bytes(stream)
    return _frame(seg_len, nb, nb, _pack_bytes(stream, nb))


def dod_encode(ts: np.ndarray) -> bytes:
    """Delta-of-delta encode int64 values (timestamps in any fixed unit)."""
    ts = np.asarray(ts, dtype=np.int64)
    return dod_encode_segments(ts, [len(ts)])[1].tobytes()


def dod_decode(buf: bytes) -> np.ndarray:
    n = int(np.frombuffer(buf[:4], dtype=np.uint32)[0])
    if n == 0:
        return np.empty(0, dtype=np.int64)
    nb = np.frombuffer(buf[4: 4 + n], dtype=np.uint8)
    payload = np.frombuffer(buf[4 + n:], dtype=np.uint8)
    u, _ = _unpack_bytes(payload, nb)
    s = _unzigzag(u)
    if n == 1:
        return s.astype(np.int64)
    t0, d1 = s[0], s[1]
    d = np.empty(n - 1, dtype=np.int64)
    d[0] = d1
    if n > 2:
        d[1:] = d1 + np.cumsum(s[2:])
    out = np.empty(n, dtype=np.int64)
    out[0] = t0
    out[1:] = t0 + np.cumsum(d)
    return out


def gorilla_encode_segments(values: np.ndarray, seg_len: np.ndarray,
                            ) -> tuple[np.ndarray, np.ndarray]:
    """XOR-with-predecessor encode consecutive segments of float64 values
    as separate chunks in one numpy pass (Gorilla §4.1.2 scheme,
    stream-split byte-aligned -- see module docstring); returns
    (offsets, data) as `_frame`."""
    bits = np.asarray(values, dtype=np.float64).view(np.uint64)
    n = len(bits)
    xor = bits.copy()
    xor[1:] = bits[1:] ^ bits[:-1]
    first = _seg_index(n, seg_len) == 0
    xor[first] = bits[first]
    # offset = lowest significant byte index (trailing-zero bytes dropped)
    lo = np.zeros(n, dtype=np.uint8)
    hi = np.zeros(n, dtype=np.uint8)  # significant byte count from offset
    nz = xor != 0
    if nz.any():
        x = xor[nz]
        tz = np.zeros(len(x), dtype=np.uint8)
        y = x.copy()
        for _ in range(8):
            m = (y & _MASK) == 0
            m &= y != 0
            tz[m] += 1
            y = np.where(m, y >> np.uint64(8), y)
        shifted = x >> (np.uint64(8) * tz.astype(np.uint64))
        sig = _sig_bytes(shifted)
        lo[nz] = tz
        hi[nz] = sig
    controls = ((lo << 4) | hi).astype(np.uint8)
    shifted_all = xor >> (np.uint64(8) * lo.astype(np.uint64))
    return _frame(seg_len, controls, hi, _pack_bytes(shifted_all, hi))


def gorilla_encode(values: np.ndarray) -> bytes:
    """XOR-with-predecessor encode float64 values as one chunk."""
    v = np.asarray(values, dtype=np.float64)
    return gorilla_encode_segments(v, [len(v)])[1].tobytes()


def gorilla_decode(buf: bytes) -> np.ndarray:
    n = int(np.frombuffer(buf[:4], dtype=np.uint32)[0])
    if n == 0:
        return np.empty(0, dtype=np.float64)
    controls = np.frombuffer(buf[4: 4 + n], dtype=np.uint8)
    payload = np.frombuffer(buf[4 + n:], dtype=np.uint8)
    lo = (controls >> 4).astype(np.uint64)
    hi = (controls & np.uint8(0x0F)).astype(np.uint8)
    u, _ = _unpack_bytes(payload, hi)
    xor = u << (np.uint64(8) * lo)
    # cumulative XOR scan to undo predecessor chaining.  XOR is associative:
    # bits_i = xor_0 ^ xor_1 ^ ... ^ xor_i; there is no ufunc.accumulate for
    # bitwise_xor on all numpy builds, so do a log-step scan (vectorized,
    # 6 passes for any n <= 2^64).
    acc = xor.copy()
    shift = 1
    while shift < n:
        acc[shift:] ^= acc[:-shift]
        shift <<= 1
    return acc.view(np.float64)


def int_array_roundtrip_ok(tokens: np.ndarray) -> bool:
    """Token-array invariant check: int32 tokens -> float64 -> gorilla ->
    decode -> int32, exact equality (BASELINE.json per-row invariant)."""
    t = np.asarray(tokens, dtype=np.int32)
    dec = gorilla_decode(gorilla_encode(t.astype(np.float64)))
    return bool(np.array_equal(dec.astype(np.int32), t)) and bool(
        np.array_equal(dec, t.astype(np.float64))
    )
