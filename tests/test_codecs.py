"""Codec round-trip exactness (BASELINE.json per-row invariant) +
compression sanity + hypothesis property tests."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as hst

from ts2g2_spark.functions import codecs

CASES = {
    "empty": np.array([], dtype=np.int64),
    "single": np.array([1704067200_000_000], dtype=np.int64),
    "two": np.array([0, 10**15], dtype=np.int64),
    "regular_1s": 1704067200_000_000 + np.arange(10_000, dtype=np.int64) * 1_000_000,
    "gappy": np.sort(np.random.default_rng(7).choice(
        10**9, size=5000, replace=False)).astype(np.int64),
    "negative_deltas": np.array([100, 50, 200, -7, 0, 3], dtype=np.int64),
    "extremes": np.array([0, 2**62, -2**62, 1, -1], dtype=np.int64),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_dod_roundtrip(name):
    ts = CASES[name]
    assert np.array_equal(codecs.dod_decode(codecs.dod_encode(ts)), ts)


def test_dod_compresses_regular():
    ts = CASES["regular_1s"]
    enc = codecs.dod_encode(ts)
    # constant cadence -> dod == 0 -> ~1 control byte/point
    assert len(enc) < len(ts) * 8 / 6


VCASES = {
    "empty": np.array([], dtype=np.float64),
    "constant": np.full(1000, 3.14159),
    "tokens": np.random.default_rng(1).integers(
        0, 50257, size=4096).astype(np.float64),
    "alternating": np.array([0.0, 50256.0] * 100),
    "increasing": np.arange(5000, dtype=np.float64),
    "specials": np.array([0.0, -0.0, np.inf, -np.inf, 1e-308, 1e308]),
    "nan": np.array([1.0, np.nan, 2.0]),
    "noise": np.random.default_rng(2).normal(size=3000),
}


@pytest.mark.parametrize("name", sorted(VCASES))
def test_gorilla_roundtrip(name):
    v = VCASES[name]
    dec = codecs.gorilla_decode(codecs.gorilla_encode(v))
    assert np.array_equal(
        dec.view(np.uint64), v.view(np.uint64)), name  # bit-exact incl NaN


def test_gorilla_compresses_slow_moving():
    enc = codecs.gorilla_encode(VCASES["constant"])
    assert len(enc) < 1000 * 2  # repeated values -> 1 control byte each


def test_token_invariant():
    rng = np.random.default_rng(42)
    for _ in range(20):
        toks = rng.integers(0, 50257, size=rng.integers(8, 4096)).astype(
            np.int32)
        assert codecs.int_array_roundtrip_ok(toks)
    assert codecs.int_array_roundtrip_ok(np.array([0] * 8, dtype=np.int32))
    assert codecs.int_array_roundtrip_ok(
        np.array([0, 50256] * 16, dtype=np.int32))


@settings(max_examples=200, deadline=None)
@given(hst.lists(hst.integers(min_value=-2**62, max_value=2**62),
                 max_size=300))
def test_dod_roundtrip_property(xs):
    ts = np.array(xs, dtype=np.int64)
    assert np.array_equal(codecs.dod_decode(codecs.dod_encode(ts)), ts)


@settings(max_examples=200, deadline=None)
@given(hst.lists(hst.floats(allow_nan=False), max_size=300))
def test_gorilla_roundtrip_property(xs):
    v = np.array(xs, dtype=np.float64)
    dec = codecs.gorilla_decode(codecs.gorilla_encode(v))
    assert np.array_equal(dec.view(np.uint64), v.view(np.uint64))


@settings(max_examples=200, deadline=None)
@given(hst.lists(hst.lists(hst.integers(min_value=-2**40, max_value=2**40),
                           max_size=20), max_size=8))
def test_segment_encoders_equal_per_array_encodes(segs):
    """Many chunks in one pass (zero-length segments included) give
    exactly the bytes of encoding each segment on its own, and each
    segment decodes back to its values."""
    seg_len = np.array([len(s) for s in segs], dtype=np.int64)
    ts = np.array([x for s in segs for x in s], dtype=np.int64)
    vals = ts.astype(np.float64) / 7
    bounds = np.concatenate([[0], np.cumsum(seg_len)])
    for encode, decode, seg_encode, x in (
            (codecs.dod_encode, codecs.dod_decode,
             codecs.dod_encode_segments, ts),
            (codecs.gorilla_encode, codecs.gorilla_decode,
             codecs.gorilla_encode_segments, vals)):
        offsets, data = seg_encode(x, seg_len)
        assert len(offsets) == len(segs) + 1
        for i in range(len(segs)):
            part = x[bounds[i]:bounds[i + 1]]
            chunk = data[offsets[i]:offsets[i + 1]].tobytes()
            assert chunk == encode(part)
            assert np.array_equal(decode(chunk), part)


def test_codec_roundtrip_query_matches_kernel(spark):
    """The contract's codec round-trip in 2-row Arrow batches, on a
    1-point user, a user with a null value and ties on ts: one row per
    user, n_pts and roundtrip_ok equal to the codecs run in-process on
    the (ts, event_id)-ordered series."""
    import datetime as dt

    import __spark_entry__ as entry

    t0 = dt.datetime(2024, 1, 1)
    ev = [(1, t0, 10, 1.5),
          (2, t0 + dt.timedelta(seconds=5), 20, None),
          (3, t0, 20, -0.0), (4, t0 + dt.timedelta(microseconds=7), 20, 2.0),
          (5, t0 + dt.timedelta(seconds=5), 20, 3.25)]
    ev += [(10 + i, t0 + dt.timedelta(seconds=i // 2), 30, float(i) / 3)
           for i in range(9)]
    frame = spark.createDataFrame(
        ev, "event_id long, ts timestamp, user_id long, value double")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old, orig = spark.conf.get(key), entry._events
    spark.conf.set(key, "2")
    entry._events = lambda spark, sf_dir: frame
    try:
        got = sorted(tuple(r) for r in entry.q_codec_roundtrip(
            spark, None).collect())
    finally:
        entry._events = orig
        spark.conf.set(key, old)
    want = []
    for user in sorted({u for *_, u, _ in ev}):
        pts = sorted((t, e, v) for e, t, u, v in ev if u == user)
        ts = np.array([(t - dt.datetime(1970, 1, 1))
                       // dt.timedelta(microseconds=1) * 1000
                       for t, _, _ in pts], np.int64)
        v = np.array([np.nan if x is None else x for *_, x in pts])
        ok = (np.array_equal(codecs.dod_decode(codecs.dod_encode(ts)), ts)
              and np.array_equal(codecs.gorilla_decode(
                  codecs.gorilla_encode(v)).view("u8"), v.view("u8")))
        want.append((user, len(ts), bool(ok)))
    assert got == want and [r[1] for r in got] == [1, 4, 9]
