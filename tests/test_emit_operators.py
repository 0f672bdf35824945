"""The per-series operators of `seriesstats`, `metrics`, `eventseq` and
`linking` that run on the Arrow emitter (`emit._map_segments`): in Arrow
batches of 2 rows, their Spark rows equal each operator's `kernels`
function run in-process on the same series, in the same order within a
series.  The
inputs hold series shorter than each operator's minimum (< 2 buckets,
< 2 periods, < 2 subsequences) and, for the linking operators, a null
`values` row, which yields no row; `link_dtw` also gets an empty series,
which yields no row either.
"""

from __future__ import annotations

from collections import defaultdict

import numpy as np
import pytest
from pyspark.sql import functions as F

from ts2g2_spark.operators import (eventseq, kernels, linking, metrics,
                                  seriesstats)

BASE = 1_700_000_000 // 3600 * 3600  # an hour boundary, epoch seconds
#: user -> (hour offset, value, points in the bucket); values are
#: multiples of 0.25, so a 6-decimal bucket mean is the value itself
_rng = np.random.default_rng(13)
SERIES = {
    1: [(0, 2.5, 1)],
    2: [(0, 1.0, 1), (1, 3.0, 2), (4, 2.0, 1)],
    3: [(h, float(v), int(r)) for h, v, r in zip(
        [0, 1, 2, 5, 6, 7, 9, 10, 11, 12, 15, 16],
        _rng.integers(-8, 9, 12) / 4, _rng.integers(1, 4, 12))],
    4: [(h, float(v), 1) for h, v in enumerate(
        np.cumsum(_rng.integers(-4, 5, 30)) / 4)],
    5: [(h, 1.5, 1) for h in range(9)],
}


def _buckets(rows):
    """(epoch seconds, bucket means) in time order."""
    return (np.array([BASE + 3600 * h for h, _, _ in rows], np.int64),
            np.array([v for _, v, _ in rows], np.float64))


def _raw(rows):
    return np.array([v for _, v, r in rows for _ in range(r)], np.float64)


def _by_key(rows) -> dict:
    """key (first field) -> its rows' other fields, in emitted order."""
    out = defaultdict(list)
    for r in rows:
        out[r[0]].append(tuple(r[1:]))
    return dict(out)


def _want(rows_of) -> dict:
    """rows_of(series rows) -> row tuples per user; no entry for none."""
    out = {u: [tuple(r) for r in rows_of(rows)] for u, rows in SERIES.items()}
    return {u: r for u, r in out.items() if r}


def _columns(cols) -> list[tuple]:
    return list(zip(*[np.asarray(c).tolist() for c in cols]))


def _theil_sen(spark, points):
    got = seriesstats.theil_sen_trend(points).collect()
    return _by_key(got), _want(lambda r: zip(*kernels.theil_sen_kernel(
        *_buckets(r), 9)))


def _mann_kendall(spark, points):
    got = seriesstats.mann_kendall(points).collect()
    return _by_key(got), _want(lambda r: zip(*kernels.mann_kendall_kernel(
        _buckets(r)[1], 1.96, 9)))


def _matrix_profile(spark, points):
    got = seriesstats.matrix_profile(points, 3).collect()
    return _by_key(got), _want(lambda r: _columns(
        kernels.matrix_profile_kernel(_raw(r), 3, 1, 9, 1_000_000)))


def _pelt(spark, points):
    assert all(len(c) == 0 for c in kernels.pelt_kernel(
        np.empty(0), 2.0, 2, 6, 200_000))  # n < 1: no row
    got = seriesstats.pelt_changepoints(points, 2.0).collect()
    return _by_key(got), _want(lambda r: _columns(
        kernels.pelt_kernel(_raw(r), 2.0, 2, 6, 200_000)))


def _holt(spark, points):
    got = metrics.holt_forecast(points, horizon=2).select(
        "user_id", "step", "level", "trend").collect()

    def rows(r):
        y = _buckets(r)[1]
        seg, _, level, trend = kernels.holt_state_segmented(
            y, [len(y)], 0.3, 0.1, 9)
        return [(h, level[0] + 0.0, trend[0] + 0.0)
                for _ in seg for h in (1, 2)]
    return _by_key(got), _want(rows)


def _holt_winters(spark, points):
    got = metrics.holt_winters_forecast(points, period=2, horizon=2).select(
        "user_id", "step", "level", "trend", "seasonal").collect()

    def rows(r):
        y = _buckets(r)[1]
        seg, _, level, trend, seas = kernels.holt_winters_state_segmented(
            y, [len(y)], 2, 0.3, 0.1, 0.2, 9)
        return [(h, level[0] + 0.0, trend[0] + 0.0, seas[0, h - 1] + 0.0)
                for _ in seg for h in (1, 2)]
    return _by_key(got), _want(rows)


def _burst(spark, points):
    got = eventseq.burst_detection(points).select(
        "user_id", F.unix_seconds("bucket_ts"), "cnt", "burst").collect()

    def rows(r):
        sec, _ = _buckets(r)
        _, *cols = kernels.burst_states_segmented(
            sec, np.array([c for _, _, c in r]), [len(r)], 3600, 3.0, 1.0,
            9)
        return _columns(cols)
    return _by_key(got), _want(rows)


NODES = [("g1", "a", [1.0, 2.0, 4.0, 3.0, 5.0]),
         ("g1", "b", [2.0, 1.0, 0.5, 3.0, 1.0, 2.0]),
         ("g1", "c", None),
         ("g2", "d", [1.0]),
         ("g2", "e", [3.0, 3.0, 3.0]),
         ("g2", "f", [0.0, 1.0, -1.0, 2.0])]


def _node_frame(spark):
    return spark.createDataFrame(
        [(g, n, i, 0.0, v) for i, (g, n, v) in enumerate(NODES)],
        "graph_key string, node_id string, ord long, value double, "
        "values array<double>")


def _pairs(same_group: bool = False):
    """(src, dst, values_a, values_b) per node pair src < dst, both
    non-null."""
    return [(n, m, np.asarray(v), np.asarray(w))
            for g, n, v in NODES for h, m, w in NODES
            if n < m and v is not None and w is not None
            and (g == h or not same_group)]


def _correlation(spark, grouped):
    got = linking.link_correlation(
        _node_frame(spark), "graph_key" if grouped else None).collect()
    want = [(s, d, kernels.pearson_prefix(a, b), "Correlation")
            for s, d, a, b in _pairs(grouped)]
    return sorted(map(tuple, got)), sorted(want)


def _dtw(spark, points):
    """Also holds an empty series, which has no alignment: no row for its
    pairs."""
    series = spark.createDataFrame(
        [(n, v) for _, n, v in NODES] + [("g", [])],
        "series_key string, values array<double>")
    got = linking.link_dtw(series).collect()
    want = [(f"{s}:{i}", f"{d}:{j}", None, "dynamical time warping")
            for s, d, a, b in _pairs() for i, j in kernels.dtw_path(a, b)]
    return sorted(map(tuple, got)), sorted(want)


def _xcorr(spark, points):
    got = linking.link_cross_correlation(_node_frame(spark), 2, 3).collect()
    want = [(s, d, *r) for s, d, a, b in _pairs()
            for r in zip(*kernels.xcorr_best(a, b, 2, 3, 6))]
    return sorted(map(tuple, got)), sorted(want)


OPERATORS = {
    "theil_sen_trend": _theil_sen,
    "mann_kendall": _mann_kendall,
    "matrix_profile": _matrix_profile,
    "pelt_changepoints": _pelt,
    "holt_forecast": _holt,
    "holt_winters_forecast": _holt_winters,
    "burst_detection": _burst,
    "link_correlation": lambda spark, _: _correlation(spark, False),
    "link_correlation_grouped": lambda spark, _: _correlation(spark, True),
    "link_dtw": _dtw,
    "link_cross_correlation": _xcorr,
}


@pytest.fixture(scope="module")
def points(spark):
    rows = [(u, BASE + 3600 * h + i, v) for u, series in SERIES.items()
            for h, v, r in series for i in range(r)]
    return spark.createDataFrame(
        rows, "user_id long, sec long, value double").select(
        "user_id", F.timestamp_seconds("sec").alias("ts"), "value")


@pytest.mark.parametrize("name", sorted(OPERATORS))
def test_emitted_operator_rows_equal_row_function(spark, points, name):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        got, want = OPERATORS[name](spark, points)
    finally:
        spark.conf.set(key, old)
    assert got == want
    assert want  # the case emits rows at all
