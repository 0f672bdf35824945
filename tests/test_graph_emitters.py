"""Pins for the Arrow edge emitters in operators/graphs.py that need no
reference checkout.

(a) Every Spark emitter's rows equal the same numpy kernel run per series
    in-process, on a frame with an empty series, 1- and 2-point series,
    flat runs, ties, a null `values` row, and more rows than
    maxRecordsPerBatch, so one task sees several Arrow batches.
(b) Hypothesis properties at n <= 40: the HVG/NVG kernels against O(n^3)
    brute force written from the published predicates (strict >, `limit`
    skips the first intermediates), and the OPG/QG kernels against brute
    force from their definitions, including QG's integer transition
    counts, and the OPG kernel's lexsort against the np.unique(axis=0)
    rows it replaces, in both pattern modes.
(c) The segmented kernels (one call per Arrow batch) against the
    per-series loops they replace, on random batches with empty, 1- and
    2-point series, null rows (length 0), flat runs, ties, +-inf and NaN
    next to a series boundary, and a series longer than 1024 points.
    Non-finite values are pinned: +-inf are ordinary ordered values; a NaN
    blocks every line of sight over it (HVG: a NaN endpoint sees what the
    other endpoint sees over; NVG: it sees nothing beyond its path edges);
    OPG ranks NaN above every number, as np.argsort does; QG gives a
    series holding a NaN or +-inf no edges.
"""

from __future__ import annotations

import math
from collections import Counter

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as hst
from pyspark.sql import functions as F

from ts2g2_spark.operators import graphs, kernels

BATCH_ROWS = 2

SERIES = [
    ("empty", []),
    ("one", [3.0]),
    ("two", [2.0, 1.0]),
    ("flat", [4.0] * 9),
    ("ties", [1.0, 2.0, 2.0, 1.0, 2.0, 2.0, 0.0, 2.0]),
    ("runs", [1.0, 1.0, 1.0, 5.0, 5.0, 0.0, 0.0, 0.0, 5.0, 1.0]),
    ("null", None),
    ("inc", [1.0, 2.0, 3.0, 4.0, 5.0, 6.0]),
]
_rng = np.random.default_rng(5)
SERIES += [(f"r{i}", np.round(_rng.normal(size=int(n)), 1).tolist())
           for i, n in enumerate(_rng.integers(0, 30, size=30))]


@pytest.fixture(scope="module")
def frame(spark):
    """The series frame in one partition, read in BATCH_ROWS-row Arrow
    batches while the module runs."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, str(BATCH_ROWS))
    try:
        yield spark.createDataFrame(
            SERIES, "series_key string, values array<double>").coalesce(1)
    finally:
        spark.conf.set(key, old)


def test_frame_spans_several_arrow_batches(frame):
    sizes = frame.mapInArrow(
        lambda it: (pa.RecordBatch.from_pydict({"n": [b.num_rows]})
                    for b in it), "n long").collect()
    assert len(sizes) > 1 and max(r.n for r in sizes) <= BATCH_ROWS
    assert sum(r.n for r in sizes) == len(SERIES)


def _weight(w: float):
    return None if math.isnan(w) else w


def _expected_edges(kernel, series=SERIES) -> Counter:
    """Rows the emitter must produce: kernel(y) per non-null series."""
    rows = Counter()
    for key, vals in series:
        if vals is None:
            continue
        out = kernel(np.asarray(vals, np.float64))
        if len(out) == 2:  # (edges[m, 2], weights[m])
            rows.update((key, s, d, _weight(x))
                        for (s, d), x in zip(out[0].tolist(),
                                             out[1].tolist()))
        else:  # (src_patterns, dst_patterns, weights)
            rows.update(
                (key, ",".join(map(str, s)), ",".join(map(str, d)),
                 _weight(x))
                for s, d, x in zip(*(a.tolist() for a in out)))
    return rows


def _got(df) -> Counter:
    return Counter(tuple(r) for r in df.collect())


@pytest.mark.parametrize("kind", ["natural", "horizontal"])
@pytest.mark.parametrize("limit,angle,weighted", [
    (0, None, False), (2, None, False), (0, 0.4, False), (0, None, True),
    (1, 0.4, True),
])
def test_visibility_emitter_matches_kernel(frame, kind, limit, angle,
                                           weighted):
    df = graphs.visibility_edges(frame, kind=kind, limit=limit, angle=angle,
                                 weighted=weighted)
    got = _got(df)
    assert got == _expected_edges(lambda y: kernels.visibility_graph(
        y, kind=kind, limit=limit, angle=angle, weighted=weighted))
    assert "null" not in {k for k, *_ in got}
    if not weighted:  # unweighted edges carry a null weight, not NaN
        assert all(r[3] is None for r in got)
    if weighted and angle is not None:  # path edges the angle rejected
        assert any(r[3] is None for r in got)


@pytest.mark.parametrize("w,tau,use_q", [(3, 1, False), (2, 2, False),
                                         (4, 1, True)])
def test_opg_emitter_matches_kernel(frame, w, tau, use_q):
    got = _got(graphs.opg_edges(frame, w, tau, use_quantiles=use_q, Q=3))
    assert got == _expected_edges(lambda y: kernels.opg_edges(
        kernels.ordinal_patterns(y, w, tau, use_quantiles=use_q, Q=3)))
    assert len(got) > 0


@pytest.mark.parametrize("Q,phi", [(4, 1), (3, 2)])
def test_qg_emitter_matches_kernel(frame, Q, phi):
    got = _got(graphs.qg_edges(frame, Q, phi))
    assert got == _expected_edges(lambda y: kernels.qg_edges(y, Q, phi))
    assert len(got) > 0
    counts = graphs.qg_edges(frame, Q, phi, counts=True)
    assert counts.columns == ["series_key", "src", "dst", "w"]
    assert _got(counts) == _expected_edges(
        lambda y: kernels.qg_transitions(y, Q, phi))


def test_proximity_emitter_matches_kernel(frame):
    cases = [
        ({"recurrence_type": "epsilon", "epsilon": 0.5},
         lambda y: kernels.proximity_epsilon_edges(y, 0.5)),
        ({"recurrence_type": "k-nnn", "k": 3},
         lambda y: kernels.proximity_knn_edges(y, 3)),
        ({"recurrence_type": "k-nnn", "k": 2, "tie_order": "stable"},
         lambda y: kernels.proximity_knn_edges(y, 2, tie_order="stable")),
        ({"recurrence_type": "annn", "k": 3},
         lambda y: kernels.proximity_annn_edges(y, 3)),
    ]
    for kw, kernel in cases:
        got = _got(graphs.proximity_edges(frame, method="recurrence", **kw))
        assert got == _expected_edges(kernel) and len(got) > 0, kw
    got = _got(graphs.proximity_edges(frame, method="cycle",
                                      segment_length=3, threshold=0.2))
    assert got == _expected_edges(
        lambda y: kernels.proximity_cycle_edges(y, 3, 0.2))


def test_multivariate_opg_emitter_matches_kernel(frame):
    """One to three variables a row, so a batch mixes pattern widths."""
    mv = frame.select("series_key", F.when(
        F.col("values").isNotNull(),
        F.slice(F.array("values", F.expr("transform(values, x -> -x * x)"),
                        F.expr("transform(values, x -> 2 * x)")),
                1, F.size("values") % 3 + 1),
    ).alias("variables"))
    got = _got(graphs.opg_edges_multivariate(mv, 3, 1))
    want = Counter()
    for key, vals in SERIES:
        if vals is None:
            continue
        y = np.asarray(vals, np.float64)
        variables = [y, -y * y, 2 * y][:len(y) % 3 + 1]
        s, d, w = kernels.opg_edges(
            kernels.multivariate_ordinal_patterns(variables, 3, 1))
        want.update((key, ",".join(map(str, a)), ",".join(map(str, b)), x)
                    for a, b, x in zip(s.tolist(), d.tolist(), w.tolist()))
    assert got == want and len(got) > 0
    assert len({r[1].count(",") for r in got}) == 3


def test_histogram_emitter_matches_numpy(frame):
    got = {r.series_key: (r.bin_edges, r.freqs)
           for r in graphs.histogram(frame, 4).collect()}
    want = {}
    for key, vals in SERIES:
        if vals is not None:
            f, b = np.histogram(np.asarray(vals, np.float64), 4)
            want[key] = (b.tolist(), f.tolist())
    assert got == want


# ------------------------------------------------------ (b) brute force
def _brute_visibility(y, kind, limit=0, angle=None, weighted=False):
    """Path edges always; pair (i, j), j >= i + 2, visible iff no
    intermediate k in [i + limit + 1, j) obstructs it (strict >): HVG
    y_k > max(y_i, y_j), NVG y_k above the i-j line.  The angle
    constraint drops scanned pairs (adjacent or visible) with
    |atan(slope)| < |angle|; weight = |atan(slope)| of a kept pair, None
    for an unweighted or dropped path edge."""
    n = len(y)
    out = {}
    for i in range(n):
        for j in range(i + 1, n):
            slope = (y[j] - y[i]) / (j - i)
            offset = y[j] - slope * j
            obstructed = any(
                (y[k] > max(y[i], y[j])) if kind == "horizontal"
                else (y[k] > slope * k + offset)
                for k in range(i + limit + 1, j))
            if obstructed:
                continue
            ang = abs(math.atan(slope))
            keep = angle is None or not ang < abs(angle)
            if keep:
                out[(i, j)] = ang if weighted else None
            elif j == i + 1:
                out[(i, j)] = None
    return out


def _brute_opg(y, w, tau):
    """Stable rank pattern of every window y[i : i + w*tau : tau];
    weight = transition count / number of patterns."""
    pats = []
    for i in range(len(y) - w * tau + 1):
        win = [y[i + k * tau] for k in range(w)]
        order = sorted(range(w), key=lambda k: win[k])
        ranks = [0] * w
        for r, k in enumerate(order):
            ranks[k] = r
        pats.append(tuple(ranks))
    if len(pats) < 2:
        return {}
    counts = Counter(zip(pats[:-1], pats[1:]))
    return {k: c / float(len(pats)) for k, c in counts.items()}


def _brute_qg(y, Q, phi):
    """Bin of y_t = #(quantile edges < y_t) - 1, the first edge lowered by
    1e-9; returns (transition counts, weights) with weight = count /
    transitions out of the same bin."""
    if len(y) <= phi:
        return {}, {}
    edges = np.quantile(np.asarray(y, np.float64), np.linspace(0, 1, Q + 1))
    edges[0] -= 1e-9
    q = [sum(1 for b in edges if b < v) - 1 for v in y]
    counts = Counter(zip(q[:-phi], q[phi:]))
    out_of = Counter()
    for (s, _), c in counts.items():
        out_of[s] += c
    return dict(counts), {k: c / float(out_of[k[0]])
                          for k, c in counts.items()}


values = hst.lists(
    hst.one_of(hst.integers(-4, 4).map(float),
               hst.floats(-50, 50, allow_nan=False, width=32)),
    max_size=40)


@settings(max_examples=150, deadline=None)
@given(y=values, limit=hst.integers(0, 3),
       angle=hst.sampled_from([None, 0.0, 0.5, -1.2]),
       kind=hst.sampled_from(["natural", "horizontal"]))
def test_visibility_kernel_matches_brute_force(y, limit, angle, kind):
    e, w = kernels.visibility_graph(np.asarray(y, np.float64), kind=kind,
                                    limit=limit, angle=angle, weighted=True)
    got = {tuple(p): _weight(x) for p, x in zip(e.tolist(), w.tolist())}
    want = _brute_visibility(y, kind, limit, angle, weighted=True)
    assert got.keys() == want.keys()
    for p, x in want.items():
        # np.arctan and math.atan may differ in the last bits
        assert got[p] == (None if x is None else pytest.approx(x, rel=1e-15))


@settings(max_examples=150, deadline=None)
@given(y=values, w=hst.integers(2, 4), tau=hst.integers(1, 3))
def test_opg_kernel_matches_brute_force(y, w, tau):
    s, d, wt = kernels.opg_edges(
        kernels.ordinal_patterns(np.asarray(y, np.float64), w, tau))
    got = {(tuple(a), tuple(b)): x
           for a, b, x in zip(s.tolist(), d.tolist(), wt.tolist())}
    assert got == _brute_opg(y, w, tau)


@settings(max_examples=150, deadline=None)
@given(y=values, w=hst.integers(2, 4), tau=hst.integers(1, 3),
       use_q=hst.booleans(), Q=hst.integers(2, 5))
def test_opg_kernel_matches_unique_rows(y, w, tau, use_q, Q):
    """The lexsort in opg_edges yields the rows of np.unique(axis=0): the
    same transitions, in the same order, with the same weights."""
    pats = kernels.ordinal_patterns(np.asarray(y, np.float64), w, tau,
                                    use_quantiles=use_q, Q=Q)
    s, d, wt = kernels.opg_edges(pats)
    if len(pats) < 2:
        assert len(s) == len(d) == len(wt) == 0
        return
    uniq, counts = np.unique(np.concatenate([pats[:-1], pats[1:]], axis=1),
                             axis=0, return_counts=True)
    assert np.array_equal(s, uniq[:, :w]) and np.array_equal(d, uniq[:, w:])
    assert np.array_equal(wt, counts / float(len(pats)))


@settings(max_examples=150, deadline=None)
@given(y=values, Q=hst.integers(2, 5), phi=hst.integers(1, 3))
def test_qg_kernel_matches_brute_force(y, Q, phi):
    counts, weights = _brute_qg(y, Q, phi)
    e, wt = kernels.qg_edges(np.asarray(y, np.float64), Q, phi)
    assert {tuple(p): x for p, x in zip(e.tolist(), wt.tolist())} == weights
    e, c = kernels.qg_transitions(np.asarray(y, np.float64), Q, phi)
    assert {tuple(p): x for p, x in zip(e.tolist(), c.tolist())} == counts


# ---------------------------------------------- (c) segmented batch kernels
def _hvg_ref(y, limit=0):
    """HVG extra pairs (j >= i + 2) of one series, O(n^2): visible iff the
    intermediates y[i + limit + 1 : j] are all <= y_i or all <= y_j (none
    left: visible).  Their running max propagates NaN and a NaN compares
    false, so a NaN intermediate blocks the pair."""
    n, out = len(y), []
    for i in range(n - 2):
        lo = i + limit + 1
        js = np.arange(i + 2, n)
        wmax = np.full(len(js), -np.inf)
        has = js > lo
        if has.any():
            wmax[has] = np.maximum.accumulate(y[lo:n - 1])[js[has] - lo - 1]
        keep = ~has | (wmax <= y[i]) | (wmax <= y[js])
        out += [(i, int(j)) for j in js[keep]]
    return out


def _opg_ref(y, w, tau, use_q=False, Q=3):
    """Per-series OPG: each window's stable rank pattern (np.argsort order,
    NaN last) or quantile pattern, then np.unique(axis=0) over consecutive
    pattern pairs; weight = count / number of patterns."""
    pats = []
    for i in range(len(y) - w * tau + 1):
        win = y[i:i + w * tau:tau]
        if use_q:
            thr = np.quantile(win, np.linspace(0, 1, Q + 1)[1:-1])
            pats.append((win[:, None] > thr[None, :]).sum(axis=1))
        else:
            pats.append(np.argsort(np.argsort(win, kind="stable"),
                                   kind="stable"))
    if len(pats) < 2:
        return []
    pats = np.array(pats, dtype=np.int64)
    uniq, counts = np.unique(np.concatenate([pats[:-1], pats[1:]], axis=1),
                             axis=0, return_counts=True)
    return [(tuple(r[:w]), tuple(r[w:]), c / float(len(pats)))
            for r, c in zip(uniq.tolist(), counts.tolist())]


def _qg_ref(y, Q, phi):
    """Per-series QG: np.quantile bins + np.digitize (the reference's
    literal discretization), np.unique(axis=0) over the bin pairs, rows
    (src, dst, count, weight).  No transitions for a series with at most
    phi points or a non-finite value."""
    if len(y) <= phi or not np.isfinite(y).all():
        return []
    _, idx = kernels.quantile_bins_indices(y, Q)
    uniq, counts = np.unique(np.stack([idx[:-phi], idx[phi:]], axis=1),
                             axis=0, return_counts=True)
    out_of = Counter()
    for (s, _), c in zip(uniq.tolist(), counts.tolist()):
        out_of[s] += c
    return [(s, d, c, c / float(out_of[s]))
            for (s, d), c in zip(uniq.tolist(), counts.tolist())]


def _batch(series):
    """Per-series arrays (a null row has no points), flat buffer, lengths."""
    ys = [np.asarray(v if v is not None else [], np.float64) for v in series]
    flat = np.concatenate(ys) if ys else np.empty(0)
    return ys, flat, [len(y) for y in ys]


def _nan_none(x: float):
    return None if math.isnan(x) else x


def _check_visibility(series, kind, limit, angle):
    ys, flat, lengths = _batch(series)
    seg, e, w = kernels.visibility_graph_segmented(
        flat, lengths, kind=kind, limit=limit, angle=angle, weighted=True)
    got = [(s, a, b, _nan_none(x)) for s, (a, b), x
           in zip(seg.tolist(), e.tolist(), w.tolist())]
    want = []
    for s, y in enumerate(ys):
        pe, pw = kernels.visibility_graph(y, kind=kind, limit=limit,
                                          angle=angle, weighted=True)
        want += [(s, a, b, _nan_none(x))
                 for (a, b), x in zip(pe.tolist(), pw.tolist())]
    assert got == want
    # the extra edges against a reference independent of the batch code:
    # the HVG predicate written out, the dense NVG scan
    seg_fn = (kernels.hvg_edges_segmented if kind == "horizontal"
              else kernels.nvg_edges_segmented)
    xs, xd = seg_fn(flat, lengths, limit)
    off = np.concatenate(([0], np.cumsum(lengths))).tolist()
    want = []
    for s, y in enumerate(ys):
        ref = (_hvg_ref(y, limit) if kind == "horizontal"
               else kernels._nvg_dense(y, limit).tolist() if len(y) >= 3
               else [])
        want += [(off[s] + a, off[s] + b) for a, b in ref]
    assert list(zip(xs.tolist(), xd.tolist())) == want


def _check_opg(series, w, tau, use_q):
    ys, flat, lengths = _batch(series)
    seg, pats, src, dst, wt = kernels.opg_edges_segmented(
        *kernels.ordinal_patterns_segmented(flat, lengths, w, tau,
                                            use_quantiles=use_q, Q=3))
    got = [(s, tuple(pats[a].tolist()), tuple(pats[b].tolist()), x)
           for s, a, b, x in zip(seg.tolist(), src.tolist(), dst.tolist(),
                                 wt.tolist())]
    want = [(s, *row) for s, y in enumerate(ys)
            for row in _opg_ref(y, w, tau, use_q)]
    assert got == want


def _check_qg(series, Q, phi):
    ys, flat, lengths = _batch(series)
    seg, e, c = kernels.qg_transitions_segmented(flat, lengths, Q, phi)
    seg_w, e_w, wt = kernels.qg_edges_segmented(flat, lengths, Q, phi)
    assert np.array_equal(seg, seg_w) and np.array_equal(e, e_w)
    got = [(s, a, b, n, x) for s, (a, b), n, x
           in zip(seg.tolist(), e.tolist(), c.tolist(), wt.tolist())]
    want = [(s, *row) for s, y in enumerate(ys) for row in _qg_ref(y, Q, phi)]
    assert got == want


finite = hst.one_of(hst.integers(-3, 3).map(float),
                    hst.floats(-50, 50, allow_nan=False, width=32))
nonfinite = hst.sampled_from([math.inf, -math.inf, math.nan])
batches = hst.lists(hst.one_of(
    hst.lists(finite, max_size=30),
    hst.lists(hst.one_of(finite, nonfinite), max_size=5),
    hst.none()), max_size=8)


@settings(max_examples=150, deadline=None)
@given(series=batches, limit=hst.integers(0, 2),
       angle=hst.sampled_from([None, 0.5]),
       kind=hst.sampled_from(["natural", "horizontal"]))
def test_segmented_visibility_equals_per_series(series, limit, angle, kind):
    _check_visibility(series, kind, limit, angle)


@settings(max_examples=150, deadline=None)
@given(series=batches, w=hst.integers(2, 4), tau=hst.integers(1, 2),
       use_q=hst.booleans())
def test_segmented_opg_equals_per_series(series, w, tau, use_q):
    _check_opg(series, w, tau, use_q)


@settings(max_examples=150, deadline=None)
@given(series=batches, Q=hst.integers(2, 5), phi=hst.integers(1, 3))
def test_segmented_qg_equals_per_series(series, Q, phi):
    _check_qg(series, Q, phi)


def _long_batch():
    """Short series with +-inf/NaN at their ends around two long series
    (> 1024 points, the early-stop regime of the NVG scan; one has a
    monotone stretch where the stop is never provable)."""
    r = np.random.default_rng(17)
    long_a = np.round(r.normal(size=1100), 1)
    long_b = np.concatenate([r.normal(size=400),
                             np.sort(r.normal(size=300)) * 10.0,
                             r.normal(size=400)])
    return [[math.inf, 1.0, 2.0], long_a.tolist(), [math.nan, 3.0],
            None, [2.0, -math.inf], [], long_b.tolist(),
            [math.inf], [1.0, 1.0, math.nan, 1.0, 1.0]]


@pytest.mark.parametrize("kind", ["natural", "horizontal"])
@pytest.mark.parametrize("limit", [0, 2])
def test_segmented_visibility_long_series(kind, limit):
    _check_visibility(_long_batch(), kind, limit, None)


def test_segmented_opg_qg_long_series():
    _check_opg(_long_batch(), 3, 1, False)
    _check_opg(_long_batch(), 4, 2, True)
    _check_qg(_long_batch(), 4, 1)


def test_nonfinite_values_pinned():
    """The stated behaviour on small cases (extra edges beyond the path)."""
    def extra(fn, y):
        return [tuple(p) for p in fn(np.asarray(y, np.float64)).tolist()]

    for fn in (kernels.hvg_edges, kernels.nvg_edges):
        assert extra(fn, [1.0, math.nan, 1.0]) == []      # NaN blocks
        assert extra(fn, [1.0, math.inf, 1.0]) == []      # +inf blocks
        assert extra(fn, [1.0, -math.inf, 1.0]) == [(0, 2)]
    # a NaN endpoint: HVG sees over what the other endpoint sees over
    assert extra(kernels.hvg_edges, [math.nan, 0.0, 1.0]) == [(0, 2)]
    assert extra(kernels.nvg_edges, [math.nan, 0.0, 1.0]) == []
    # NVG with limit >= 1: a pair inside the window (2 <= j - i <= limit +
    # 1) has no obstructor, so it is visible unless an endpoint is NaN --
    # also when an endpoint is +-inf and the slope is -inf or NaN
    for fn in (lambda y: kernels.nvg_edges(y, 1),
               lambda y: np.stack(kernels.nvg_edges_segmented(
                   y, [len(y)], 1), axis=1)):
        assert extra(fn, [0.0, 5.0, -math.inf, 1.0, 2.0]) == [
            (0, 2), (0, 3), (0, 4), (1, 3), (1, 4), (2, 4)]
        assert extra(fn, [math.inf, 1.0, 2.0, 0.5, 3.0]) == [
            (0, 2), (1, 3), (1, 4), (2, 4)]
        assert extra(fn, [1.0, math.nan, 2.0, 3.0]) == [(0, 2), (0, 3)]
        assert extra(fn, [math.inf, 0.0, math.inf]) == [(0, 2)]
    e, w = kernels.qg_edges(np.array([1.0, 2.0, math.nan, 3.0]), 2)
    assert len(e) == len(w) == 0


NONFINITE_SERIES = [
    ("a", [math.inf, 1.0, 2.0, 0.5]), ("b", [1.0, 2.0, 0.0, math.nan]),
    ("c", None), ("d", [-math.inf, 0.0, 5.0, 1.0, 2.0]), ("e", []),
    ("f", [2.0, 1.0, 3.0, math.inf]), ("g", [0.0, 2.0, 1.0, 3.0, 2.0]),
]


def test_emitters_on_nonfinite_series(spark):
    """The Spark emitters keep the pinned non-finite behaviour across
    Arrow batches of 2 rows: rows equal the per-series kernels."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        df = spark.createDataFrame(
            NONFINITE_SERIES, "series_key string, values array<double>"
        ).coalesce(1)
        for kind in ("natural", "horizontal"):
            assert _got(graphs.visibility_edges(df, kind=kind)) == \
                _expected_edges(lambda y: kernels.visibility_graph(
                    y, kind=kind), NONFINITE_SERIES)
        assert _got(graphs.opg_edges(df, 3, 1)) == _expected_edges(
            lambda y: kernels.opg_edges(kernels.ordinal_patterns(y, 3, 1)),
            NONFINITE_SERIES)
        got = _got(graphs.qg_edges(df, 2, 1))
        assert got == _expected_edges(lambda y: kernels.qg_edges(y, 2, 1),
                                      NONFINITE_SERIES)
        assert {k for k, *_ in got} == {"g"}
    finally:
        spark.conf.set(key, old)


def test_segment_runs_cover_rows_within_the_point_budget():
    """The emitter's kernel calls: consecutive row ranges covering every
    row once, each within the point budget unless it is one longer row."""
    lengths = np.array([0, 3, 5, 0, 12, 1, 1, 4, 0])
    off = np.concatenate(([0], np.cumsum(lengths)))
    for budget in (1, 4, 6, 13, 100):
        runs = list(graphs._runs(off, budget))
        assert [a for a, _ in runs] == [0] + [b for _, b in runs[:-1]]
        assert runs[-1][1] == len(lengths)
        assert all(off[b] - off[a] <= budget or b == a + 1 for a, b in runs)
    assert list(graphs._runs(off, 100)) == [(0, len(lengths))]
    assert list(graphs._runs(np.array([0]), 10)) == []
