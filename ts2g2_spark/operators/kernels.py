"""Pure-numpy per-segment kernels with exact ts2g2 output parity.

These are the vectorized compute cores that run inside Arrow batches
(``mapInArrow`` / ``applyInPandas``) on executors.  The HVG, NVG, OPG and
QG edge-set kernels, and the Holt, Holt-Winters and burst kernels, consume
a whole batch of series (one flat buffer plus the series lengths) per
call; every other kernel consumes one series (a 1-D float64 array), or a
pair for linking.  The series statistics, forecasts and linking kernels at
the end have no ts2g2 counterpart (or, for linking, replay the reference's
formula); their outputs match the contract's SQL oracles, except the
matrix profile's (BLAS summation order, rows-only).  Parity contract for
the graph kernels: the edge SET (and, where the reference is deterministic, the weights) must equal
what zangrcar/ts2g2 produces for the same input.  Reference semantics are
cited by file:line; no reference code is copied — the reference computes the
same predicates with O(n^2)/O(n^3) Python loops over NetworkX, these kernels
use O(n^2)-worst-case vectorized prefix scans with an exact boundary recheck.

Float discipline: every comparison the reference makes in float64 is either
reproduced with the identical expression (HVG max-compare, digitize, argsort
ties) or guarded: a fast vectorized predicate classifies pairs, and pairs
within a relative tolerance band of the decision boundary are re-evaluated
with the reference's literal arithmetic, so the decision bit is identical.

Non-finite values: an NVG endpoint that is NaN or +-inf sees only its path
neighbours; the visibility-graph section below states every rule.
"""

from __future__ import annotations

import math
from typing import NamedTuple

import numpy as np

# relative band inside which we re-evaluate with reference-literal arithmetic
_BOUNDARY_RTOL = 1e-9


# ---------------------------------------------------------------------------
# Segmented batches
# ---------------------------------------------------------------------------
# The edge-set kernels below (HVG, NVG, OPG, QG) take a whole Arrow batch of
# series at once: one flat float64 buffer `values` plus the series lengths,
# segment s being values[off[s] : off[s + 1]].  Each runs one vectorized
# pass over the batch and clips every scan to its own segment, so no edge
# pairs points of two series whatever the values next to a boundary are.
# They return the segment index of each output row, rows ordered by
# (segment, then the per-series order).  The per-series kernels are
# one-segment calls of them.


_NO_PAIRS = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64))


def _offsets(lengths) -> np.ndarray:
    """Segment start offsets, with the total appended (int64)."""
    lengths = np.asarray(lengths, dtype=np.int64)
    return np.concatenate(([0], np.cumsum(lengths))).astype(np.int64)


def _row_ids(rows: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Dense lexicographic ids of the rows of an int matrix: (ids, uniq)
    with uniq[ids] == rows and uniq sorted lexicographically -- the rows
    and inverse of np.unique(rows, axis=0) without its void-record sort.

    The columns pack into one mixed-radix int64 key, first column most
    significant, so the keys sort as the rows do.  When the next column
    would overflow int64, the key so far is first replaced by its dense
    rank (< len(rows)), so the key fits whenever len(rows) times each
    column's value range does."""
    key = np.zeros(len(rows), dtype=np.int64)
    if not len(rows):
        return key, rows[:0]
    span = 1
    for col in rows.T:
        lo = int(col.min())
        r = int(col.max()) - lo + 1
        if span * r >= 1 << 63:
            uniq, key = np.unique(key, return_inverse=True)
            span = len(uniq)
        key = key * r + (col - lo)
        span *= r
    uniq, ids = np.unique(key, return_inverse=True)
    out = np.empty((len(uniq), rows.shape[1]), dtype=rows.dtype)
    out[ids] = rows
    return ids, out


# ---------------------------------------------------------------------------
# Visibility graphs  (ref: to_graph/strategies.py:479-546, 581-695, 698-751)
# ---------------------------------------------------------------------------
#
# Non-finite values (pinned in tests/test_graph_emitters.py): between the
# endpoints, +-inf are ordinary ordered values, and a NaN fails every
# comparison, so no line of sight passes over it.  Under HVG a NaN
# endpoint sees what the other endpoint sees over and +-inf endpoints are
# ordered values.  Under NVG a non-finite endpoint (NaN or +-inf) sees
# nothing beyond its path edges, inside the `limit` window too: the line
# through it is undefined, so no pair with it is decided by a slope.

#: a one-series call of at most this many points takes the dense NVG scan
#: (one 2-D numpy pass, ~8n^2 bytes of scratch); batches and longer series
#: take the segmented anchor scan, which needs ~n numpy steps per call.
#: Measured on one core, 800 series x <=200 points: 770 ms as dense
#: per-series calls, 3079 ms as one-segment calls of the segmented scan,
#: 99 ms as one batched call (SCALE.md).
_NVG_DENSE_N = 1024


def nvg_edges(y: np.ndarray, limit: int = 0) -> np.ndarray:
    """Natural visibility graph extra edges (beyond the path graph) of one
    series: the dense scan up to _NVG_DENSE_N points, else a one-segment
    call of nvg_edges_segmented (same predicate and boundary recheck)."""
    y = np.asarray(y, dtype=np.float64)
    if len(y) < 3:
        return np.empty((0, 2), dtype=np.int64)
    if len(y) <= _NVG_DENSE_N:
        return _nvg_dense(y, limit)
    return np.stack(nvg_edges_segmented(y, [len(y)], limit), axis=1)


def _nvg_dense(y: np.ndarray, limit: int) -> np.ndarray:
    """Whole-series NVG scan: row i of the matrices IS anchor i's
    slope/prefix-max scan of nvg_edges_segmented, one numpy pass for all
    anchors."""
    n = len(y)
    idx = np.arange(n, dtype=np.int64)
    dist = idx[None, :] - idx[:, None]
    with np.errstate(divide="ignore", invalid="ignore"):
        S = (y[None, :] - y[:, None]) / dist
        obstr = np.where(dist >= limit + 1, S, -np.inf)
        # M[i, j] = max over obstructors k strictly before j (exclusive
        # row-wise prefix max; lower triangle is -inf so it never leaks in)
        M = np.full((n, n), -np.inf)
        np.maximum.accumulate(obstr[:, :-1], axis=1, out=M[:, 1:])
        cand = dist >= 2  # path edges handled by the caller
        # a pair inside the limit window has no obstructor; a non-finite
        # endpoint sees nothing beyond its path edges
        inwin = cand & (dist <= limit + 1)
        fin = np.isfinite(y)
        ends = fin[:, None] & fin[None, :]
        tol = _BOUNDARY_RTOL * (np.abs(M) + np.abs(S) + 1.0)
        visible = ends & (inwin | (M < S - tol))
        # a +inf obstructor (M = +inf) blocks every later pair outright
        boundary = (cand & ~inwin & ends & ~visible & (M <= S + tol)
                    & (M < np.inf))
        for i, j in zip(*np.nonzero(boundary)):
            visible[i, j] = not _nvg_obstructed_ref(y, int(i), int(j), limit)
    ii, jj = np.nonzero(cand & visible)
    if not len(ii):
        return np.empty((0, 2), dtype=np.int64)
    return np.stack([ii, jj], axis=1).astype(np.int64)


def nvg_edges_segmented(values: np.ndarray, lengths,
                        limit: int = 0) -> tuple[np.ndarray, np.ndarray]:
    """Natural visibility graph extra edges (beyond the path graph) of
    every segment: (src, dst) flat-buffer indices, sorted by (src, dst).

    Reference predicate (to_graph/strategies.py:627-635): pair (x1,x2) is
    obstructed iff any intermediate point (x, y) with x in
    [x1+limit+1, x2) satisfies  y > slope*x + offset  where
    slope=(y2-y1)/(x2-x1), offset=y2-slope*x2 (strict >).  The ``limit``
    SKIPS the first ``limit`` intermediates (it does not gate pair distance),
    so a pair with x2-x1 <= limit+1 has no obstructor: it is visible,
    decided directly, whatever the slope.  A non-finite endpoint (NaN or
    +-inf) sees nothing beyond its path edges, in the window or not: the
    line through it is undefined (the literal predicate's NaN line).

    Fast path: visible(i,j) iff M < S, with S = slope(i,j) and M the
    running max of slope(i,k) over the obstructors k (mathematically
    equivalent); pairs within a relative tolerance of the max are re-decided
    with the reference-literal expression, so boundary bits match exactly.

    Every anchor of the batch advances together: step d tests j = i + d
    for all active anchors.  An anchor drops out at its segment end, or
    once the running max m satisfies m > max(smax - y_i, 0)/(j - i) by a
    1e-6 relative guard (1000x the recheck band), smax being the
    segment-local suffix max from j on: every later slope is then below m,
    so no later j is visible or lands in the recheck band.  It also drops
    out once m is +inf (a +inf obstructor hides every later point).  The
    steps run
    to the longest visible extent; on stationary series that is far below
    the series length, and it reaches it only when the output itself is
    Theta(n^2) (e.g. convex series, where every pair is an edge).
    """
    y = np.asarray(values, dtype=np.float64)
    off = _offsets(lengths)
    n = len(y)
    if n < 3:
        return _NO_PAIRS
    seg = np.repeat(np.arange(len(off) - 1), np.diff(off))
    start, end = off[seg], off[seg + 1]
    pos = np.arange(n, dtype=np.int64)
    # max(y[q : end_q]), the segment-local suffix max
    smax = _range_max(_range_max_table(y, np.diff(off).max()), pos, end)
    # finite anchors with a candidate pair: a non-finite one sees nothing
    p = np.flatnonzero((pos + 2 < end) & np.isfinite(y))
    yp, e, m = y[p], end[p], np.full(len(p), -np.inf)
    src: list[np.ndarray] = []
    dst: list[np.ndarray] = []
    d = 1
    with np.errstate(invalid="ignore"):
        while len(p):
            j = p + d
            S = (y[j] - yp) / d
            if d >= 2:
                fin = np.isfinite(y[j])
                if d <= limit + 1:  # inside the window: no obstructor
                    visible = fin
                else:
                    tol = _BOUNDARY_RTOL * (np.abs(m) + np.abs(S) + 1.0)
                    visible = fin & (m < S - tol)
                    for t in np.flatnonzero(fin & ~visible & (m <= S + tol)
                                            & (m < np.inf)):
                        a = start[p[t]]
                        visible[t] = not _nvg_obstructed_ref(
                            y[a:e[t]], int(p[t] - a), int(j[t] - a), limit)
                src.append(p[visible])
                dst.append(j[visible])
            if d >= limit + 1:
                m = np.maximum(m, S)
            j0 = j + 1
            live = j0 < e
            ub = np.maximum(smax[np.where(live, j0, j)] - yp, 0.0) / (d + 1)
            live &= ~((m > 0.0)
                      & (m > ub + 1e-6 * (np.abs(m) + np.abs(ub) + 1.0)))
            live &= m < np.inf  # past a +inf obstructor nothing is visible
            if not live.all():
                p, yp, e, m = p[live], yp[live], e[live], m[live]
            d += 1
    if not src:
        return _NO_PAIRS
    s = np.concatenate(src)
    # each step's sources ascend, so the stable sort merges d-ordered runs
    order = np.argsort(s, kind="stable")
    return s[order], np.concatenate(dst)[order]


def _nvg_obstructed_ref(y: np.ndarray, x1: int, x2: int, limit: int) -> bool:
    """Literal reference arithmetic (to_graph/strategies.py:627-635)."""
    y1 = float(y[x1])
    y2 = float(y[x2])
    slope = (y2 - y1) / (x2 - x1)
    offset = y2 - slope * x2
    ks = np.arange(x1 + limit + 1, x2, dtype=np.float64)
    if len(ks) == 0:
        return False
    return bool(np.any(y[x1 + limit + 1: x2] > slope * ks + offset))


def _range_max_table(y: np.ndarray,
                     span: int | None = None) -> list[np.ndarray]:
    """Sparse range-max table: T[l][k] = max(y[k : k + 2**l]), for the
    levels with 2**l <= span (default len(y)).  Queries that never reach
    past `span` points -- those clipped to a segment of at most `span`
    points -- need no higher level."""
    n = len(y)
    span = n if span is None else span
    T = [y]
    level = 1
    while (1 << level) <= min(n, span):
        prev = T[-1]
        half = 1 << (level - 1)
        T.append(np.maximum(prev[: len(prev) - half], prev[half:]))
        level += 1
    return T


def _range_max(T: list[np.ndarray], lo: np.ndarray,
               hi: np.ndarray) -> np.ndarray:
    """max(y[lo[q] : hi[q]]) per query (hi > lo): two overlapping 2**l
    blocks of the sparse table, l = floor(log2(hi - lo))."""
    level = np.frexp((hi - lo).astype(np.float64))[1] - 1
    out = np.empty(len(lo))
    for lv in np.unique(level).tolist():
        q = level == lv
        out[q] = np.maximum(T[lv][lo[q]], T[lv][hi[q] - (1 << lv)])
    return out


def _first_greater(T: list[np.ndarray], starts: np.ndarray,
                   targets: np.ndarray, n: int) -> np.ndarray:
    """Vectorized sparse-table walk: for each query, the first index
    k >= starts[q] with NOT y[k] <= targets[q] (y[k] > targets[q] for
    non-NaN operands), else n.

    One pass from the highest level down: a 2**l block starting at the
    cursor is skipped iff its max <= target.  The cursor then advances by
    exactly the binary decomposition of (first violator - start), so a
    single attempt per level suffices.  With levels up to L the walk
    reaches 2**(L+1) - 1 points past the start; beyond that it stops short
    of the first violator, which a caller clipping to a segment of at most
    2**(L+1) - 1 points never sees.  Comparisons are plain float64
    max/compare -- bit-identical to the reference's strict-> predicate."""
    cur = np.minimum(starts, n).astype(np.int64)
    for level in range(len(T) - 1, -1, -1):
        width = 1 << level
        can = cur + width <= n
        block_max = T[level][np.where(can, cur, 0)]
        cur = cur + np.where(can & (block_max <= targets), width, 0)
    return cur


def _ragged_offsets(cnt: np.ndarray) -> np.ndarray:
    """[0..cnt[0]), [0..cnt[1]), ... concatenated (int64)."""
    total = int(cnt.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    ends = np.cumsum(cnt)
    return np.arange(total, dtype=np.int64) - np.repeat(ends - cnt, cnt)


def hvg_edges(y: np.ndarray, limit: int = 0) -> np.ndarray:
    """Horizontal visibility graph extra edges (beyond the path graph) of
    one series, (src, dst) rows: a one-segment call of
    hvg_edges_segmented."""
    y = np.asarray(y, dtype=np.float64)
    return np.stack(hvg_edges_segmented(y, [len(y)], limit), axis=1)


def hvg_edges_segmented(values: np.ndarray, lengths,
                        limit: int = 0) -> tuple[np.ndarray, np.ndarray]:
    """Horizontal visibility graph extra edges (beyond the path graph) of
    every segment: (src, dst) flat-buffer indices, sorted by (src, dst).

    Reference predicate (to_graph/strategies.py:687-692): obstructed iff any
    intermediate (skipping the first ``limit`` after the left endpoint) has
    y > max(y1, y2) (strict).  max/compare are exact in float64, so no
    boundary recheck is needed.

    Output-sensitive enumeration, O(N log N + E) per batch.  A pair (i, j)
    is visible iff every intermediate of y[i+limit+1 : j] is <= y_i or
    every one is <= y_j, which splits by which endpoint dominates:

    - case B (all <= y_i): holds iff the FIRST k >= i+limit+1 with
      NOT y_k <= y_i sits at or after j, i.e. j <= next_greater(i) -- a
      contiguous j-run per i, next_greater clipped to the segment end.
    - case A (all <= y_j): holds iff the LAST such k < j sits at or before
      i+limit, i.e. i >= prev_greater(j) - limit -- a contiguous i-run
      per j, prev_greater clipped to the segment start.

    Both runs enumerate with repeat/arange.  The A pairs that B's run
    already holds (j <= B's bound of i) are dropped, and the rest merge
    into B's (src, dst)-sorted keys.  prev/next greater indices come from
    the vectorized sparse-table walk over the whole buffer, so there is no
    per-anchor Python loop.  E itself is Theta(n^2) on monotone runs
    (under this predicate every pair in a run is visible), so
    output-sensitive is the optimal shape.
    """
    y = np.asarray(values, dtype=np.float64)
    off = _offsets(lengths)
    n = len(y)
    if n < 3:
        return _NO_PAIRS
    seg = np.repeat(np.arange(len(off) - 1), np.diff(off))
    start, end = off[seg], off[seg + 1]
    span = np.diff(off).max()
    idx = np.arange(n, dtype=np.int64)
    # case B: first violator k >= i+limit+1, clipped to the segment end
    nxt = _first_greater(_range_max_table(y, span), idx + limit + 1, y, n)
    jmax = np.minimum(nxt, end - 1)
    cnt_b = np.maximum(jmax - idx - 1, 0)
    src_b = np.repeat(idx, cnt_b)
    key_b = src_b * n + src_b + 2 + _ragged_offsets(cnt_b)
    # case A: last violator k < j, via the reversed buffer, clipped to the
    # segment start (start - 1 = none)
    z = y[::-1]
    nxt_z = _first_greater(_range_max_table(z, span), n - idx, y, n)
    prev = np.maximum(n - 1 - nxt_z, start - 1)
    imin = np.maximum(prev - limit, start)
    cnt_a = np.maximum((idx - 2) - imin + 1, 0)
    dst_a = np.repeat(idx, cnt_a)
    src_a = np.repeat(imin, cnt_a) + _ragged_offsets(cnt_a)
    a_only = dst_a > jmax[src_a]
    key_a = np.sort(src_a[a_only] * n + dst_a[a_only])
    # two sorted runs: the stable (merge) sort joins them in linear time
    key = np.sort(np.concatenate([key_b, key_a]), kind="stable")
    return key // n, key % n


def visibility_graph(
    y: np.ndarray,
    kind: str = "natural",
    limit: int = 0,
    angle: float | None = None,
    angle_abs: bool = True,
    weighted: bool = False,
    weight_abs: bool = True,
) -> tuple[np.ndarray, np.ndarray]:
    """Full visibility graph of one series: a one-segment call of
    visibility_graph_segmented.  Returns (edges[m,2] int64 sorted
    (src,dst), weights[m] float64 -- NaN where the edge exists unweighted,
    i.e. a path edge the scan rejected)."""
    y = np.asarray(y, dtype=np.float64)
    _, e, w = visibility_graph_segmented(
        y, [len(y)], kind=kind, limit=limit, angle=angle,
        angle_abs=angle_abs, weighted=weighted, weight_abs=weight_abs)
    return e, w


def visibility_graph_segmented(
    values: np.ndarray,
    lengths,
    kind: str = "natural",
    limit: int = 0,
    angle: float | None = None,
    angle_abs: bool = True,
    weighted: bool = False,
    weight_abs: bool = True,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Full visibility graph of every segment: path edges + visibility
    edges, optional angle constraint and angle edge weights.

    Mirrors TimeseriesToGraphStrategy.to_graph (to_graph/strategies.py:
    490-542): the path graph over 0..n-1 is ALWAYS present; the pairwise
    visibility scan may re-add (i, i+1) with a weight.  The angle constraint
    (strategies.py:739-748) is ANDed: obstructed iff atan(slope) <
    visibility_angle (abs variants).  Edge weight (strategies.py:24-29) is
    atan((y2-y1)/(x2-x1)), optionally abs.

    Returns (seg[m], edges[m,2] int64 segment-local, weights[m] float64 --
    NaN where the edge exists unweighted, i.e. a path edge the scan
    rejected), sorted by (seg, src, dst).
    """
    y = np.asarray(values, dtype=np.float64)
    off = _offsets(lengths)
    if kind == "natural":
        xs, xd = (np.asarray(nvg_edges(y, limit)).T if len(off) == 2
                  else nvg_edges_segmented(y, lengths, limit))
    elif kind == "horizontal":
        xs, xd = hvg_edges_segmented(y, lengths, limit)
    else:
        raise ValueError(f"unknown visibility kind: {kind}")
    seg = np.repeat(np.arange(len(off) - 1), np.diff(off))
    # adjacent pairs: no intermediates -> always pass the visibility
    # constraint; they are also path edges.
    a = np.flatnonzero(np.diff(seg) == 0)
    # path edges stay whatever the angle says (unweighted when rejected)
    keep_adj = np.ones(len(a), dtype=bool)
    if angle is not None:
        keep_adj = _angle_visible(y, a, a + 1, angle, angle_abs)
        keep = _angle_visible(y, xs, xd, angle, angle_abs)
        xs, xd = xs[keep], xd[keep]
    src = np.concatenate([a, xs])
    dst = np.concatenate([a + 1, xd])
    if weighted:
        w = np.arctan((y[dst] - y[src]) / (dst - src).astype(np.float64))
        if weight_abs:
            w = np.abs(w)
        w[:len(a)][~keep_adj] = np.nan
    else:
        w = np.full(len(src), np.nan)
    # per source: its path edge, then its extra edges (dst >= src + 2); the
    # stable sort merges the two src-sorted runs
    order = np.argsort(src, kind="stable")
    src, dst, w = src[order], dst[order], w[order]
    es = seg[src]
    base = off[es]
    return es, np.stack([src - base, dst - base], axis=1), w


def _angle_visible(y: np.ndarray, src: np.ndarray, dst: np.ndarray,
                   angle: float, angle_abs: bool) -> np.ndarray:
    """Angle constraint (to_graph/strategies.py:739-748): obstructed iff
    atan(slope) < visibility_angle; abs of both when angle_abs."""
    dy = y[dst] - y[src]
    dx = (dst - src).astype(np.float64)
    a = np.arctan(dy / dx)
    va = angle
    if angle_abs:
        a = np.abs(a)
        va = abs(angle)
    keep = a >= va
    # boundary recheck with math.atan (reference uses math.atan on scalars)
    near = np.abs(a - va) <= _BOUNDARY_RTOL * (np.abs(a) + abs(va) + 1.0)
    for t in np.nonzero(near)[0]:
        s = float(dy[t] / dx[t])
        ang = math.atan(s)
        if angle_abs:
            ang = abs(ang)
        keep[t] = not (ang < va)
    return keep


# ---------------------------------------------------------------------------
# Ordinal partition graph  (ref: to_graph/strategies.py:45-141)
# ---------------------------------------------------------------------------

def ordinal_patterns(
    y: np.ndarray,
    w: int,
    tau: int,
    use_quantiles: bool = False,
    Q: int = 4,
) -> np.ndarray:
    """Ordinal patterns of one series: a one-segment call of
    ordinal_patterns_segmented.  Returns int64 array (num_windows, w)."""
    y = np.asarray(y, dtype=np.float64)
    return ordinal_patterns_segmented(y, [len(y)], w, tau,
                                      use_quantiles=use_quantiles, Q=Q)[0]


def ordinal_patterns_segmented(
    values: np.ndarray,
    lengths,
    w: int,
    tau: int,
    use_quantiles: bool = False,
    Q: int = 4,
) -> tuple[np.ndarray, np.ndarray]:
    """Ordinal patterns for every embedding window of every segment.

    Embeddings (strategies.py:52-55): windows y[i : i+w*tau : tau] for
    i in 0..n-w*tau, never crossing a segment.  Rank pattern
    (strategies.py:64-70): stable sort by value, ties keep index order
    (verified [2,2,1] -> (1,2,0)); NaN ranks above every number, as
    np.argsort puts it.  Quantile pattern (strategies.py:58-63): rank =
    #within-window thresholds strictly below the value, thresholds =
    np.quantile(window, linspace(0,1,Q+1)[1:-1]).  Both are row-wise, so a
    window's pattern does not depend on the rest of the batch.

    Returns (patterns[M, w] int64 in segment order, npat[S] = windows per
    segment).
    """
    y = np.asarray(values, dtype=np.float64)
    off = _offsets(lengths)
    npat = np.maximum(np.diff(off) - w * tau + 1, 0)
    starts = np.repeat(off[:-1], npat) + _ragged_offsets(npat)
    E = y[starts[:, None] + np.arange(0, w * tau, tau)[None, :]]
    m = len(E)
    if use_quantiles:
        if not m:
            return np.empty((0, w), dtype=np.int64), npat
        qs = np.linspace(0, 1, Q + 1)[1:-1]
        with np.errstate(invalid="ignore"):  # +-inf windows lerp to NaN
            thr = np.quantile(E, qs, axis=1).T  # (m, Q-1)
        ranks = (E[:, :, None] > thr[:, None, :]).sum(axis=2)
        return ranks.astype(np.int64), npat
    order = np.argsort(E, axis=1, kind="stable")
    ranks = np.empty((m, w), dtype=np.int64)
    rows = np.arange(m)[:, None]
    ranks[rows, order] = np.arange(w)[None, :]
    return ranks, npat


def multivariate_ordinal_patterns(
    series: list[np.ndarray], w: int, tau: int
) -> np.ndarray:
    """Multivariate up/down patterns (strategies.py:72-94): per variable,
    sign(diff)>0 over the window, concatenated variable-major."""
    n = min(len(s) for s in series)
    m = n - w * tau + 1
    if m <= 0:
        return np.empty((0, len(series) * (w - 1)), dtype=np.int64)
    cols = []
    for s in series:
        s = np.asarray(s, dtype=np.float64)
        idx = np.arange(m)[:, None] + np.arange(0, w * tau, tau)[None, :]
        E = s[idx]
        cols.append((np.diff(E, axis=1) > 0).astype(np.int64))
    return np.concatenate(cols, axis=1)


def opg_edges(patterns: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Transition edges between consecutive patterns of one series: a
    one-segment call of opg_edges_segmented.

    Returns (src_patterns[m,w], dst_patterns[m,w], weights[m]) in the row
    order of np.unique over the (src, dst) pattern pairs.
    """
    _, pats, src, dst, wt = opg_edges_segmented(patterns, [len(patterns)])
    return pats[src], pats[dst], wt


def opg_edges_segmented(
    patterns: np.ndarray, npat
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Transition edges between consecutive patterns of every segment
    (segment s owns the next npat[s] rows of `patterns`).

    Weight = transition_count / num_patterns (strategies.py:110-122 -- the
    denominator is the number of PATTERNS of that series, not transitions).

    Each distinct pattern row gets a dense lexicographic id, and the
    (segment, src id, dst id) triples of the transitions that stay inside
    a segment group in one more pass, which sorts them as np.unique sorts
    each series' (src, dst) pattern pairs.  Returns (seg[m], pats[P, w]
    distinct patterns, src[m], dst[m] row indices into pats, weights[m]).
    """
    npat = np.asarray(npat, dtype=np.int64)
    width = patterns.shape[1] if patterns.ndim == 2 else 0
    pats = np.asarray(patterns, dtype=np.int64).reshape(len(patterns), width)
    pid, uniq = _row_ids(pats)
    seg = np.repeat(np.arange(len(npat)), npat)
    inside = np.flatnonzero(seg[:-1] == seg[1:])
    tid, trans = _row_ids(np.stack(
        [seg[inside], pid[inside], pid[inside + 1]], axis=1))
    counts = np.bincount(tid, minlength=len(trans))
    ts = trans[:, 0]
    return ts, uniq, trans[:, 1], trans[:, 2], counts / npat[ts].astype(
        np.float64)


# ---------------------------------------------------------------------------
# Quantile graph  (ref: to_graph/strategies.py:400-476)
# ---------------------------------------------------------------------------

def quantile_bins_indices(
    y: np.ndarray, Q: int
) -> tuple[np.ndarray, np.ndarray]:
    """Literal reference discretization (strategies.py:407-413):
    bins = np.quantile(y, linspace(0,1,Q+1)); bins[0] -= 1e-9;
    indices = np.digitize(y, bins, right=True) - 1."""
    y = np.asarray(y, dtype=np.float64)
    bins = np.quantile(y, np.linspace(0, 1, Q + 1))
    bins[0] -= 1e-9
    idx = np.digitize(y, bins, right=True) - 1
    return bins, idx


def qg_transitions(
    y: np.ndarray, Q: int, phi: int = 1
) -> tuple[np.ndarray, np.ndarray]:
    """Quantile-graph transitions bin(y_t) -> bin(y_{t+phi}) of one series
    with their integer counts: a one-segment call of
    qg_transitions_segmented.  Returns (edges[m,2] int64 sorted,
    counts[m] int64)."""
    y = np.asarray(y, dtype=np.float64)
    _, e, c = qg_transitions_segmented(y, [len(y)], Q, phi)
    return e, c


def qg_transitions_segmented(
    values: np.ndarray, lengths, Q: int, phi: int = 1
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Quantile-graph transitions of every segment with their integer
    counts: (seg[m], edges[m,2] int64, counts[m] int64), sorted by (seg,
    src, dst) as np.unique(axis=0) sorts each series' pairs.

    The bins are the reference's (quantile_bins_indices), computed for all
    segments at once: one sort of the batch by (segment, value), then
    np.quantile's "linear" interpolation written out -- virtual index
    (n-1)*q, lerp a + (b-a)*t, or b - (b-a)*(1-t) where t >= 0.5 -- which
    gives np.quantile's bins bit for bit; a value's bin is the count of
    bins strictly below it, minus one (np.digitize(right=True) - 1).
    A segment with at most phi points, or holding a NaN or +-inf (its
    quantile bins are undefined), has no transitions.
    """
    y = np.asarray(values, dtype=np.float64)
    off = _offsets(lengths)
    n_seg = np.diff(off)
    seg = np.repeat(np.arange(len(n_seg)), n_seg)
    bad = np.bincount(seg[~np.isfinite(y)], minlength=len(n_seg))
    ok = (n_seg > phi) & (bad == 0)
    # sort the batch by (segment, value): any value order, then a stable
    # radix sort by segment id
    order = np.argsort(y)
    order = order[np.argsort(
        seg[order].astype(np.min_scalar_type(len(n_seg))), kind="stable")]
    ys = y[order]
    q = np.linspace(0, 1, Q + 1)
    s_ok = np.flatnonzero(ok)
    n = n_seg[s_ok][:, None]
    virt = (n - 1) * q[None, :]
    prev = np.floor(virt)
    top = virt >= n - 1
    t = virt - prev
    lo = off[s_ok][:, None] + np.where(top, n - 1, prev.astype(np.int64))
    a = ys[lo]
    b = ys[np.where(top, lo, lo + 1)]
    diff = b - a
    bins = np.where(t >= 0.5, b - diff * (1 - t), a + diff * t)
    bins[:, 0] -= 1e-9
    # bin index of every point of an ok segment
    row = np.full(len(n_seg), -1)
    row[s_ok] = np.arange(len(s_ok))
    pts = np.flatnonzero(ok[seg])
    r, v = row[seg[pts]], y[pts]
    bin_of = np.zeros(len(y), dtype=np.int64)
    bin_of[pts] = -1
    for k in range(Q + 1):
        bin_of[pts] += bins[r, k] < v
    # transitions t -> t+phi inside a segment
    t0 = pts[np.flatnonzero(pts + phi < off[seg[pts] + 1])]
    tid, trans = _row_ids(np.stack(
        [seg[t0], bin_of[t0], bin_of[t0 + phi]], axis=1))
    counts = np.bincount(tid, minlength=len(trans))
    return trans[:, 0], trans[:, 1:], counts


def qg_edges(
    y: np.ndarray, Q: int, phi: int = 1
) -> tuple[np.ndarray, np.ndarray]:
    """Quantile-graph transition edges of one series with per-source
    normalization: a one-segment call of qg_edges_segmented.  Returns
    (edges[m,2] int64, weights[m]).  Nodes 0..Q-1 always exist; only edges
    are returned here."""
    y = np.asarray(y, dtype=np.float64)
    _, e, w = qg_edges_segmented(y, [len(y)], Q, phi)
    return e, w


def qg_edges_segmented(
    values: np.ndarray, lengths, Q: int, phi: int = 1
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Quantile-graph transition edges of every segment (strategies.py:
    437-459): weight = count / transitions out of the same source bin of
    the same segment.  Returns (seg[m], edges[m,2] int64, weights[m])."""
    seg, e, counts = qg_transitions_segmented(values, lengths, Q, phi)
    # the rows are sorted by (seg, src): each source's successors are one
    # run, and their sum of integer counts is exact in float64
    w = counts.astype(np.float64)
    if not len(w):
        return seg, e, w
    first = np.ones(len(w), dtype=bool)
    first[1:] = (seg[1:] != seg[:-1]) | (e[1:, 0] != e[:-1, 0])
    starts = np.flatnonzero(first)
    run = np.cumsum(first) - 1
    return seg, e, w / np.add.reduceat(w, starts)[run]


def qg_mean_jump_length(y: np.ndarray, Q: int, phi_max: int) -> np.ndarray:
    """mean_jump_length (strategies.py:415-425): for each phi in 1..phi_max,
    mean over edges of |i-j| * weight."""
    out = []
    for phi in range(1, phi_max + 1):
        e, w = qg_edges(y, Q, phi)
        jumps = np.abs(e[:, 0] - e[:, 1]) * w
        out.append(np.mean(jumps) if len(jumps) else np.nan)
    return np.array(out)


# ---------------------------------------------------------------------------
# Proximity networks  (ref: to_graph/strategies.py:175-397)
# ---------------------------------------------------------------------------

def _segment_matrix(y: np.ndarray, L: int) -> np.ndarray:
    n = len(y)
    m = n - L + 1
    if m <= 0:
        return np.empty((0, L))
    idx = np.arange(m)[:, None] + np.arange(L)[None, :]
    return np.asarray(y, dtype=np.float64)[idx]


def proximity_cycle_edges(
    y: np.ndarray, L: int, threshold: float
) -> tuple[np.ndarray, np.ndarray]:
    """Cycle/correlation network (strategies.py:257-309 — the two methods are
    the same computation): nodes = stride-1 length-L segments, edge (i,j),
    i<j, iff pearson corr STRICTLY > threshold; weight = corr.

    Vectorized centered-dot-product correlation with a boundary recheck via
    per-pair np.corrcoef (the reference's literal call) so the strict->
    decision bit matches.
    """
    S = _segment_matrix(y, L)
    m = len(S)
    if m < 2:
        return np.empty((0, 2), dtype=np.int64), np.empty(0)
    C = S - S.mean(axis=1, keepdims=True)
    norm = np.sqrt((C * C).sum(axis=1))
    denom = norm[:, None] * norm[None, :]
    with np.errstate(invalid="ignore", divide="ignore"):
        corr = (C @ C.T) / denom
    iu, ju = np.triu_indices(m, k=1)
    cv = corr[iu, ju]
    tol = _BOUNDARY_RTOL * (np.abs(cv) + abs(threshold) + 1.0)
    keep = cv > threshold + tol
    near = ~keep & (cv > threshold - tol)
    wv = cv.copy()
    for t in np.nonzero(near)[0]:
        c = float(np.corrcoef(S[iu[t]], S[ju[t]])[0, 1])
        keep[t] = c > threshold
        wv[t] = c
    # NaN correlations (zero-variance segments) never satisfy strict >
    keep &= ~np.isnan(cv)
    e = np.stack([iu[keep], ju[keep]], axis=1).astype(np.int64)
    return e, wv[keep]


def proximity_epsilon_edges(
    y: np.ndarray, epsilon: float
) -> tuple[np.ndarray, np.ndarray]:
    """eps-recurrence network (strategies.py:334-351): nodes = points, edge
    (i,j), i<j, iff |y_i - y_j| <= eps; weight = distance.  Exact."""
    y = np.asarray(y, dtype=np.float64)
    n = len(y)
    iu, ju = np.triu_indices(n, k=1)
    d = np.abs(y[iu] - y[ju])
    keep = d <= epsilon
    e = np.stack([iu[keep], ju[keep]], axis=1).astype(np.int64)
    return e, d[keep]


def _pdist_matrix(y: np.ndarray) -> np.ndarray:
    """Replicates squareform(pdist(y.reshape(-1,1))) bit-for-bit:
    euclidean distance of 1-D points = sqrt((a-b)^2) (NOT abs)."""
    y = np.asarray(y, dtype=np.float64)
    d = y[:, None] - y[None, :]
    return np.sqrt(d * d)


def proximity_knn_edges(
    y: np.ndarray, k: int, tie_order: str = "reference"
) -> tuple[np.ndarray, np.ndarray]:
    """k-NN network (strategies.py:353-372): each node connects to
    argsort(dist_row)[1:k] — i.e. k-1 neighbors (reference off-by-one
    preserved).  Undirected dedup like nx.  Weight = distance (last
    writer wins in nx; distances are symmetric so equal either way).

    tie_order:
      * "reference" (default) — ties broken by np.argsort's default
        (introsort) order, reproduced by calling the same argsort:
        bit-parity with the reference even on tied inputs
        (tests/test_kernels_parity.py).
      * "stable" — self excluded explicitly, then the k-1 smallest by
        (distance, neighbor index): a DETERMINISTIC total order whose
        edge membership a SQL oracle can express as a windowed
        row_number() over (dist, j) — the driver-contract variant.
        Differs from "reference" only when two distances tie exactly
        in float64."""
    D = _pdist_matrix(y)
    n = len(D)
    seen: dict[tuple[int, int], float] = {}
    if tie_order not in ("reference", "stable"):
        raise ValueError(f"tie_order must be 'reference' or 'stable', "
                         f"got {tie_order!r}")
    for i in range(n):
        if tie_order == "reference":
            nn = np.argsort(D[i])[1:k]
        else:
            # stable mergesort on dist breaks ties by index; drop self
            # (dist 0, index order puts any tied-zero j<i first, so self
            # must be removed by identity, not by position)
            order = np.argsort(D[i], kind="stable")
            nn = order[order != i][: k - 1]
        for j in nn:
            a, b = (i, int(j)) if i < j else (int(j), i)
            seen[(a, b)] = float(D[i, j])
    if not seen:
        return np.empty((0, 2), dtype=np.int64), np.empty(0)
    e = np.array(sorted(seen), dtype=np.int64)
    w = np.array([seen[tuple(t)] for t in e.tolist()])
    return e, w


def proximity_annn_edges(
    y: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """Adaptive NN network (strategies.py:374-397): per node i,
    threshold_i = mean(sorted(dist_row)[1:k+1]) * 1.2; connect all j != i
    with dist STRICTLY < threshold_i.  Literal arithmetic reproduced."""
    D = _pdist_matrix(y)
    n = len(D)
    seen: dict[tuple[int, int], float] = {}
    for i in range(n):
        sd = np.sort(D[i])
        thr = np.mean(sd[1: k + 1]) * 1.2
        js = np.nonzero((D[i] < thr) & (np.arange(n) != i))[0]
        for j in js:
            a, b = (i, int(j)) if i < j else (int(j), i)
            seen[(a, b)] = float(D[i, j])
    if not seen:
        return np.empty((0, 2), dtype=np.int64), np.empty(0)
    e = np.array(sorted(seen), dtype=np.int64)
    w = np.array([seen[tuple(t)] for t in e.tolist()])
    return e, w


# ---------------------------------------------------------------------------
# Per-graph metric kernels (run by operators/graphmetrics.py)
# ---------------------------------------------------------------------------
# ts2g2 emits millions of SMALL per-series graphs (one per segment), so graph
# metrics run map-only: the whole metric on each series' edge array inside
# the same Arrow batch that built it, zero shuffles.  Every float result
# follows a rounding contract (round_half_up or quantize_ieee) that the
# contract's DuckDB oracles replay.

def round_half_up(x: np.ndarray, dp: int) -> np.ndarray:
    """Vectorized twin of Spark's ``round(double, dp)`` (HALF_UP on the
    shortest decimal repr, via JVM BigDecimal.valueOf).  Fast path:
    floor/ceil at +-0.5; values whose scaled fraction sits inside a
    tolerance band of an exact .5 are re-rounded through Python's
    shortest-repr Decimal path, which matches BigDecimal.valueOf exactly
    (both parse the shortest round-trip decimal form).  Same boundary
    discipline as the visibility kernels above."""
    import decimal

    x = np.asarray(x, dtype=np.float64)
    scale = 10.0 ** dp
    y = x * scale
    fast = np.where(y >= 0, np.floor(y + 0.5), np.ceil(y - 0.5)) / scale
    frac = np.abs(y - np.trunc(y))
    near = np.abs(frac - 0.5) < 1e-6
    if near.any():
        q = decimal.Decimal(1).scaleb(-dp)
        out = fast.copy()
        for i in np.nonzero(near)[0]:
            out[i] = float(
                decimal.Decimal(repr(float(x[i]))).quantize(
                    q, rounding=decimal.ROUND_HALF_UP
                )
            )
        return out
    return fast


def quantize_ieee(x, dp: int):
    """floor(x*10^dp + 0.5)/10^dp — the recurrence-safe quantizer: the
    same three IEEE float ops in every engine (numpy, Spark
    floor()/lit(), DuckDB floor()), unlike decimal round()
    implementations (BigDecimal vs DuckDB) which disagree in the last
    decimal unit just often enough to cascade through feedback
    recurrences.  Half-up toward +inf at the boundary."""
    scale = 10.0 ** dp
    return np.floor(np.asarray(x, dtype=np.float64) * scale + 0.5) / scale


class _Graph(NamedTuple):
    """One graph's adjacency, as every metric kernel below reads it."""

    nodes: np.ndarray   # sorted labels; every other field holds indices
    degree: np.ndarray  # per node
    ia: np.ndarray      # the canonical edges ia < ib, sorted by key
    ib: np.ndarray
    key: np.ndarray     # ia * n + ib, unique and sorted
    indptr: np.ndarray  # CSR of both orientations: node u's entries are
    src: np.ndarray     # [indptr[u], indptr[u + 1]), with src == u and
    dst: np.ndarray     # dst its neighbours, ascending


def _graph(edges: np.ndarray) -> _Graph:
    """Canonicalize an (m, 2) integer edge array of any orientation once:
    self-loops are dropped, and one sort of packed int64 keys, both
    orientations of every edge, collapses duplicates of either orientation
    and yields the CSR; its entries with src < dst are the canonical edges.
    Nodes are the endpoints of the remaining edges (mirrors nx.Graph
    insert semantics)."""
    e = np.asarray(edges, dtype=np.int64).reshape(-1, 2)
    e = e[e[:, 0] != e[:, 1]]
    nodes, inv = np.unique(e, return_inverse=True)
    n = np.int64(max(len(nodes), 1))  # >= 1: divmod of an edgeless graph
    a, b = inv.reshape(-1, 2).T
    both = np.unique(np.concatenate([a * n + b, b * n + a]))
    src, dst = np.divmod(both, n)
    up = src < dst
    ia, ib, key = src[up], dst[up], both[up]
    degree = np.bincount(src, minlength=len(nodes))
    indptr = np.concatenate(([0], np.cumsum(degree)))
    return _Graph(nodes, degree, ia, ib, key, indptr, src, dst)


def _is_edge(g: _Graph, u: np.ndarray, v: np.ndarray) -> np.ndarray:
    """Whether each index pair u < v is an edge of g (g has >= 1 edge)."""
    k = u * len(g.nodes) + v
    return g.key[np.minimum(np.searchsorted(g.key, k), len(g.key) - 1)] == k


#: `_bfs` runs sources in blocks of at most this many (source, node) plus
#: (source, adjacency entry) cells, ~26 bytes of scratch each (<= ~55 MB).
#: Of 800 random-walk series of 150-200 points, every NVG and all but 21
#: HVGs (2m up to ~14k: two blocks) run as one block; a 5000-node sparse
#: graph as ~90.  HVG's cost is the O(n*m) gather, not per-call overhead.
_BFS_CELLS = 1 << 21


def _bfs(g: _Graph):
    """Breadth-first search from every node, one block of consecutive
    sources at a time.  Yields per block (dist, tree): dist[i, v] the hop
    count from the block's i-th source to v, -1 where unreached;
    tree[d - 1] the (pred, succ) flat keys of dist of the shortest-path
    DAG edges into depth d, ordered by pred then succ.  Each level is one
    gather of the CSR rows of every source's frontier, kept sorted."""
    n = len(g.nodes)
    step = max(1, _BFS_CELLS // (n + len(g.src)))
    for lo in range(0, n, step):
        src = np.arange(lo, min(lo + step, n))
        frontier = (src - lo) * n + src
        dist = np.full(len(src) * n, -1, dtype=np.int64)
        dist[frontier] = 0
        tree = []
        while len(frontier):
            u = frontier % n
            lens = g.degree[u]
            k = np.repeat(g.indptr[u], lens) + _ragged_offsets(lens)
            succ = np.repeat(frontier - u, lens) + g.dst[k]
            down = dist[succ] < 0
            tree.append((np.repeat(frontier, lens)[down], succ[down]))
            frontier = np.unique(tree[-1][1])
            dist[frontier] = len(tree)
        yield dist.reshape(len(src), n), tree


def _wedges(hub: np.ndarray, nb: np.ndarray):
    """Every wedge u - z - v of an adjacency grouped by hub with each
    hub's neighbours ascending: (z, u, v) with u < v, each unordered pair
    of one hub's neighbours once.  Rank expansion: the neighbour at rank r
    of its hub's run pairs, as v, with the r neighbours before it; wedges
    come out ordered by the position of v, then of u."""
    rank = _ragged_offsets(np.bincount(hub))
    j = np.repeat(np.arange(len(hub), dtype=np.int64), rank)
    i = j - np.repeat(rank, rank) + _ragged_offsets(rank)
    return hub[j], nb[i], nb[j]


def _triangles(g: _Graph) -> np.ndarray:
    """Triangles per node of a graph with >= 1 edge.  Each edge points
    from its lower (degree, index) end to its higher one; an oriented
    wedge z -> u, z -> v is a triangle iff (u, v) is an edge, so each
    triangle is counted once, at its lowest node.  Σ C(out-degree, 2)
    wedges, out-degree <= sqrt(2m) under this order."""
    d = g.degree
    up = (d[g.dst] > d[g.src]) | ((d[g.dst] == d[g.src]) & (g.dst > g.src))
    z, u, v = _wedges(g.src[up], g.dst[up])
    closed = _is_edge(g, u, v)
    return np.bincount(np.concatenate([z[closed], u[closed], v[closed]]),
                       minlength=len(g.nodes))


def graph_summary_kernel(edges: np.ndarray) -> dict:
    """Per-graph summary over one edge array: node/edge counts, density,
    degree stats; the float fields rounded HALF_UP to 9 dp."""
    g = _graph(edges)
    n = len(g.nodes)
    m = len(g.ia)
    if n == 0:
        return {"n_nodes": 0, "n_edges": 0, "density": 0.0,
                "max_degree": 0, "avg_degree": 0.0}
    density = (2.0 * m) / (n * (n - 1)) if n > 1 else 0.0
    return {
        "n_nodes": int(n),
        "n_edges": int(m),
        "density": float(round_half_up(np.array([density]), 9)[0]),
        "max_degree": int(g.degree.max()),
        "avg_degree": float(
            round_half_up(np.array([int(g.degree.sum()) / n]), 9)[0]
        ),
    }


def graph_clustering_kernel(
    edges: np.ndarray,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Local clustering per node of one small graph: (nodes, degree,
    triangles, lcc), triangles counted by one oriented-wedge pass
    (`_triangles`) at every size.  lcc = round(2T / (d (d-1)), 9)
    HALF_UP, 0.0 for degree < 2 (the networkx convention)."""
    g = _graph(edges)
    n = len(g.nodes)
    if n == 0:
        z = np.empty(0, dtype=np.int64)
        return z, z, z, np.empty(0)
    degree = g.degree
    tri = _triangles(g)
    lcc = np.zeros(n, dtype=np.float64)
    mask = degree > 1
    lcc[mask] = round_half_up(
        2.0 * tri[mask] / (degree[mask] * (degree[mask] - 1)), 9
    )
    return g.nodes, degree, tri, lcc


def graph_mixing_kernel(
    edges: np.ndarray, round_dp: int = 6,
) -> tuple[float | None, float | None] | None:
    """Degree assortativity + global transitivity of one small graph:
    (assortativity, transitivity), None for an edgeless graph.

    assortativity = Pearson corr of (deg(u), deg(v)) over the
    symmetrized edge list (each undirected edge counted in both
    orientations — the joint degree distribution convention), computed
    as the EXACT integer-sum rational
    (n*sum(du*dv) - sum(du)^2) / (n*sum(du^2) - sum(du)^2) — the x/y
    marginals coincide under symmetrization, so the sqrt cancels;
    transitivity = 3*triangles / wedges = sum_v tri(v) / sum_v C(d_v,2).
    Degenerate cases are None: constant degrees, no wedges.  Quantized
    with floor(x*10^dp + 0.5)/10^dp (quantize_ieee)."""
    g = _graph(edges)
    if len(g.nodes) == 0:
        return None
    def quant(x: float) -> float:
        return float(quantize_ieee(x, round_dp)) + 0.0

    degree = g.degree
    da = degree[g.ia]
    db = degree[g.ib]
    m2 = 2 * len(da)  # symmetrized pair count
    sx = int(da.sum() + db.sum())
    sxy = int(2 * (da * db).sum())
    sxx = int((da * da).sum() + (db * db).sum())
    den = m2 * sxx - sx * sx
    assort = quant(float(m2 * sxy - sx * sx) / float(den)) \
        if den > 0 else None
    tri = _triangles(g)
    # d(d-1)/2 and the triangle counts are exact integers in double, so
    # the sums (and their ratio) are order-independent bit-for-bit
    wedges = float((degree * (degree - 1) / 2).sum())
    trans = quant(float(tri.sum()) / wedges) if wedges > 0 else None
    return assort, trans


def graph_path_metrics_kernel(edges: np.ndarray) -> dict | None:
    """Shortest-path summary of one small undirected graph:
    {n_nodes, diameter, radius, avg_spl, connected} — the visibility-
    graph literature's path-length features (average shortest path
    length separates series classes; HVGs are always connected since
    adjacent points see each other).

    One all-sources BFS (`_bfs`); all quantities are exact integers or
    one exact-integer ratio (sum of distances / ordered reachable pairs),
    so the result is engine-independent with no rounding contract needed
    (avg_spl emitted at full double precision of one division).  On a
    DISCONNECTED graph, eccentricities and the average are over REACHABLE
    pairs only and `connected` is False.  O(n*m) per graph."""
    g = _graph(edges)
    n = len(g.nodes)
    if n == 0:
        return None
    ecc, total_sum, total_pairs, connected = [], 0, -n, True  # no (s, s)
    for dist, _tree in _bfs(g):
        reach = dist >= 0
        ecc.append(dist.max(axis=1))
        total_sum += int(dist[reach].sum())
        total_pairs += int(reach.sum())
        connected &= bool(reach.all())
    ecc = np.concatenate(ecc)
    avg = float(total_sum) / total_pairs if total_pairs > 0 else None
    return {
        "n_nodes": n,
        "diameter": int(ecc.max()),
        "radius": int(ecc.min()),
        "avg_spl": avg,
        "connected": connected,
    }


def graph_kcore_kernel(
    edges: np.ndarray,
) -> tuple[np.ndarray, np.ndarray]:
    """Core number per node of one small undirected graph (the k-core
    decomposition): (nodes, core) with core[i] = the largest k such
    that node i belongs to the k-core (max subgraph of min degree k).

    Simultaneous-peel phases, the parallel-friendly formulation an SQL
    recursion can replay verbatim: at phase k, repeatedly remove ALL
    active nodes with active-degree < k at once (a node removed during
    phase k has core number k-1); when none qualify, k advances.  Pure
    integer arithmetic on a deterministic schedule — engine-independent
    with no rounding contract, like the path-metrics kernel.
    """
    g = _graph(edges)
    n = len(g.nodes)
    if n == 0:
        z = np.empty(0, dtype=np.int64)
        return z, z
    deg = g.degree.copy()
    core = np.zeros(n, dtype=np.int64)
    active = np.ones(n, dtype=bool)
    k = 1
    while active.any():
        weak = active & (deg < k)
        if not weak.any():
            k += 1
            continue
        core[weak] = k - 1
        active[weak] = False
        # decrement survivors adjacent to this round's removals;
        # removed-removed edges decrement nothing (dst inactive)
        sel = weak[g.src] & active[g.dst]
        deg -= np.bincount(g.dst[sel], minlength=n)
    return g.nodes, core


def graph_lpa_kernel(
    edges: np.ndarray,
    n_iter: int = 4,
) -> tuple[np.ndarray, np.ndarray]:
    """Synchronous label propagation (Raghavan et al. 2007, made
    deterministic) over one small undirected graph: (nodes, community)
    after exactly n_iter rounds.  Labels start as the node ids; each
    round EVERY node simultaneously adopts the label most frequent
    among its neighbors' previous labels, ties broken by the SMALLEST
    label — no RNG, no update-order dependence, pure integer counting,
    so an SQL oracle replays the schedule verbatim (fixed iterations
    sidestep sync-LPA's possible 2-cycles the same way the pagerank
    contract fixes its iteration count)."""
    g = _graph(edges)
    return g.nodes, _lpa(g, n_iter)


def _lpa(g: _Graph, n_iter: int) -> np.ndarray:
    """graph_lpa_kernel's labels, aligned to g.nodes."""
    if n_iter < 1:
        raise ValueError(f"graph_lpa_kernel: need n_iter >= 1, got {n_iter}")
    lab = g.nodes.copy()
    if len(lab) == 0:
        return lab
    for _ in range(n_iter):
        nl = lab[g.dst]
        # counts per (node, neighbor-label) via grouped run-lengths
        order = np.lexsort((nl, g.src))
        uu, ll = g.src[order], nl[order]
        new_grp = np.concatenate(
            [[True], (uu[1:] != uu[:-1]) | (ll[1:] != ll[:-1])])
        cnt = np.bincount(np.cumsum(new_grp) - 1)
        gu, gl = uu[new_grp], ll[new_grp]
        # argmax per node: (cnt desc, label asc), first row per node
        o2 = np.lexsort((gl, -cnt, gu))
        first = np.concatenate([[True], gu[o2][1:] != gu[o2][:-1]])
        new_lab = np.empty(len(lab), dtype=np.int64)
        new_lab[gu[o2][first]] = gl[o2][first]
        lab = new_lab  # every node has >= 1 edge, so fully assigned
    return lab


def graph_modularity_kernel(
    edges: np.ndarray,
    n_iter: int = 4,
    round_dp: int = 9,
) -> tuple[int, float]:
    """(n_communities, modularity) of the deterministic LPA partition
    (graph_lpa_kernel, same n_iter): Newman modularity
    Q = sum_c e_c/m - (deg_c/2m)^2 computed as ONE exact-integer
    rational (4m*sum_ec - sum deg_c^2) / 4m^2 — both operands are exact
    int64 well under 2^53, so the single IEEE division is bit-identical
    in every engine, then quantize_ieee(round_dp) (the
    graph_mixing_kernel posture).  Returns (0, nan-free 0.0) for an edgeless graph."""
    g = _graph(edges)
    m = len(g.ia)
    if m == 0:
        return 0, 0.0
    comm, cidx = np.unique(_lpa(g, n_iter), return_inverse=True)
    sum_ec = int(np.sum(cidx[g.ia] == cidx[g.ib]))
    deg_c = np.bincount(cidx, weights=g.degree.astype(np.float64))
    sum_dc2 = int(np.sum((deg_c.astype(np.int64)) ** 2))
    q = (4 * m * sum_ec - sum_dc2) / float(4 * m * m)
    return int(len(comm)), float(quantize_ieee(q, round_dp))


def graph_betweenness_kernel(
    edges: np.ndarray, normalized: bool = True, round_dp: int = 9,
) -> tuple[np.ndarray, np.ndarray]:
    """Exact betweenness centrality of one small undirected graph:
    (nodes, bc) via Brandes' algorithm over `_bfs`: path counts σ added
    level by level down its shortest-path DAG, dependencies δ back up
    (np.add.at in the DAG's edge order — no per-edge Python).

    Normalization matches networkx betweenness_centrality(
    normalized=True): pair double-counting halved, then scaled by
    2/((n-1)(n-2)) for n > 2.  Deterministic: each (source, node) sums
    its terms with sources, frontier nodes and neighbours ascending, and
    bc sums the sources' δ rows in source order, rounded HALF_UP at the
    end only.  O(n*m) per graph — the per-series segment regime; not for
    one huge graph."""
    g = _graph(edges)
    n = len(g.nodes)
    if n == 0:
        return g.nodes, np.empty(0)
    bc = np.zeros(n, dtype=np.float64)
    for dist, tree in _bfs(g):
        roots = np.flatnonzero(dist == 0)
        sigma = np.zeros(dist.size)
        sigma[roots] = 1.0
        for pred, succ in tree:
            np.add.at(sigma, succ, sigma[pred])
        delta = np.zeros(dist.size)
        for pred, succ in reversed(tree):
            np.add.at(delta, pred,
                      sigma[pred] / sigma[succ] * (1.0 + delta[succ]))
        delta[roots] = 0.0
        for row in delta.reshape(dist.shape):
            bc += row
    bc /= 2.0  # undirected: each (s, t) pair contributes twice
    if normalized and n > 2:
        bc *= 2.0 / ((n - 1) * (n - 2))
    return g.nodes, round_half_up(bc, round_dp)


def graph_pagerank_kernel(
    edges: np.ndarray,
    iters: int = 8,
    damping: float = 0.85,
    round_dp: int = 9,
) -> tuple[np.ndarray, np.ndarray]:
    """Fixed-iteration PageRank on one small undirected graph: (nodes,
    ranks).  Ranks are rounded HALF_UP to round_dp at EVERY iteration (including the
    uniform init), shares rank/degree unrounded, no dangling term
    (every node has degree >= 1 by construction).  Each node sums its
    inflow in ascending-neighbour order (one adjacency row)."""
    g = _graph(edges)
    n = len(g.nodes)
    if n == 0:
        return g.nodes, np.empty(0)
    rank = round_half_up(np.full(n, 1.0 / n), round_dp)
    base = (1.0 - damping) / n
    for _ in range(iters):
        share = rank / g.degree
        inflow = np.bincount(g.src, weights=share[g.dst], minlength=n)
        rank = round_half_up(base + damping * inflow, round_dp)
    return g.nodes, rank


def graph_wl_kernel(
    edges: np.ndarray,
    n_iter: int = 3,
) -> tuple[np.ndarray, np.ndarray]:
    """Weisfeiler-Lehman relabeling (1-WL color refinement) over one
    small undirected graph: (nodes, final_label) after exactly n_iter
    rounds.  Labels start as integer degrees; each round every node's
    new label is h64 of "own_label|sorted,neighbor,labels" — the md5
    hash shared across engines — so the refinement is RNG-free and an
    SQL oracle replays each round verbatim (string_agg order by label
    == sorted integer join; the '|' separator disambiguates the own
    label from the neighbor list).  Two graphs that 1-WL distinguishes
    get different label multisets; hash the sorted multiset for a
    graph fingerprint (see graphmetrics.wl_from_series)."""
    from ts2g2_spark.functions.hashing import h64_py

    if n_iter < 1:
        raise ValueError(f"graph_wl_kernel: need n_iter >= 1, got {n_iter}")
    g = _graph(edges)
    n = len(g.nodes)
    if n == 0:
        z = np.empty(0, dtype=np.int64)
        return z, z
    lab = g.degree
    ptr = g.indptr.tolist()
    for _ in range(n_iter):
        nb = lab[g.dst]
        # every node's neighbour labels sorted, formatted once per round
        words = list(map(str, nb[np.lexsort((nb, g.src))].tolist()))
        own = lab.tolist()
        lab = np.array([h64_py(f"{own[v]}|" + ",".join(words[a:b]))
                        for v, (a, b) in enumerate(zip(ptr, ptr[1:]))],
                       dtype=np.int64)
    return g.nodes, lab


def link_prediction_kernel(
    edges: np.ndarray, min_cn: int = 1,
    max_hub_degree: int | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Common-neighbor / Jaccard / Adamic-Adar scores for every
    NON-edge pair sharing >= min_cn hubs, over one small graph's edge
    array (Liben-Nowell & Kleinberg 2003): cn and the degree terms are
    exact integers, jaccard is ONE IEEE double division, and
    Adamic-Adar is a SEQUENTIAL fold of 1/ln(deg_z) over the hub degree
    list sorted ASCENDING — the operand order of the DuckDB
    list_reduce oracle, so both are bit-identical before rounding (the
    sort is total on the folded values: equal degrees contribute equal
    terms).  Returns RAW unrounded doubles; the caller applies
    the repo's rounding contract JVM-side (F.round, HALF_UP).

    Fully vectorized: the wedges are `_wedges` over the adjacency
    (sum-of-deg^2 rows), the fold is a rank-position loop bounded by
    max(cn), each rank one contiguous slice of the rank-sorted wedges.
    Returns (u, v, cn, jaccard_raw, aa_raw) with u < v in original
    node labels.

    `max_hub_degree` is the sum-deg^2 guard (the LSH hot-bucket-cap
    posture): hubs whose degree exceeds it contribute NO wedges — a
    single k-degree hub otherwise emits k^2/2 candidate rows, and on
    high-entropy series (SCALE.md measured 305-point raw token streams
    at ~59k candidates/series) that budget, not the edge count, is the
    cost.  cn/jaccard/aa then count only wedges through kept hubs,
    while du/dv stay TRUE degrees.  None (default) = exact."""
    if min_cn < 1:
        raise ValueError(
            f"link_prediction_kernel: need min_cn >= 1, got {min_cn=}")
    if max_hub_degree is not None and max_hub_degree < 1:
        raise ValueError("link_prediction_kernel: need max_hub_degree "
                         f">= 1, got {max_hub_degree=}")
    g = _graph(edges)
    zi = np.empty(0, dtype=np.int64)
    zd = np.empty(0, dtype=np.float64)
    hub, nb = g.src, g.dst
    if max_hub_degree is not None:
        # over-cap hubs' wedges never materialize (du/dv below still
        # read true degrees)
        keep_e = g.degree[hub] <= max_hub_degree
        hub, nb = hub[keep_e], nb[keep_e]
    z, u, v = _wedges(hub, nb)
    if len(z) == 0:
        return zi, zi, zi, zd, zd
    n = len(g.nodes)
    dz = g.degree[z]
    key = u * np.int64(n) + v
    order2 = np.lexsort((dz, key))
    key_s = key[order2]
    dz_s = dz[order2].astype(np.float64)
    uniq, cn = np.unique(key_s, return_counts=True)
    # sequential ascending fold, vectorized across pairs: one pass per
    # rank position adds each pair's k-th smallest 1/ln(dz) term — the
    # exact per-pair operand order of the oracle's fold.  The wedges are
    # ordered by rank once, so rank k's terms are one contiguous slice.
    seg_id = np.repeat(np.arange(uniq.shape[0], dtype=np.int64), cn)
    pos = _ragged_offsets(cn)
    by_pos = np.argsort(pos, kind="stable")
    cut = np.concatenate(([0], np.cumsum(np.bincount(pos))))
    seg_k, terms_k = seg_id[by_pos], (1.0 / np.log(dz_s))[by_pos]
    aa = np.zeros(uniq.shape[0], dtype=np.float64)
    for lo, hi in zip(cut[:-1].tolist(), cut[1:].tolist()):
        aa[seg_k[lo:hi]] += terms_k[lo:hi]  # <=1 term per pair per rank
    uu, vv = np.divmod(uniq, n)
    keep = (cn >= min_cn) & ~_is_edge(g, uu, vv)
    uu, vv = uu[keep], vv[keep]
    cnk = cn[keep].astype(np.int64)
    du = g.degree[uu]
    dv = g.degree[vv]
    jacc = cnk.astype(np.float64) / (du + dv - cnk).astype(np.float64)
    return g.nodes[uu], g.nodes[vv], cnk, jacc, aa[keep]


# ---------------------------------------------------------------------------
# Series statistics, forecasts and linking (run on the Arrow emitter by
# operators/seriesstats.py, metrics.py, eventseq.py and linking.py)
# ---------------------------------------------------------------------------
# The row kernels take one series (or a pair of series) and return one
# sequence per output column, all empty for no row.  The segmented ones
# take a run's flat buffer plus its segment lengths and step every segment
# of the run together through one (lanes, T) grid.


def theil_sen_kernel(sec: np.ndarray, y: np.ndarray,
                     out_dp: int) -> tuple[list, ...]:
    """One series' Theil-Sen (n_buckets, slope, intercept) from its
    bucket epoch seconds and means; no row for < 2 buckets."""
    if len(y) < 2:
        return [], [], []
    t = sec.astype(np.float64) / 3600.0
    i, j = np.triu_indices(len(y), 1)
    slope = float(np.median((y[j] - y[i]) / (t[j] - t[i])))
    intercept = float(np.median(y - slope * t))
    return [len(y)], [_quant(slope, out_dp)], [_quant(intercept, out_dp)]


def _quant(x: float, dp: int) -> float:
    """quantize_ieee of a scalar, -0.0 canonicalized."""
    return float(quantize_ieee(x, dp)) + 0.0


def mann_kendall_kernel(y: np.ndarray, z_crit: float,
                        out_dp: int) -> tuple[list, ...]:
    """One series' Mann-Kendall (n_buckets, s_stat, var_s, z, trend)
    from its bucket means; no row for < 2 buckets."""
    n = len(y)
    if n < 2:
        return [], [], [], [], []
    i, j = np.triu_indices(n, 1)
    s = int(np.sign(y[j] - y[i]).sum())
    _, tcnt = np.unique(y, return_counts=True)
    t = tcnt[tcnt > 1].astype(np.int64)
    var_num = (n * (n - 1) * (2 * n + 5)
               - int((t * (t - 1) * (2 * t + 5)).sum()))
    var_s = var_num / 18.0
    if s == 0:
        z = 0.0
    else:
        adj = s - 1 if s > 0 else s + 1
        z = _quant(adj / np.sqrt(var_s), out_dp)
    trend = ("no trend" if abs(z) <= z_crit
             else "increasing" if z > 0 else "decreasing")
    return [n], [s], [var_s], [z], [trend]


def matrix_profile_kernel(x: np.ndarray, m: int, excl: int, round_dp: int,
                          max_subsequences: int) -> tuple[np.ndarray, ...]:
    """One series' matrix profile rows (pos, nn_pos, dist); none when it
    has < 2 subsequences."""
    n = len(x)
    p = n - m + 1  # number of subsequences
    if p < 2:
        return [], [], []
    if p > max_subsequences:
        raise ValueError(
            f"matrix_profile: series has {p} subsequences "
            f"(> max_subsequences={max_subsequences}); the "
            f"profile is O(n^2) per series — raise the cap "
            f"explicitly if this is intended")
    idx = np.arange(p)[:, None] + np.arange(m)[None, :]
    W = x[idx]
    mu = W.mean(axis=1)
    sig = W.std(axis=1)
    const = sig <= 1e-12
    nn = np.empty(p, dtype=np.int64)
    nd = np.empty(p, dtype=np.float64)
    pos_all = np.arange(p)
    for lo in range(0, p, 2048):
        hi = min(lo + 2048, p)
        G = W[lo:hi] @ W.T
        blk = slice(lo, hi)
        with np.errstate(invalid="ignore", divide="ignore"):
            rho = ((G - m * mu[blk, None] * mu[None, :])
                   / (m * sig[blk, None] * sig[None, :]))
        d2 = 2.0 * m * (1.0 - rho)
        cb = const[blk]
        # constant-vs-constant -> 0; constant-vs-varying -> sqrt(m)
        # (stumpy convention)
        both = cb[:, None] & const[None, :]
        one = cb[:, None] ^ const[None, :]
        d2 = np.where(both, 0.0, d2)
        d2 = np.where(one, float(m), d2)
        # trivial-match exclusion zone
        tri = np.abs(pos_all[blk, None] - pos_all[None, :]) <= excl
        d2 = np.where(tri, np.inf, d2)
        j = np.argmin(d2, axis=1)
        nn[blk] = j
        nd[blk] = np.sqrt(np.maximum(d2[np.arange(hi - lo), j], 0.0))
    # no non-trivial neighbor at all (every candidate sits inside the
    # exclusion zone): nn = -1, dist = inf — the stumpy convention, not
    # the argmin's index 0
    nn[np.isinf(nd)] = -1
    return pos_all, nn, quantize_ieee(nd, round_dp)


def _pelt_segments(y, beta: float, msz: int):
    """The pure PELT DP (module-level so tests can fuzz it against the
    exhaustive DP without Spark): returns [(start, end), ...] segment
    bounds, end-exclusive, for the L2 cost with penalty `beta` and
    minimum segment length `msz`.

    Pruning with a VALIDITY DELAY: the classic prune (drop s once
    F(s) + C(s,t) > F(t)) is only sound when the dominating candidate t
    is itself usable at every future T — which min_size breaks for
    T in (t, t + msz).  A violating candidate is therefore only MARKED
    at t and keeps participating until T >= t_mark + msz, after which
    domination genuinely holds (C_L2 is subadditive).  Without the
    delay, msz >= 2 returns provably suboptimal segmentations
    (~1.6% of random series in fuzzing).  DP argmin ties resolve to
    the smallest candidate."""

    y = np.asarray(y, dtype=np.float64)
    n = len(y)
    s1 = np.concatenate([[0.0], np.cumsum(y)])
    s2 = np.concatenate([[0.0], np.cumsum(y * y)])

    def seg_cost(s, t):
        ln = t - s
        d = s1[t] - s1[s]
        return (s2[t] - s2[s]) - d * d / ln

    NEVER = np.int64(2 * (n + msz) + 10)  # "unmarked"; no int overflow
    Fv = np.full(n + 1, np.inf)
    Fv[0] = -beta
    prev = np.zeros(n + 1, dtype=np.int64)
    cand = np.array([0], dtype=np.int64)
    mark = np.array([NEVER], dtype=np.int64)
    for t in range(msz, n + 1):
        ok = cand[t - cand >= msz]
        if len(ok) == 0:
            cand = np.append(cand, t)
            mark = np.append(mark, NEVER)
            continue
        tot = Fv[ok] + seg_cost(ok, t) + beta
        j = int(np.argmin(tot))
        Fv[t] = tot[j]
        prev[t] = ok[j]
        # retire candidates whose marker is now >= msz steps old
        live = t < mark + msz
        cand, mark = cand[live], mark[live]
        # mark (don't drop) newly-dominated candidates
        viol = (mark == NEVER) & (
            Fv[cand] + seg_cost(cand, t) > Fv[t])
        mark[viol] = t
        cand = np.append(cand, t)
        mark = np.append(mark, NEVER)
    bounds = [n]
    t = n
    while t > 0:
        t = int(prev[t])
        bounds.append(t)
    b = bounds[::-1]
    return list(zip(b[:-1], b[1:])), s1, s2


def pelt_kernel(y: np.ndarray, beta: float, msz: int, round_dp: int,
                max_points: int) -> tuple[np.ndarray, ...]:
    """One series' PELT segment rows (seg_id, start_pos, end_pos,
    n_points, seg_mean, seg_cost); none for an empty series."""
    n = len(y)
    if n < 1:
        return [], [], [], [], [], []
    if n > max_points:
        raise ValueError(
            f"pelt_changepoints: series has {n} points "
            f"(> max_points={max_points}) — worst case is "
            f"quadratic; raise the cap explicitly")
    segs, s1, s2 = _pelt_segments(y, beta, msz)
    st = np.array([a for a, _ in segs], dtype=np.int64)
    en = np.array([b for _, b in segs], dtype=np.int64)
    ln = en - st
    mean = (s1[en] - s1[st]) / ln
    cost = (s2[en] - s2[st]) - (s1[en] - s1[st]) ** 2 / ln
    return (np.arange(len(segs), dtype=np.int64), st, en, ln,
            quantize_ieee(mean, round_dp),
            quantize_ieee(np.maximum(cost, 0.0), round_dp))


def pearson_prefix(a: np.ndarray, b: np.ndarray) -> float:
    """Pearson r over the common prefix; NaN -> 0 like the reference
    (strategy_linking_multi_graphs.py:66-68)."""
    n = min(len(a), len(b))
    # pandas Series.corr aligns on index; the reference resets the index,
    # so alignment is positional over the common length
    with np.errstate(invalid="ignore", divide="ignore"):
        c = np.corrcoef(a[:n], b[:n])[0, 1] if n >= 2 else np.nan
    return 0.0 if np.isnan(c) else float(c)


def xcorr_best(a: np.ndarray, b: np.ndarray, max_lag: int,
                min_overlap: int, round_dp: int) -> tuple[list, ...]:
    """One pair's best (lag, weight, binding) over lags -max_lag..max_lag
    (|r| desc, then lag asc); no row when no lag overlaps min_overlap
    points."""
    best = None  # (-|w|, lag, w)
    for lag in range(-max_lag, max_lag + 1):
        t0 = max(0, -lag)
        t1 = min(len(a), len(b) - lag)
        if t1 - t0 < min_overlap:
            continue
        with np.errstate(invalid="ignore", divide="ignore"):
            c = np.corrcoef(a[t0:t1], b[t0 + lag:t1 + lag])[0, 1]
        # quantize_ieee, not np.round: half-to-even vs the cross-engine
        # floor(x*1e{dp}+0.5) contract would rank an exact-.5-boundary r
        # differently from the oracle
        w = 0.0 if np.isnan(c) else float(quantize_ieee(c, round_dp))
        w += 0.0  # canonicalize -0.0
        key = (-abs(w), lag)
        if best is None or key < best[:2]:
            best = (-abs(w), lag, w)
    if best is None:
        return [], [], []
    return [best[1]], [best[2]], ["xcorr"]


def dtw_path(
    s1: np.ndarray, s2: np.ndarray, band: int | None = None
) -> list[tuple[int, int]]:
    """DTW optimal warping path (ref strategy_linking_multi_graphs.py:
    310-316 via dtaidistance.dtw).  dtaidistance is absent upstream and
    here, so the engine pins the contract to the published DTW recurrence:
    D[i,j] = (s1[i]-s2[j])^2 + min(D[i-1,j-1], D[i-1,j], D[i,j-1]),
    backtrack preferring the diagonal on ties (first-minimum order
    diag/up/left).  O(n*m) DP, vectorized per row.

    band: Sakoe-Chiba radius — cells with |i*m/n - j| > band are pruned,
    bounding the DP at O(n*band) for long series (the remaining quadratic
    in the linking family).  band=None (default) is the exact full DP;
    a band >= max(n, m) is equivalent to exact (pinned by test).  The band
    is measured around the diagonal of the RESCALED grid so unequal
    lengths stay reachable."""
    s1 = np.asarray(s1, np.float64)
    s2 = np.asarray(s2, np.float64)
    n, m = len(s1), len(s2)
    if n == 0 or m == 0:
        raise ValueError(
            f"dtw_path: empty series (lengths {n}, {m}) — no alignment")
    D = np.full((n + 1, m + 1), np.inf)
    D[0, 0] = 0.0
    for i in range(1, n + 1):
        if band is None:
            jlo, jhi = 1, m
        else:
            center = i * m / n
            jlo = max(1, int(np.ceil(center - band)))
            jhi = min(m, int(np.floor(center + band)))
            if jlo > jhi:
                continue
        c = (s1[i - 1] - s2) ** 2
        # vectorized row update: D[i,j] needs D[i,j-1] (left), so scan the
        # row with a running min — still O(m) per row, no inner Python loop
        # over the three candidates.
        diag = D[i - 1, :-1]
        up = D[i - 1, 1:]
        best = np.minimum(diag, up)
        row = np.full(m + 1, np.inf)
        for j in range(jlo, jhi + 1):
            row[j] = c[j - 1] + min(best[j - 1], row[j - 1])
        D[i] = row
    if not np.isfinite(D[n, m]):
        # a band narrower than the per-row center shift (roughly
        # band < (m/n - 1)/2) leaves consecutive row windows
        # non-overlapping — no valid warping path exists; fail loudly
        # instead of backtracking through inf into a fabricated path
        raise ValueError(
            f"dtw_path: band={band} too narrow for lengths ({n}, {m}) — "
            f"no reachable path; use band >= ~{max(1, (m + n - 1) // n)}")
    # backtrack (diag, up, left) first-minimum, mirroring the conftest stub
    # and dtaidistance.dtw.best_path tie behavior
    i, j = n, m
    path = [(i - 1, j - 1)]
    while i > 1 or j > 1:
        cands = ((D[i - 1, j - 1], i - 1, j - 1), (D[i - 1, j], i - 1, j),
                 (D[i, j - 1], i, j - 1))
        _, i, j = min(cands, key=lambda t: t[0])
        path.append((i - 1, j - 1))
    path.reverse()
    return path


def _grid(values: np.ndarray, lengths: np.ndarray, rows: np.ndarray
          ) -> np.ndarray:
    """Segments `rows` of a flat buffer (segment lengths `lengths`) as a
    (len(rows), longest) float matrix, each left-aligned, NaN-padded."""
    lens = lengths[rows]
    out = np.full((len(rows), int(lens.max(initial=0))), np.nan)
    lane = np.repeat(np.arange(len(rows)), lens)
    col = np.arange(len(lane)) - np.repeat(np.cumsum(lens) - lens, lens)
    out[lane, col] = values[np.repeat(_offsets(lengths)[rows], lens) + col]
    return out


def holt_state_segmented(values: np.ndarray, lengths, alpha: float,
                         beta: float, state_dp: int
                         ) -> tuple[np.ndarray, ...]:
    """Final Holt state of every segment with >= 2 buckets: (segment, n,
    level, trend), one numpy step per bucket index across all of them
    (NaN-padded lanes masked)."""
    lengths = np.asarray(lengths, np.int64)
    rows = np.flatnonzero(lengths >= 2)
    lens = lengths[rows]
    if not len(rows):
        return rows, lens, np.empty(0), np.empty(0)
    y = _grid(values, lengths, rows)
    ia, ib = 1.0 - alpha, 1.0 - beta
    lvl = y[:, 0].copy()
    trd = quantize_ieee(y[:, 1] - y[:, 0], state_dp)
    for t in range(1, y.shape[1]):
        act = t < lens
        y_t = y[:, t]
        l_new = quantize_ieee(alpha * y_t + ia * (lvl + trd), state_dp)
        t_new = quantize_ieee(beta * (l_new - lvl) + ib * trd, state_dp)
        lvl = np.where(act, l_new, lvl)
        trd = np.where(act, t_new, trd)
    return rows, lens, lvl, trd


def holt_winters_state_segmented(values: np.ndarray, lengths, m: int,
                                 alpha: float, beta: float, gamma: float,
                                 state_dp: int) -> tuple[np.ndarray, ...]:
    """Final Holt-Winters state of every segment with >= 2m buckets:
    (segment, n, level, trend, seasonals[lanes, m]), one numpy step per
    bucket index across all of them with a rolling (lanes, m) seasonal
    buffer; seasonals[r, j] = s_{n-m+1+j}."""
    lengths = np.asarray(lengths, np.int64)
    rows = np.flatnonzero(lengths >= 2 * m)
    lens = lengths[rows]
    if not len(rows):
        return rows, lens, np.empty(0), np.empty(0), np.empty((0, m))
    y = _grid(values, lengths, rows)
    ia, ib, ig = 1.0 - alpha, 1.0 - beta, 1.0 - gamma

    def quant(x):
        return quantize_ieee(x, state_dp)

    acc1 = np.zeros(len(rows))
    acc2 = np.zeros(len(rows))
    for i in range(m):
        acc1 = quant(acc1 + y[:, i])
        acc2 = quant(acc2 + y[:, m + i])
    mean1 = quant(acc1 / m)
    mean2 = quant(acc2 / m)
    lvl = mean1.copy()
    trd = quant((mean2 - mean1) / m)
    s = quant(y[:, :m] - mean1[:, None])  # slot i = s_{i+1}
    for t in range(m, y.shape[1]):
        act = t < lens
        slot = t % m
        s_old = s[:, slot]
        y_t = y[:, t]
        l_new = quant(alpha * (y_t - s_old) + ia * (lvl + trd))
        t_new = quant(beta * (l_new - lvl) + ib * trd)
        s_new = quant(gamma * (y_t - l_new) + ig * s_old)
        lvl = np.where(act, l_new, lvl)
        trd = np.where(act, t_new, trd)
        s[:, slot] = np.where(act, s_new, s_old)
    # roll each lane so element j (0-based) = s_{n-m+1+j}: slot (n % m)
    # holds the OLDEST live seasonal s_{n-m+1}
    rolled = s[np.arange(len(rows))[:, None],
               (np.arange(m)[None, :] + lens[:, None]) % m]
    return rows, lens, lvl, trd, rolled


def burst_states_segmented(secs: np.ndarray, counts: np.ndarray, lengths,
                           bucket_s: int, s: float, gamma: float,
                           state_dp: int) -> tuple[np.ndarray, ...]:
    """Kleinberg two-state Viterbi burst labels of every segment: each
    segment's observed (bucket second, count) pairs densified between its
    first and last bucket into one (lanes, T) count grid, forward and
    backward passes vectorized across lanes.  Returns (segment,
    bucket_sec, cnt, burst), one row per dense bucket."""

    def quant(x):
        return quantize_ieee(x, state_dp)

    lengths = np.asarray(lengths, np.int64)
    off = _offsets(lengths)
    rows = np.flatnonzero(lengths > 0)
    first = secs[off[rows]]
    lens = (secs[off[rows + 1] - 1] - first) // bucket_s + 1
    lanes, t_max = len(rows), int(lens.max(initial=1))
    lane = np.repeat(np.arange(lanes), lengths[rows])
    cnt = np.zeros((lanes, t_max), dtype=np.int64)
    cnt[lane, (secs - first[lane]) // bucket_s] = counts
    c_mat = cnt.astype(np.float64)
    n_f = lens.astype(np.float64)
    l0 = c_mat.sum(axis=1) / n_f
    l1 = s * l0
    ln0, ln1 = np.log(l0), np.log(l1)
    g = gamma * np.log(n_f)
    c0 = quant(l0 - c_mat[:, 0] * ln0)
    c1 = quant(g + l1 - c_mat[:, 0] * ln1)
    ptr0 = np.zeros((lanes, t_max), dtype=np.int8)
    ptr1 = np.zeros((lanes, t_max), dtype=np.int8)
    for t in range(1, t_max):
        act = t < lens
        e0 = l0 - c_mat[:, t] * ln0
        e1 = l1 - c_mat[:, t] * ln1
        p0 = np.where(c0 <= c1, 0, 1).astype(np.int8)
        p1 = np.where(c0 + g <= c1, 0, 1).astype(np.int8)
        n0 = quant(e0 + np.minimum(c0, c1))
        n1 = quant(e1 + np.minimum(c0 + g, c1))
        ptr0[:, t] = np.where(act, p0, 0)
        ptr1[:, t] = np.where(act, p1, 0)
        c0 = np.where(act, n0, c0)
        c1 = np.where(act, n1, c1)
    # backtrack, vectorized across lanes
    st = np.zeros((lanes, t_max), dtype=np.int8)
    lane = np.arange(lanes)
    st[lane, lens - 1] = (c1 < c0).astype(np.int8)  # ties prefer state 0
    for t in range(t_max - 2, -1, -1):
        nxt = st[:, t + 1]
        via = np.where(nxt == 0, ptr0[lane, t + 1], ptr1[lane, t + 1])
        st[:, t] = np.where(t + 1 < lens, via, st[:, t])
    dense = np.arange(t_max) < lens[:, None]
    lane, t = np.nonzero(dense)
    return (rows[lane], first[lane] + t * bucket_s, cnt[dense],
            st[dense].astype(bool))
