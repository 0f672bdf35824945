"""Pure-numpy per-segment kernels with exact ts2g2 output parity.

These are the vectorized compute cores that run inside Arrow batches
(``mapInArrow`` / ``applyInPandas``) on executors.  The HVG, NVG, OPG and
QG edge-set kernels consume a whole batch of series (one flat float64
buffer plus the series lengths) per call; every other kernel consumes one
series (a 1-D float64 array) and emits edge tuples.  Parity contract: the
edge SET (and, where the reference is deterministic, the weights) must equal
what zangrcar/ts2g2 produces for the same input.  Reference semantics are
cited by file:line; no reference code is copied — the reference computes the
same predicates with O(n^2)/O(n^3) Python loops over NetworkX, these kernels
use O(n^2)-worst-case vectorized prefix scans with an exact boundary recheck.

Float discipline: every comparison the reference makes in float64 is either
reproduced with the identical expression (HVG max-compare, digitize, argsort
ties) or guarded: a fast vectorized predicate classifies pairs, and pairs
within a relative tolerance band of the decision boundary are re-evaluated
with the reference's literal arithmetic, so the decision bit is identical.
"""

from __future__ import annotations

import math

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
# Non-finite values go through the same float64 comparisons as finite ones
# (pinned in tests/test_graph_emitters.py): +-inf are ordinary ordered
# values, and a NaN fails every comparison, so no line of sight passes over
# it.  Under HVG a NaN endpoint sees what the other endpoint sees over;
# under NVG a NaN endpoint sees nothing beyond its path edges.

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
        # a pair inside the limit window has no obstructor
        inwin = cand & (dist <= limit + 1)
        nan = np.isnan(y)
        tol = _BOUNDARY_RTOL * (np.abs(M) + np.abs(S) + 1.0)
        visible = np.where(inwin, ~(nan[:, None] | nan[None, :]),
                           M < S - tol)
        boundary = cand & ~inwin & ~visible & (M <= S + tol)
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
    so a pair with x2-x1 <= limit+1 has no obstructor: it is visible
    unless an endpoint is NaN (a NaN endpoint sees nothing under NVG),
    decided directly, whatever the slope.

    Fast path: visible(i,j) iff M < S, with S = slope(i,j) and M the
    running max of slope(i,k) over the obstructors k (mathematically
    equivalent); pairs within a relative tolerance of the max are re-decided
    with the reference-literal expression, so boundary bits match exactly.

    Every anchor of the batch advances together: step d tests j = i + d
    for all active anchors.  An anchor drops out at its segment end, or
    once the running max m satisfies m > max(smax - y_i, 0)/(j - i) by a
    1e-6 relative guard (1000x the recheck band), smax being the
    segment-local suffix max from j on: every later slope is then below m,
    so no later j is visible or lands in the recheck band.  The steps run
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
    p = np.flatnonzero(pos + 2 < end)  # anchors with a candidate pair
    yp, e, m = y[p], end[p], np.full(len(p), -np.inf)
    src: list[np.ndarray] = []
    dst: list[np.ndarray] = []
    d = 1
    with np.errstate(invalid="ignore"):
        while len(p):
            j = p + d
            S = (y[j] - yp) / d
            if d >= 2:
                if d <= limit + 1:  # inside the window: no obstructor
                    visible = ~(np.isnan(yp) | np.isnan(y[j]))
                else:
                    tol = _BOUNDARY_RTOL * (np.abs(m) + np.abs(S) + 1.0)
                    visible = m < S - tol
                    for t in np.flatnonzero(~visible & (m <= S + tol)):
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


def _canonical_edge_arrays(
    edges: np.ndarray,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """(m,2) any-orientation edge array -> (a, b, nodes, degree) with
    a < b unique (self-loops dropped), nodes = sorted unique endpoints,
    degree aligned to nodes.  Mirrors graphmetrics.canonical_edges +
    degrees."""
    if len(edges) == 0:
        z = np.empty(0, dtype=np.int64)
        return z, z, z, z
    a = np.minimum(edges[:, 0], edges[:, 1])
    b = np.maximum(edges[:, 0], edges[:, 1])
    keep = a != b
    a, b = a[keep], b[keep]
    ab = np.unique(np.stack([a, b], axis=1), axis=0)
    a, b = ab[:, 0], ab[:, 1]
    nodes, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    degree = np.bincount(inv, minlength=len(nodes)).astype(np.int64)
    return a, b, nodes, degree


def graph_summary_kernel(edges: np.ndarray) -> dict:
    """Per-graph summary over one edge array: node/edge counts, density,
    degree stats; the float fields rounded HALF_UP to 9 dp."""
    a, _b, nodes, degree = _canonical_edge_arrays(edges)
    n = len(nodes)
    m = len(a)
    if n == 0:
        return {"n_nodes": 0, "n_edges": 0, "density": 0.0,
                "max_degree": 0, "avg_degree": 0.0}
    density = (2.0 * m) / (n * (n - 1)) if n > 1 else 0.0
    return {
        "n_nodes": int(n),
        "n_edges": int(m),
        "density": float(round_half_up(np.array([density]), 9)[0]),
        "max_degree": int(degree.max()),
        "avg_degree": float(
            round_half_up(np.array([int(degree.sum()) / n]), 9)[0]
        ),
    }


def graph_clustering_kernel(
    edges: np.ndarray,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Local clustering per node of one small graph: (nodes, degree,
    triangles, lcc).  Dense boolean-adjacency matmul for n <= 4096 (the
    ts2g2 per-segment regime), sorted-neighbor intersection above.
    lcc = round(2T / (d (d-1)), 9) HALF_UP, 0.0 for degree < 2 (the
    networkx convention)."""
    a, b, nodes, degree = _canonical_edge_arrays(edges)
    n = len(nodes)
    if n == 0:
        z = np.empty(0, dtype=np.int64)
        return z, z, z, np.empty(0)
    ia = np.searchsorted(nodes, a)
    ib = np.searchsorted(nodes, b)
    tri = _triangles_from_canonical(ia, ib, n)
    lcc = np.zeros(n, dtype=np.float64)
    mask = degree > 1
    lcc[mask] = round_half_up(
        2.0 * tri[mask] / (degree[mask] * (degree[mask] - 1)), 9
    )
    return nodes, degree, tri, lcc


def _triangles_from_canonical(
    ia: np.ndarray, ib: np.ndarray, n: int,
) -> np.ndarray:
    """Per-node triangle counts from canonical index-mapped edges —
    the shared core of graph_clustering_kernel and graph_mixing_kernel
    (one canonicalization per caller, not two)."""
    if n <= 4096:
        A = np.zeros((n, n), dtype=np.int64)
        A[ia, ib] = 1
        A[ib, ia] = 1
        tri = ((A @ A) * A).sum(axis=1) // 2
    else:
        nbr_start = np.zeros(n + 1, dtype=np.int64)
        np.add.at(nbr_start, ia + 1, 1)
        np.add.at(nbr_start, ib + 1, 1)
        nbr_start = np.cumsum(nbr_start)
        nbrs = np.empty(2 * len(ia), dtype=np.int64)
        fill = nbr_start[:-1].copy()
        for u, v in zip(ia, ib):
            nbrs[fill[u]] = v
            fill[u] += 1
            nbrs[fill[v]] = u
            fill[v] += 1
        for u in range(n):
            nbrs[nbr_start[u]: nbr_start[u + 1]].sort()
        tri = np.zeros(n, dtype=np.int64)
        for u, v in zip(ia, ib):
            common = np.intersect1d(
                nbrs[nbr_start[u]: nbr_start[u + 1]],
                nbrs[nbr_start[v]: nbr_start[v + 1]],
                assume_unique=True,
            )
            tri[u] += len(common)
            tri[v] += len(common)
            tri[common] += 1
        tri //= 3  # each triangle reached via all 3 of its edges
    return tri


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
    a, b, nodes, degree = _canonical_edge_arrays(edges)
    n = len(nodes)
    if n == 0:
        return None
    def quant(x: float) -> float:
        return float(quantize_ieee(x, round_dp)) + 0.0

    ia = np.searchsorted(nodes, a)
    ib = np.searchsorted(nodes, b)
    da = degree[ia].astype(np.int64)
    db = degree[ib].astype(np.int64)
    m2 = 2 * len(da)  # symmetrized pair count
    sx = int(da.sum() + db.sum())
    sxy = int(2 * (da * db).sum())
    sxx = int((da * da).sum() + (db * db).sum())
    den = m2 * sxx - sx * sx
    assort = quant(float(m2 * sxy - sx * sx) / float(den)) \
        if den > 0 else None
    tri = _triangles_from_canonical(ia, ib, n)
    # d(d-1)/2 and the triangle counts are exact integers in double, so
    # the sums (and their ratio) are order-independent bit-for-bit
    wedges = float((degree * (degree - 1) / 2).sum())
    trans = quant(float(tri.sum()) / wedges) if wedges > 0 else None
    return assort, trans


def _csr_gather(ia: np.ndarray, ib: np.ndarray, n: int):
    """Build a both-orientations CSR adjacency and return a
    frontier-gather closure: gather(frontier) -> flat (u, v) adjacency
    pairs with u in frontier.  Shared by the BFS-based kernels
    (betweenness, path metrics)."""
    indptr = np.zeros(n + 1, dtype=np.int64)
    np.add.at(indptr, ia + 1, 1)
    np.add.at(indptr, ib + 1, 1)
    indptr = np.cumsum(indptr)
    indices = np.empty(2 * len(ia), dtype=np.int64)
    fill = indptr[:-1].copy()
    for u, v in zip(ia, ib):
        indices[fill[u]] = v
        fill[u] += 1
        indices[fill[v]] = u
        fill[v] += 1

    def gather(frontier):
        starts = indptr[frontier]
        lens = indptr[frontier + 1] - starts
        total = int(lens.sum())
        if total == 0:
            return (np.empty(0, np.int64),) * 2
        u_rep = np.repeat(frontier, lens)
        base = np.repeat(starts, lens)
        local = np.arange(total) - np.repeat(
            np.cumsum(lens) - lens, lens)
        return u_rep, indices[base + local]

    return gather


def graph_path_metrics_kernel(edges: np.ndarray) -> dict | None:
    """Shortest-path summary of one small undirected graph:
    {n_nodes, diameter, radius, avg_spl, connected} — the visibility-
    graph literature's path-length features (average shortest path
    length separates series classes; HVGs are always connected since
    adjacent points see each other).

    BFS from every source with the shared frontier-vectorized CSR
    gather; all quantities are exact integers or one exact-integer
    ratio (sum of distances / ordered reachable pairs), so the result
    is engine-independent with no rounding contract needed (avg_spl
    emitted at full double precision of one division).  On a
    DISCONNECTED graph, eccentricities and the average are over
    REACHABLE pairs only and `connected` is False.  O(n*m) per graph —
    per-series segment regime."""
    a, b, nodes, _deg = _canonical_edge_arrays(edges)
    n = len(nodes)
    if n == 0:
        return None
    ia = np.searchsorted(nodes, a)
    ib = np.searchsorted(nodes, b)
    gather = _csr_gather(ia, ib, n)
    total_sum = 0
    total_pairs = 0
    ecc = np.zeros(n, dtype=np.int64)
    connected = True
    for s in range(n):
        dist = np.full(n, -1, dtype=np.int64)
        dist[s] = 0
        frontier = np.array([s], dtype=np.int64)
        depth = 0
        while True:
            _u, v_all = gather(frontier)
            fresh = np.unique(v_all[dist[v_all] == -1]) \
                if len(v_all) else v_all
            if len(fresh) == 0:
                break
            depth += 1
            dist[fresh] = depth
            frontier = fresh
        reach = dist >= 0
        if not reach.all():
            connected = False
        ecc[s] = depth
        total_sum += int(dist[reach].sum())
        total_pairs += int(reach.sum()) - 1
    avg = float(total_sum) / total_pairs if total_pairs > 0 else None
    return {
        "n_nodes": n,
        "diameter": int(ecc.max()),
        "radius": int(ecc.min()),
        "avg_spl": avg,
        "connected": bool(connected),
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
    a, b, nodes, degree = _canonical_edge_arrays(edges)
    n = len(nodes)
    if n == 0:
        z = np.empty(0, dtype=np.int64)
        return z, z
    ai = np.searchsorted(nodes, a)
    bi = np.searchsorted(nodes, b)
    src = np.concatenate([ai, bi])
    dst = np.concatenate([bi, ai])
    deg = degree.copy()
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
        sel = weak[src] & active[dst]
        if sel.any():
            np.subtract.at(deg, dst[sel], 1)
    return nodes, core


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
    if n_iter < 1:
        raise ValueError(f"graph_lpa_kernel: need n_iter >= 1, got {n_iter}")
    a, b, nodes, _deg = _canonical_edge_arrays(edges)
    n = len(nodes)
    if n == 0:
        z = np.empty(0, dtype=np.int64)
        return z, z
    ai = np.searchsorted(nodes, a)
    bi = np.searchsorted(nodes, b)
    src = np.concatenate([ai, bi])
    dst = np.concatenate([bi, ai])
    lab = nodes.copy()
    for _ in range(n_iter):
        nl = lab[dst]
        # counts per (node, neighbor-label) via grouped run-lengths
        order = np.lexsort((nl, src))
        uu, ll = src[order], nl[order]
        new_grp = np.concatenate(
            [[True], (uu[1:] != uu[:-1]) | (ll[1:] != ll[:-1])])
        cnt = np.bincount(np.cumsum(new_grp) - 1)
        gu, gl = uu[new_grp], ll[new_grp]
        # argmax per node: (cnt desc, label asc), first row per node
        o2 = np.lexsort((gl, -cnt, gu))
        first = np.concatenate([[True], gu[o2][1:] != gu[o2][:-1]])
        new_lab = np.empty(n, dtype=np.int64)
        new_lab[gu[o2][first]] = gl[o2][first]
        lab = new_lab  # every node has >= 1 edge, so fully assigned
    return nodes, lab


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
    a, b, nodes, degree = _canonical_edge_arrays(edges)
    m = len(a)
    if m == 0:
        return 0, 0.0
    nodes2, lab = graph_lpa_kernel(edges, n_iter=n_iter)
    assert np.array_equal(nodes, nodes2)
    comm, cidx = np.unique(lab, return_inverse=True)
    ai = np.searchsorted(nodes, a)
    bi = np.searchsorted(nodes, b)
    sum_ec = int(np.sum(cidx[ai] == cidx[bi]))
    deg_c = np.bincount(cidx, weights=degree.astype(np.float64))
    sum_dc2 = int(np.sum((deg_c.astype(np.int64)) ** 2))
    q = (4 * m * sum_ec - sum_dc2) / float(4 * m * m)
    return int(len(comm)), float(quantize_ieee(q, round_dp))


def graph_betweenness_kernel(
    edges: np.ndarray, normalized: bool = True, round_dp: int = 9,
) -> tuple[np.ndarray, np.ndarray]:
    """Exact betweenness centrality of one small undirected graph:
    (nodes, bc) via Brandes' algorithm, with every per-source phase
    VECTORIZED over the BFS frontier (flat CSR gathers + np.add.at for
    path counts and dependency accumulation — no per-edge Python).

    Normalization matches networkx betweenness_centrality(
    normalized=True): pair double-counting halved, then scaled by
    2/((n-1)(n-2)) for n > 2.  Deterministic: fixed source order, fixed
    level order, rounded HALF_UP at the end only (float accumulation
    inside one implementation is order-stable).  O(n*m) per graph —
    the per-series segment regime; not for one huge graph."""
    a, b, nodes, _deg = _canonical_edge_arrays(edges)
    n = len(nodes)
    if n == 0:
        return nodes, np.empty(0)
    ia = np.searchsorted(nodes, a)
    ib = np.searchsorted(nodes, b)
    _gather = _csr_gather(ia, ib, n)

    bc = np.zeros(n, dtype=np.float64)
    for s in range(n):
        dist = np.full(n, -1, dtype=np.int64)
        sigma = np.zeros(n, dtype=np.float64)
        dist[s] = 0
        sigma[s] = 1.0
        levels = [np.array([s], dtype=np.int64)]
        while True:
            u_rep, v_all = _gather(levels[-1])
            if len(v_all) == 0:
                break
            fresh = v_all[dist[v_all] == -1]
            if len(fresh) == 0:
                break
            nxt = np.unique(fresh)
            dist[nxt] = len(levels)
            tree = dist[v_all] == len(levels)
            np.add.at(sigma, v_all[tree], sigma[u_rep[tree]])
            levels.append(nxt)
        delta = np.zeros(n, dtype=np.float64)
        for depth in range(len(levels) - 1, 0, -1):
            w_rep, v_all = _gather(levels[depth])
            pred = dist[v_all] == depth - 1
            vp, wp = v_all[pred], w_rep[pred]
            np.add.at(delta, vp,
                      sigma[vp] / sigma[wp] * (1.0 + delta[wp]))
        delta[s] = 0.0
        bc += delta
    bc /= 2.0  # undirected: each (s, t) pair contributes twice
    if normalized and n > 2:
        bc *= 2.0 / ((n - 1) * (n - 2))
    return nodes, round_half_up(bc, round_dp)


def graph_pagerank_kernel(
    edges: np.ndarray,
    iters: int = 8,
    damping: float = 0.85,
    round_dp: int = 9,
) -> tuple[np.ndarray, np.ndarray]:
    """Fixed-iteration PageRank on one small undirected graph: (nodes,
    ranks).  Ranks are rounded HALF_UP to round_dp at EVERY iteration (including the
    uniform init), shares rank/degree unrounded, no dangling term
    (every node has degree >= 1 by construction)."""
    a, b, nodes, degree = _canonical_edge_arrays(edges)
    n = len(nodes)
    if n == 0:
        return nodes, np.empty(0)
    ia = np.searchsorted(nodes, a)
    ib = np.searchsorted(nodes, b)
    src = np.concatenate([ia, ib])
    dst = np.concatenate([ib, ia])
    rank = round_half_up(np.full(n, 1.0 / n), round_dp)
    base = (1.0 - damping) / n
    for _ in range(iters):
        share = rank / degree
        inflow = np.bincount(dst, weights=share[src], minlength=n)
        rank = round_half_up(base + damping * inflow, round_dp)
    return nodes, rank


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
    a, b, nodes, deg = _canonical_edge_arrays(edges)
    n = len(nodes)
    if n == 0:
        z = np.empty(0, dtype=np.int64)
        return z, z
    ai = np.searchsorted(nodes, a)
    bi = np.searchsorted(nodes, b)
    src = np.concatenate([ai, bi])
    dst = np.concatenate([bi, ai])
    order = np.argsort(src, kind="stable")
    src_s, dst_s = src[order], dst[order]
    bounds = np.searchsorted(src_s, np.arange(n + 1))
    lab = deg.astype(np.int64)
    for _ in range(n_iter):
        new_lab = np.empty(n, dtype=np.int64)
        for v in range(n):
            nb = np.sort(lab[dst_s[bounds[v]:bounds[v + 1]]])
            sig = f"{lab[v]}|" + ",".join(str(x) for x in nb)
            new_lab[v] = h64_py(sig)
        lab = new_lab
    return nodes, lab


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

    Fully vectorized: wedge enumeration is a rank-expansion over the
    hub-sorted adjacency (sum-of-deg^2 rows, the triangle-count
    budget), the fold is a rank-position loop bounded by max(cn).
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
    a, b, nodes, degree = _canonical_edge_arrays(edges)
    m = len(a)
    zi = np.empty(0, dtype=np.int64)
    zd = np.empty(0, dtype=np.float64)
    if m == 0:
        return zi, zi, zi, zd, zd
    n = len(nodes)
    ai = np.searchsorted(nodes, a)
    bi = np.searchsorted(nodes, b)
    hub = np.concatenate([ai, bi])
    nb = np.concatenate([bi, ai])
    order = np.lexsort((nb, hub))
    hub_s, nb_s = hub[order], nb[order]
    if max_hub_degree is not None:
        # drop ALL adjacency entries of over-cap hubs before the rank
        # expansion: their wedges never materialize (du/dv below still
        # read true degrees from the uncapped edge set)
        keep_e = degree[hub_s] <= max_hub_degree
        hub_s, nb_s = hub_s[keep_e], nb_s[keep_e]
        if hub_s.shape[0] == 0:
            return zi, zi, zi, zd, zd
    counts = np.bincount(hub_s, minlength=n)
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    idx = np.arange(hub_s.shape[0], dtype=np.int64)
    rank = idx - np.repeat(starts, counts)
    # the element at rank r of its hub's (ascending) neighbor list pairs
    # as the LARGER side with the r earlier neighbors — u < v for free,
    # every unordered pair exactly once
    j_rep = np.repeat(idx, rank)
    if j_rep.shape[0] == 0:
        return zi, zi, zi, zd, zd
    csum = np.cumsum(rank) - rank
    offs = np.arange(j_rep.shape[0], dtype=np.int64) - np.repeat(csum, rank)
    i_idx = np.repeat(starts[hub_s], rank) + offs
    u = nb_s[i_idx]
    v = nb_s[j_rep]
    dz = degree[hub_s[j_rep]]
    key = u * np.int64(n) + v
    order2 = np.lexsort((dz, key))
    key_s = key[order2]
    dz_s = dz[order2].astype(np.float64)
    uniq, cn = np.unique(key_s, return_counts=True)
    # sequential ascending fold, vectorized across pairs: one pass per
    # rank position adds each pair's k-th smallest 1/ln(dz) term — the
    # exact per-pair operand order of the oracle's fold
    seg_id = np.repeat(np.arange(uniq.shape[0], dtype=np.int64), cn)
    pos = np.arange(key_s.shape[0], dtype=np.int64) - np.repeat(
        np.cumsum(cn) - cn, cn)
    terms = 1.0 / np.log(dz_s)
    aa = np.zeros(uniq.shape[0], dtype=np.float64)
    for k in range(int(cn.max())):
        sel = pos == k
        aa[seg_id[sel]] += terms[sel]  # <=1 term per segment per rank
    edge_key = ai * np.int64(n) + bi
    keep = (cn >= min_cn) & ~np.isin(uniq, np.sort(edge_key))
    uu = (uniq // n)[keep]
    vv = (uniq % n)[keep]
    cnk = cn[keep].astype(np.int64)
    du = degree[uu]
    dv = degree[vv]
    jacc = cnk.astype(np.float64) / (du + dv - cnk).astype(np.float64)
    return nodes[uu], nodes[vv], cnk, jacc, aa[keep]
