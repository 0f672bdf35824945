"""Pure-numpy per-segment kernels with exact ts2g2 output parity.

These are the vectorized compute cores that run inside Arrow batches
(``mapInPandas`` / ``applyInPandas``) on executors.  Each kernel consumes one
segment (a 1-D float64 array) and emits edge tuples.  Parity contract: the
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
# Visibility graphs  (ref: to_graph/strategies.py:479-546, 581-695, 698-751)
# ---------------------------------------------------------------------------

#: segments up to this length take the dense whole-series NVG path (one
#: 2-D numpy pass per segment, ~8n^2 bytes of scratch); longer segments
#: take the per-anchor early-stop path, which is output-sensitive for
#: stationary series (each anchor's scan halts once the running obstructor
#: slope provably clears the suffix maximum).
_NVG_DENSE_N = 1024


def nvg_edges(y: np.ndarray, limit: int = 0) -> np.ndarray:
    """Natural visibility graph extra edges (beyond the path graph).

    Reference predicate (to_graph/strategies.py:627-635): pair (x1,x2) is
    obstructed iff any intermediate point (x, y) with x in
    [x1+limit+1, x2) satisfies  y > slope*x + offset  where
    slope=(y2-y1)/(x2-x1), offset=y2-slope*x2 (strict >).  The ``limit``
    SKIPS the first ``limit`` intermediates (it does not gate pair distance),
    so all pairs with x2-x1 <= limit+1 are unconditionally visible.

    Fast path: visible(i,j) iff max_{k in window}(slope(i,k)) <= slope(i,j)
    (mathematically equivalent).  Two physical strategies share that
    predicate and the boundary-recheck contract (pairs within a relative
    tolerance of the max are re-decided with the reference-literal
    expression so boundary bits match exactly):

    - n <= _NVG_DENSE_N: one whole-series 2-D scan (slope matrix +
      exclusive row-wise running max) — no per-anchor Python loop, which
      dominates at the short segment lengths produced by typical
      segmentation (r4 rewrite; was a per-anchor loop).
    - n > _NVG_DENSE_N: per-anchor scan in geometrically growing chunks
      with a suffix-max EARLY STOP: once the running obstructor slope m
      satisfies m > max(suffix_max - y_i, 0)/(j - i) by a 1e-6 relative
      guard (1000x the recheck band), no later j can be visible or land
      in the recheck band, so the anchor's scan halts.  Expected cost is
      O(visible extent) per anchor on stationary series; worst case
      O(n^2) only when the output itself is Theta(n^2) (e.g. convex
      series, where every pair is an edge).

    Returns int64 array (m, 2) of (src, dst) with src < dst, excluding the
    path-graph edges (j == i+1), which the caller always includes.
    """
    n = len(y)
    if n < 3:
        return np.empty((0, 2), dtype=np.int64)
    y = np.asarray(y, dtype=np.float64)
    if n <= _NVG_DENSE_N:
        return _nvg_dense(y, limit)
    return _nvg_early_stop(y, limit)


def _nvg_dense(y: np.ndarray, limit: int) -> np.ndarray:
    """Whole-series NVG scan: same comparisons as the per-anchor loop
    (row i of the matrices IS that anchor's slope/prefix-max scan), one
    numpy pass for all anchors."""
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
    tol = _BOUNDARY_RTOL * (np.abs(M) + np.abs(S) + 1.0)
    visible = M < S - tol
    boundary = cand & ~visible & (M <= S + tol)
    for i, j in zip(*np.nonzero(boundary)):
        visible[i, j] = not _nvg_obstructed_ref(y, int(i), int(j), limit)
    ii, jj = np.nonzero(cand & visible)
    if not len(ii):
        return np.empty((0, 2), dtype=np.int64)
    return np.stack([ii, jj], axis=1).astype(np.int64)


def _nvg_early_stop(y: np.ndarray, limit: int) -> np.ndarray:
    """Per-anchor NVG scan for long segments: geometrically growing
    chunks + the suffix-max early stop (see nvg_edges docstring).

    Safety of the stop: every obstructor/candidate slope from j0 onward
    is <= slope_ub = max(smax[j0] - y_i, 0)/(j0 - i) (positive numerators
    shrink with distance; non-positive slopes are < m > 0 outright), so
    the running max M stays exactly m and M - slope > guard keeps every
    skipped pair outside both the visible test and the recheck band."""
    n = len(y)
    smax = np.maximum.accumulate(y[::-1])[::-1]  # smax[j] = max(y[j:])
    out: list[np.ndarray] = []
    for i in range(n - 2):
        m = -np.inf
        j0, chunk = i + 1, 64
        while j0 < n:
            j1 = min(n, j0 + chunk)
            js = np.arange(j0, j1)
            slopes = (y[j0:j1] - y[i]) / (js - i)
            obstr = np.where(js - i >= limit + 1, slopes, -np.inf)
            M = np.empty_like(obstr)
            M[0] = m
            if len(obstr) > 1:
                np.maximum.accumulate(obstr[:-1], out=M[1:])
                np.maximum(M[1:], m, out=M[1:])
            cand = js >= i + 2
            tol = _BOUNDARY_RTOL * (np.abs(M) + np.abs(slopes) + 1.0)
            visible = M < slopes - tol
            boundary = cand & ~visible & (M <= slopes + tol)
            for t in np.nonzero(boundary)[0]:
                visible[t] = not _nvg_obstructed_ref(y, i, int(j0 + t),
                                                     limit)
            sel = np.nonzero(cand & visible)[0]
            if len(sel):
                e = np.empty((len(sel), 2), dtype=np.int64)
                e[:, 0] = i
                e[:, 1] = j0 + sel
                out.append(e)
            if len(obstr):
                m = max(m, float(obstr.max()))
            j0, chunk = j1, min(chunk * 4, 65536)
            if j0 < n and m > 0.0:
                slope_ub = max(smax[j0] - y[i], 0.0) / (j0 - i)
                guard = 1e-6 * (abs(m) + abs(slope_ub) + 1.0)
                if m > slope_ub + guard:
                    break
    if not out:
        return np.empty((0, 2), dtype=np.int64)
    return np.concatenate(out)


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


def _range_max_table(y: np.ndarray) -> list[np.ndarray]:
    """Sparse range-max table: T[l][k] = max(y[k : k + 2**l])."""
    n = len(y)
    T = [y]
    level = 1
    while (1 << level) <= n:
        prev = T[-1]
        half = 1 << (level - 1)
        T.append(np.maximum(prev[: len(prev) - half], prev[half:]))
        level += 1
    return T


def _first_greater(T: list[np.ndarray], starts: np.ndarray,
                   targets: np.ndarray, n: int) -> np.ndarray:
    """Vectorized sparse-table walk: for each query, the first index
    k >= starts[q] with y[k] > targets[q] (strict), else n.

    One pass from the highest level down: a 2**l block starting at the
    cursor is skipped iff its max <= target.  The cursor then advances by
    exactly the binary decomposition of (first violator - start), so a
    single attempt per level suffices.  Comparisons are plain float64
    max/compare — bit-identical to the reference's strict-> predicate."""
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
    """Horizontal visibility graph extra edges (beyond the path graph).

    Reference predicate (to_graph/strategies.py:687-692): obstructed iff any
    intermediate (skipping the first ``limit`` after the left endpoint) has
    y > max(y1, y2) (strict).  max/compare are exact in float64, so no
    boundary recheck is needed.

    Output-sensitive enumeration, O(n log n + E) per segment (r4 rewrite;
    was an O(n^2) per-anchor prefix-max loop).  A pair (i, j) is visible
    iff max(y[i+limit+1 : j]) <= max(y_i, y_j), which splits by which
    endpoint dominates:

    - case A (interior max <= y_j): holds iff the LAST k < j with
      y_k > y_j sits at or before i+limit, i.e. i >= prev_greater(j) -
      limit — a contiguous i-run per j.
    - case B (interior max <= y_i): holds iff the FIRST k >= i+limit+1
      with y_k > y_i sits at or after j, i.e. j <= next_greater_lim(i) —
      a contiguous j-run per i.

    Every visible pair is in A or B (its larger endpoint's case), every
    A/B pair is visible, and both runs enumerate with repeat/arange; the
    A-union-B overlap dedups through one np.unique on i*n+j keys (which
    also yields the (src, dst)-lexicographic output order).  prev/next
    greater indices come from the vectorized sparse-table walk, so there
    is no per-anchor Python loop.  E itself is Theta(n^2) on monotone
    runs (under this predicate every pair in a run is visible), so
    output-sensitive is the optimal shape.
    """
    n = len(y)
    if n < 3:
        return np.empty((0, 2), dtype=np.int64)
    y = np.asarray(y, dtype=np.float64)
    T = _range_max_table(y)
    idx = np.arange(n, dtype=np.int64)
    # case B: first violator k >= i+limit+1 with y_k > y_i
    nxt = _first_greater(T, idx + limit + 1, y, n)
    jmax = np.minimum(nxt, n - 1)
    cnt_b = np.maximum(jmax - idx - 1, 0)
    src_b = np.repeat(idx, cnt_b)
    dst_b = src_b + 2 + _ragged_offsets(cnt_b)
    # case A: last violator k < j with y_k > y_j, via the reversed array
    z = y[::-1]
    Tz = _range_max_table(z)
    nxt_z = _first_greater(Tz, (n - 1 - idx) + 1, z[n - 1 - idx], n)
    prev = n - 1 - nxt_z  # nxt_z == n -> -1 (no violator)
    imin = np.maximum(prev - limit, 0)
    cnt_a = np.maximum((idx - 2) - imin + 1, 0)
    dst_a = np.repeat(idx, cnt_a)
    src_a = np.repeat(imin, cnt_a) + _ragged_offsets(cnt_a)
    key = np.concatenate([src_b * n + dst_b, src_a * n + dst_a])
    if not len(key):
        return np.empty((0, 2), dtype=np.int64)
    key = np.unique(key)
    return np.stack([key // n, key % n], axis=1).astype(np.int64)


def visibility_graph(
    y: np.ndarray,
    kind: str = "natural",
    limit: int = 0,
    angle: float | None = None,
    angle_abs: bool = True,
    weighted: bool = False,
    weight_abs: bool = True,
) -> tuple[np.ndarray, np.ndarray]:
    """Full visibility graph: path edges + visibility edges, optional angle
    constraint and angle edge weights.

    Mirrors TimeseriesToGraphStrategy.to_graph (to_graph/strategies.py:
    490-542): the path graph over 0..n-1 is ALWAYS present; the pairwise
    visibility scan may re-add (i, i+1) with a weight.  The angle constraint
    (strategies.py:739-748) is ANDed: obstructed iff atan(slope) <
    visibility_angle (abs variants).  Edge weight (strategies.py:24-29) is
    atan((y2-y1)/(x2-x1)), optionally abs.

    Returns (edges[m,2] int64 sorted (src,dst), weights[m] float64 — NaN
    where the edge exists unweighted, i.e. a path edge the scan rejected).
    """
    n = len(y)
    y = np.asarray(y, dtype=np.float64)
    if n == 0:
        return np.empty((0, 2), dtype=np.int64), np.empty(0)
    if kind == "natural":
        extra = nvg_edges(y, limit)
    elif kind == "horizontal":
        extra = hvg_edges(y, limit)
    else:
        raise ValueError(f"unknown visibility kind: {kind}")
    # adjacent pairs: no intermediates -> always pass the visibility
    # constraint; they are also path edges.
    adj = np.stack(
        [np.arange(n - 1, dtype=np.int64), np.arange(1, n, dtype=np.int64)],
        axis=1,
    ) if n > 1 else np.empty((0, 2), dtype=np.int64)
    scan_edges = np.concatenate([adj, extra]) if len(extra) else adj
    # path edges the scan rejected: only the angle constraint rejects any
    missing = adj[:0]
    if angle is not None and len(scan_edges):
        keep = _angle_visible(y, scan_edges, angle, angle_abs)
        scan_edges = scan_edges[keep]
        missing = adj[~keep[:len(adj)]]
    if weighted:
        dy = y[scan_edges[:, 1]] - y[scan_edges[:, 0]]
        dx = (scan_edges[:, 1] - scan_edges[:, 0]).astype(np.float64)
        w = np.arctan(dy / dx)
        if weight_abs:
            w = np.abs(w)
    else:
        w = np.full(len(scan_edges), np.nan)
    # union with path edges (unweighted where the scan rejected them)
    if len(missing):
        scan_edges = np.concatenate([scan_edges, missing])
        w = np.concatenate([w, np.full(len(missing), np.nan)])
    order = np.lexsort((scan_edges[:, 1], scan_edges[:, 0]))
    return scan_edges[order], w[order]


def _angle_visible(
    y: np.ndarray, edges: np.ndarray, angle: float, angle_abs: bool
) -> np.ndarray:
    """Angle constraint (to_graph/strategies.py:739-748): obstructed iff
    atan(slope) < visibility_angle; abs of both when angle_abs."""
    dy = y[edges[:, 1]] - y[edges[:, 0]]
    dx = (edges[:, 1] - edges[:, 0]).astype(np.float64)
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
    """Ordinal patterns for every embedding window.

    Embeddings (strategies.py:52-55): windows y[i : i+w*tau : tau] for
    i in 0..n-w*tau.  Rank pattern (strategies.py:64-70): stable sort by
    value, ties keep index order (verified [2,2,1] -> (1,2,0)).  Quantile
    pattern (strategies.py:58-63): rank = #within-window thresholds
    strictly below the value, thresholds = np.quantile(window,
    linspace(0,1,Q+1)[1:-1]).

    Returns int64 array (num_windows, w) of ranks.
    """
    y = np.asarray(y, dtype=np.float64)
    n = len(y)
    m = n - w * tau + 1
    if m <= 0:
        return np.empty((0, w), dtype=np.int64)
    idx = np.arange(m)[:, None] + np.arange(0, w * tau, tau)[None, :]
    E = y[idx]
    if use_quantiles:
        qs = np.linspace(0, 1, Q + 1)[1:-1]
        thr = np.quantile(E, qs, axis=1).T  # (m, Q-1)
        ranks = (E[:, :, None] > thr[:, None, :]).sum(axis=2)
        return ranks.astype(np.int64)
    order = np.argsort(E, axis=1, kind="stable")
    ranks = np.empty((m, w), dtype=np.int64)
    rows = np.arange(m)[:, None]
    ranks[rows, order] = np.arange(w)[None, :]
    return ranks


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
    """Transition edges between consecutive patterns.

    Weight = transition_count / num_patterns (strategies.py:110-122 — the
    denominator is the number of PATTERNS, not transitions).

    Returns (src_patterns[m,w], dst_patterns[m,w], weights[m]).
    """
    npat = len(patterns)
    if npat < 2:
        w = patterns.shape[1] if patterns.ndim == 2 else 0
        e = np.empty((0, w), dtype=np.int64)
        return e, e, np.empty(0)
    pairs = np.concatenate([patterns[:-1], patterns[1:]], axis=1)
    # the rows and counts of np.unique(pairs, axis=0), from an integer
    # lexsort over the 2w columns (np.unique sorts them as void records,
    # ~8x slower)
    s = pairs[np.lexsort(pairs.T[::-1])]
    new = np.empty(len(s), dtype=bool)
    new[0] = True
    np.any(s[1:] != s[:-1], axis=1, out=new[1:])
    starts = np.flatnonzero(new)
    uniq = s[starts]
    counts = np.diff(starts, append=len(s))
    w = patterns.shape[1]
    return uniq[:, :w], uniq[:, w:], counts / float(npat)


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
    """Quantile-graph transitions bin(y_t) -> bin(y_{t+phi}) with their
    integer counts.  Returns (edges[m,2] int64 sorted, counts[m] int64)."""
    if len(y) <= phi:  # no transition (and np.quantile rejects [])
        return np.empty((0, 2), dtype=np.int64), np.empty(0, dtype=np.int64)
    _, idx = quantile_bins_indices(y, Q)
    pairs = np.stack([idx[:-phi], idx[phi:]], axis=1)
    return np.unique(pairs, axis=0, return_counts=True)


def qg_edges(
    y: np.ndarray, Q: int, phi: int = 1
) -> tuple[np.ndarray, np.ndarray]:
    """Quantile-graph transition edges with per-source normalization
    (strategies.py:437-459).  Returns (edges[m,2] int64, weights[m]).
    Nodes 0..Q-1 always exist; only edges are returned here."""
    uniq, counts = qg_transitions(y, Q, phi)
    # normalize per source node over its successors (sums of integer
    # counts: exact in float64)
    _, src_of = np.unique(uniq[:, 0], return_inverse=True)
    w = counts.astype(np.float64)
    return uniq, w / np.bincount(src_of, weights=w)[src_of]


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
