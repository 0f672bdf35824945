"""Kernel parity vs the reference (zangrcar/ts2g2) run as an oracle.

Edge SETS must match exactly; weights match to float64 equality where the
reference is deterministic (visibility angle weights, OPG/QG transition
probabilities) and to 1e-12 relative for BLAS-order-sensitive correlations.
"""

from __future__ import annotations

import numpy as np
import pytest

from ts2g2_spark.operators import kernels

# fixture series (FIXTURES.md §2; vg_demo from reference main.py:10)
VG_DEMO = [0.35, 0.9, 0.3, 0.8, 0.65, 0.95, 0.1, 0.4, 0.9, 0.2,
           0.5, 1.0, 0.05, 0.1, 0.25, 0.75, 0.65, 0.9, 0.4, 0.5]
SERIES = {
    "vg_demo": VG_DEMO,
    "increasing": [1.0, 2.0, 3.0, 4.0, 5.0],
    "peak": [1.0, 2.0, 10.0, 4.0, 5.0],
    "limit_a": [1.0, 2.0, 5.0, 4.0, 5.0],
    "limit_b": [1.0, 2.0, 2.0, 4.0, 5.0],
    "limit_c": [1.0, 2.0, 3.0, 2.0, 1.0],
    "limit_d": [1.0, 2.0, 2.0, 2.0, 1.0],
    "hvg_a": [1.0, 2.0, 1.0, 2.0, 1.0],
    "hvg_c": [2.0, 2.0, 2.0, 2.0, 2.0],
    "opg_canon": [4.0, 2.0, 1.0, 3.0, 5.0],
    "ties": [2.0, 2.0, 1.0],
    "qg_canon": list(map(float, range(1, 11))),
    "constant": [5.0, 5.0, 5.0, 5.0],
}
rng = np.random.default_rng(42)
for i, n in enumerate([20, 50, 120]):
    SERIES[f"rand_{n}"] = rng.normal(size=n).tolist()
    SERIES[f"randint_{n}"] = rng.integers(0, 8, size=n).astype(float).tolist()


def ref_visibility_graph(reference, y, kind, limit=0, angle=None,
                         angle_abs=True, weighted=False, weight_abs=True):
    st = reference.strategies
    model = reference.model
    constraints = []
    if kind == "natural":
        constraints.append(
            st.TimeseriesEdgeVisibilityConstraintsNatural(limit))
    else:
        constraints.append(
            st.TimeseriesEdgeVisibilityConstraintsHorizontal(limit))
    if angle is not None:
        constraints.append(
            st.TimeseriesEdgeVisibilityConstraintsVisibilityAngle(
                angle, angle_abs))
    weighting = (st.EdgeWeightingStrategyAngle(weight_abs) if weighted
                 else st.EdgeWeightingStrategyNull())
    strat = st.TimeseriesToGraphStrategy(constraints, "undirected", weighting)
    g = strat.to_graph(model.TimeseriesArrayStream(list(y))).graph
    edges = {}
    for u, v, d in g.edges(data=True):
        a, b = (u, v) if u < v else (v, u)
        edges[(a, b)] = d.get("weight")
    return edges


@pytest.mark.parametrize("name", sorted(SERIES))
@pytest.mark.parametrize("kind", ["natural", "horizontal"])
@pytest.mark.parametrize("limit", [0, 1, 2])
def test_visibility_edge_sets(reference, name, kind, limit):
    y = np.array(SERIES[name])
    ref = ref_visibility_graph(reference, y, kind, limit=limit)
    e, _ = kernels.visibility_graph(y, kind=kind, limit=limit)
    got = {tuple(t) for t in e.tolist()}
    assert got == set(ref), f"{name} {kind} limit={limit}"


@pytest.mark.parametrize("name", ["vg_demo", "rand_50", "randint_50"])
@pytest.mark.parametrize("kind", ["natural", "horizontal"])
def test_visibility_weighted(reference, name, kind):
    y = np.array(SERIES[name])
    ref = ref_visibility_graph(reference, y, kind, weighted=True)
    e, w = kernels.visibility_graph(y, kind=kind, weighted=True)
    got = {tuple(t): wt for t, wt in zip(e.tolist(), w.tolist())}
    assert set(got) == set(ref)
    for k, wt in ref.items():
        if wt is None:
            assert np.isnan(got[k])
        else:
            assert got[k] == pytest.approx(wt, rel=0, abs=1e-15), k


@pytest.mark.parametrize("name", ["vg_demo", "rand_50"])
@pytest.mark.parametrize("angle", [0.0, 0.3, 1.0])
@pytest.mark.parametrize("angle_abs", [True, False])
def test_visibility_angle_constraint(reference, name, angle, angle_abs):
    y = np.array(SERIES[name])
    ref = ref_visibility_graph(reference, y, "natural", angle=angle,
                               angle_abs=angle_abs)
    e, _ = kernels.visibility_graph(y, kind="natural", angle=angle,
                                    angle_abs=angle_abs)
    got = {tuple(t) for t in e.tolist()}
    assert got == set(ref)


@pytest.mark.parametrize("name", ["opg_canon", "ties", "vg_demo", "rand_120",
                                  "randint_120", "constant"])
@pytest.mark.parametrize("w,tau", [(3, 1), (3, 2), (4, 1)])
@pytest.mark.parametrize("use_q", [False, True])
def test_ordinal_partition(reference, name, w, tau, use_q):
    y = np.array(SERIES[name])
    if len(y) < w * tau + 1:
        pytest.skip("series too short")
    st = reference.strategies
    model = reference.model
    strat = st.TimeseriesToOrdinalPatternGraph(w, tau, use_quantiles=use_q)
    g = strat.to_graph(model.TimeseriesArrayStream(list(y))).graph
    ref_edges = {(u, v): d["weight"] for u, v, d in g.edges(data=True)}
    pats = kernels.ordinal_patterns(y, w, tau, use_quantiles=use_q)
    src, dst, wt = kernels.opg_edges(pats)
    got = {
        (tuple(s), tuple(d)): x
        for s, d, x in zip(src.tolist(), dst.tolist(), wt.tolist())
    }
    assert set(got) == set(ref_edges)
    for k in ref_edges:
        assert got[k] == ref_edges[k], k  # exact: count/len division
    assert set(g.nodes) == {tuple(p) for p in pats.tolist()} if len(pats) > 1 \
        else True


def test_opg_canon_values():
    # pinned contract from reference tests/test_ordinal_partition.py:15-63
    pats = kernels.ordinal_patterns(np.array(SERIES["opg_canon"]), 3, 1)
    assert [tuple(p) for p in pats.tolist()] == [
        (2, 1, 0), (1, 0, 2), (0, 1, 2)]
    src, dst, w = kernels.opg_edges(pats)
    assert np.allclose(w, 1.0 / 3.0)
    assert kernels.ordinal_patterns(np.array([2.0, 2.0, 1.0]), 3, 1)[0].tolist() \
        == [1, 2, 0]


@pytest.mark.parametrize("name", ["qg_canon", "vg_demo", "rand_120",
                                  "randint_120", "constant"])
@pytest.mark.parametrize("Q,phi", [(4, 1), (4, 3), (3, 1)])
def test_quantile_graph(reference, name, Q, phi):
    import pandas as pd

    y = np.array(SERIES[name])
    if len(y) <= phi:
        pytest.skip("too short")
    st = reference.strategies
    model = reference.model
    strat = st.TimeseriesToQuantileGraph(Q, phi=phi)
    g = strat.to_graph(
        model.TimeseriesArrayStream(pd.Series(y)), phi).graph
    ref_edges = {(u, v): d["weight"] for u, v, d in g.edges(data=True)}
    e, w = kernels.qg_edges(y, Q, phi)
    got = {tuple(t): x for t, x in zip(e.tolist(), w.tolist())}
    assert set(got) == set(ref_edges)
    for k in ref_edges:
        assert got[k] == ref_edges[k], k


def test_qg_canon_values():
    # pinned contract from reference tests/test_quantiles.py:14-116
    bins, idx = kernels.quantile_bins_indices(
        np.array(SERIES["qg_canon"]), 4)
    assert np.allclose(bins, [1.0 - 1e-9, 3.25, 5.5, 7.75, 10.0])
    assert idx.tolist() == [0, 0, 0, 1, 1, 2, 2, 3, 3, 3]
    e, w = kernels.qg_edges(np.array(SERIES["qg_canon"]), 4, 1)
    got = {tuple(t): x for t, x in zip(e.tolist(), w.tolist())}
    assert got[(0, 0)] == pytest.approx(2 / 3)
    assert got[(0, 1)] == pytest.approx(1 / 3)
    assert got[(1, 1)] == pytest.approx(1 / 2)
    assert got[(1, 2)] == pytest.approx(1 / 2)
    assert got[(3, 3)] == pytest.approx(1.0)


def test_qg_mean_jump(reference):
    # NOTE: the reference's mean_jump_length (to_graph/strategies.py:415-425)
    # crashes upstream (iterates .edges on its own TimeseriesGraph wrapper),
    # so the oracle reproduces its intent from the per-phi reference graphs.
    import pandas as pd

    y = np.array(SERIES["qg_canon"])
    st = reference.strategies
    model = reference.model
    ref = []
    for phi in range(1, 3):
        strat = st.TimeseriesToQuantileGraph(4, phi=phi)
        g = strat.to_graph(
            model.TimeseriesArrayStream(pd.Series(y)), phi).graph
        jumps = [abs(i - j) * g[i][j]["weight"] for (i, j) in g.edges]
        ref.append(np.mean(jumps))
    got = kernels.qg_mean_jump_length(y, 4, 2)
    assert np.allclose(got, np.array(ref), rtol=0, atol=0)


@pytest.mark.parametrize("name", ["qg_canon", "vg_demo", "rand_50"])
@pytest.mark.parametrize("L,thr", [(3, 0.5), (4, 0.9), (3, -0.5)])
def test_proximity_cycle(reference, name, L, thr):
    y = np.array(SERIES[name])
    st = reference.strategies
    model = reference.model
    for method in ("cycle", "correlation"):
        strat = st.TimeseriesToProximityNetworkGraph(
            method=method, segment_length=L, threshold=thr)
        g = strat.to_graph(model.TimeseriesArrayStream(y.copy())).graph
        ref_edges = {tuple(sorted(e)): g.edges[e]["weight"]
                     for e in g.edges}
        e, w = kernels.proximity_cycle_edges(y, L, thr)
        got = {tuple(t): x for t, x in zip(e.tolist(), w.tolist())}
        assert set(got) == set(ref_edges), (name, method)
        for k in ref_edges:
            assert got[k] == pytest.approx(ref_edges[k], rel=1e-12)


@pytest.mark.parametrize("name", ["qg_canon", "rand_50", "randint_50"])
@pytest.mark.parametrize("eps", [0.5, 1.0])
def test_proximity_epsilon(reference, name, eps):
    y = np.array(SERIES[name])
    st = reference.strategies
    model = reference.model
    strat = st.TimeseriesToProximityNetworkGraph(
        method="recurrence", recurrence_type="epsilon", epsilon=eps)
    g = strat.to_graph(model.TimeseriesArrayStream(y.copy())).graph
    ref_edges = {tuple(sorted(e)): g.edges[e]["weight"] for e in g.edges}
    e, w = kernels.proximity_epsilon_edges(y, eps)
    got = {tuple(t): x for t, x in zip(e.tolist(), w.tolist())}
    assert set(got) == set(ref_edges)
    for k in ref_edges:
        assert got[k] == ref_edges[k]


@pytest.mark.parametrize("name", ["qg_canon", "rand_50", "randint_50",
                                  "annn_density"])
@pytest.mark.parametrize("k", [3, 5])
def test_proximity_knn_annn(reference, name, k):
    SERIES.setdefault(
        "annn_density", [1.0, 1.0, 1.0, 2.0, 2.0, 2.0, 3.0, 3.0, 3.0])
    y = np.array(SERIES[name])
    st = reference.strategies
    model = reference.model
    for rec, fn in (("k-nnn", kernels.proximity_knn_edges),
                    ("annn", kernels.proximity_annn_edges)):
        strat = st.TimeseriesToProximityNetworkGraph(
            method="recurrence", recurrence_type=rec, k=k)
        g = strat.to_graph(model.TimeseriesArrayStream(y.copy())).graph
        ref_edges = {tuple(sorted(e)): g.edges[e]["weight"] for e in g.edges}
        e, w = fn(y, k)
        got = {tuple(t): x for t, x in zip(e.tolist(), w.tolist())}
        assert set(got) == set(ref_edges), (name, rec, k)
        for kk in ref_edges:
            assert got[kk] == ref_edges[kk]


@pytest.mark.parametrize("name,k", [
    ("annn_density", 3), ("annn_density", 5),
    ("randint_50", 5), ("rand_50", 5), ("qg_canon", 3),
])
def test_proximity_knn_stable_tie_order(name, k):
    """tie_order="stable" pins edge membership to the (distance, neighbor
    index) total order — the SQL-oracle contract: each node's neighbors
    are exactly the k-1 smallest non-self rows ranked by (dist, j).
    Verified against an independent brute-force (sorted(), not argsort)."""
    SERIES.setdefault(
        "annn_density", [1.0, 1.0, 1.0, 2.0, 2.0, 2.0, 3.0, 3.0, 3.0])
    y = np.array(SERIES[name])
    n = len(y)
    D = np.sqrt((y[:, None] - y[None, :]) ** 2)
    want = {}
    for i in range(n):
        ranked = sorted((float(D[i, j]), j) for j in range(n) if j != i)
        for _, j in ranked[: k - 1]:
            a, b = min(i, j), max(i, j)
            want[(a, b)] = float(D[i, j])
    e, w = kernels.proximity_knn_edges(y, k, tie_order="stable")
    got = {tuple(t): x for t, x in zip(e.tolist(), w.tolist())}
    assert got == want, (name, k)


def test_proximity_knn_stable_matches_reference_when_untied():
    """On a series with all-distinct pairwise distances the two tie
    orders agree — "stable" only diverges on exact float64 ties."""
    y = np.array(SERIES["rand_50"])
    e_ref, w_ref = kernels.proximity_knn_edges(y, 5, tie_order="reference")
    e_st, w_st = kernels.proximity_knn_edges(y, 5, tie_order="stable")
    assert {tuple(t) for t in e_ref.tolist()} == \
        {tuple(t) for t in e_st.tolist()}


# ---------------------------------------------------------------------------
# r4: output-sensitive visibility kernels vs literal-predicate brute force
# (the reference-fixture tests above cap at n=120 and only exercise the
# dense NVG path; these pin the sparse-table HVG enumeration and the
# n > _NVG_DENSE_N segmented NVG scan against brute force)
# ---------------------------------------------------------------------------

def _brute_hvg(y, limit=0):
    n = len(y)
    return {(i, j) for i in range(n) for j in range(i + 2, n)
            if not np.any(y[i + limit + 1: j] > max(y[i], y[j]))}


def _brute_nvg(y, limit=0):
    out = set()
    n = len(y)
    for i in range(n):
        for j in range(i + 2, n):
            y1, y2 = float(y[i]), float(y[j])
            slope = (y2 - y1) / (j - i)
            offset = y2 - slope * j
            ks = np.arange(i + limit + 1, j, dtype=np.float64)
            if not (len(ks) and np.any(y[i + limit + 1: j]
                                       > slope * ks + offset)):
                out.add((i, j))
    return out


@pytest.mark.parametrize("limit", [0, 1, 2, 5])
@pytest.mark.parametrize("case", ["noise", "quantized", "sorted",
                                  "reverse", "flat", "plateau"])
def test_visibility_kernels_vs_brute_force(case, limit):
    r = np.random.default_rng(11)
    y = {
        "noise": r.normal(size=97),
        "quantized": r.integers(0, 4, size=97).astype(float),
        "sorted": np.sort(r.normal(size=60)),
        "reverse": np.sort(r.normal(size=60))[::-1].copy(),
        "flat": np.ones(40),
        "plateau": np.concatenate(
            [np.full(12, 5.0), r.normal(size=12), np.full(12, 5.0)]),
    }[case]
    got_h = {tuple(e) for e in kernels.hvg_edges(y, limit).tolist()}
    assert got_h == _brute_hvg(y, limit), ("hvg", case, limit)
    got_n = {tuple(e) for e in kernels.nvg_edges(y, limit).tolist()}
    assert got_n == _brute_nvg(y, limit), ("nvg", case, limit)


@pytest.mark.parametrize("limit", [0, 2])
def test_nvg_segmented_long_series_matches_dense(limit):
    """A one-series call above _NVG_DENSE_N takes the segmented anchor
    scan with its suffix-max early stop; it must emit the same edges, in
    the same order, as the dense whole-series scan (same predicate,
    different physical strategy) — including across a monotone stretch
    where the stop condition is never provable."""
    r = np.random.default_rng(5)
    y = np.concatenate([r.normal(size=500),
                        np.sort(r.normal(size=300)) * 10.0,
                        r.normal(size=500)])
    assert len(y) > kernels._NVG_DENSE_N
    dense = kernels._nvg_dense(y, limit)
    fast = kernels.nvg_edges(y, limit)
    assert np.array_equal(fast, dense)
    assert len(dense) > len(y)  # sanity: non-trivial edge count


def test_hvg_first_greater_walk():
    """The sparse-table walk returns the FIRST strict violator at or
    after each start (or n), including ties-with-target and start >= n."""
    y = np.array([1.0, 3.0, 3.0, 2.0, 5.0, 0.0])
    T = kernels._range_max_table(y)
    starts = np.array([0, 1, 2, 4, 9])
    targets = np.array([3.0, 2.0, 5.0, -1.0, 0.0])
    got = kernels._first_greater(T, starts, targets, len(y))
    assert got.tolist() == [4, 1, 6, 4, 6]
