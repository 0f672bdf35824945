"""Test harness: runs the PUBLIC reference (zangrcar/ts2g2 at
/root/reference, read-only) as a parity oracle.

The reference imports scipy / deprecated / matplotlib / dtaidistance /
gensim, none of which are installed here (SURVEY.md §0), so we inject thin
stub modules BEFORE putting the reference on sys.path.  Only
pdist/squareform need real (numpy) implementations; dtw gets a standard
DP implementation (dtaidistance is absent upstream too, so DTW parity is
pinned to the published recurrence, not to a library).
"""

from __future__ import annotations

import importlib.machinery
import os
import sys
import types

import numpy as np
import pytest

REFERENCE_PATH = "/root/reference"


def _mod(name: str) -> types.ModuleType:
    """Stub module with a real ModuleSpec (pyspark probes find_spec)."""
    m = types.ModuleType(name)
    m.__spec__ = importlib.machinery.ModuleSpec(name, loader=None)
    return m


def _install_stub_modules() -> None:
    if "scipy" in sys.modules and hasattr(sys.modules["scipy"], "_ts2g2_stub"):
        return

    # --- scipy (pdist/squareform are real; ref uses them at
    #     to_graph/strategies.py:363,384) ---
    scipy = _mod("scipy")
    scipy._ts2g2_stub = True
    spatial = _mod("scipy.spatial")
    distance = _mod("scipy.spatial.distance")

    def pdist(X, metric="euclidean"):
        X = np.asarray(X, dtype=np.float64)
        n = len(X)
        iu, ju = np.triu_indices(n, k=1)
        d = X[iu] - X[ju]
        return np.sqrt((d * d).sum(axis=1))

    def squareform(v):
        v = np.asarray(v)
        # inverse triangular number
        n = int(round((1 + np.sqrt(1 + 8 * len(v))) / 2))
        M = np.zeros((n, n))
        iu, ju = np.triu_indices(n, k=1)
        M[iu, ju] = v
        M[ju, iu] = v
        return M

    distance.pdist = pdist
    distance.squareform = squareform
    spatial.distance = distance
    scipy.spatial = spatial

    stats = _mod("scipy.stats")

    def pearsonr(a, b):
        a = np.asarray(a, dtype=np.float64)
        b = np.asarray(b, dtype=np.float64)
        r = np.corrcoef(a, b)[0, 1]
        return r, np.nan

    def kendalltau(a, b):
        a = np.asarray(a)
        b = np.asarray(b)
        # the reference feeds ID STRINGS (embeddings/ts2g2_embeddings.py:
        # 94) — real scipy would TypeError on those, a latent upstream
        # bug; the stub realizes the documented intent by replacing
        # non-numeric values with their lexicographic rank codes.
        if not np.issubdtype(a.dtype, np.number):
            a = np.argsort(np.argsort(a))
        if not np.issubdtype(b.dtype, np.number):
            b = np.argsort(np.argsort(b))
        n = len(a)
        conc = disc = 0
        for i in range(n):
            for j in range(i + 1, n):
                s = np.sign(a[i] - a[j]) * np.sign(b[i] - b[j])
                if s > 0:
                    conc += 1
                elif s < 0:
                    disc += 1
        denom = n * (n - 1) / 2
        tau = (conc - disc) / denom if denom else np.nan
        # scipy returns a namedtuple-like SignificanceResult: attribute
        # access AND tuple unpacking both work
        import collections

        Res = collections.namedtuple("SignificanceResult",
                                     ["statistic", "pvalue"])
        return Res(tau, np.nan)

    stats.pearsonr = pearsonr
    stats.kendalltau = kendalltau
    scipy.stats = stats

    interpolate = _mod("scipy.interpolate")

    def interp1d(x, y, kind="linear"):
        return lambda xi: np.interp(xi, x, y)

    interpolate.interp1d = interp1d
    scipy.interpolate = interpolate

    sys.modules["scipy"] = scipy
    sys.modules["scipy.spatial"] = spatial
    sys.modules["scipy.spatial.distance"] = distance
    sys.modules["scipy.stats"] = stats
    sys.modules["scipy.interpolate"] = interpolate

    # --- deprecated ---
    dep = _mod("deprecated")

    def deprecated(*args, **kwargs):
        if len(args) == 1 and callable(args[0]) and not kwargs:
            return args[0]

        def wrap(f):
            return f

        return wrap

    dep.deprecated = deprecated
    sys.modules["deprecated"] = dep

    # --- matplotlib ---
    mpl = _mod("matplotlib")
    plt = _mod("matplotlib.pyplot")
    for name in (
        "figure", "plot", "title", "xlabel", "ylabel", "grid", "show",
    ):
        setattr(plt, name, lambda *a, **k: None)
    mpl.pyplot = plt
    sys.modules["matplotlib"] = mpl
    sys.modules["matplotlib.pyplot"] = plt

    # --- dtaidistance (standard DTW DP; diagonal-preferring backtrack) ---
    dtai = _mod("dtaidistance")
    dtw = _mod("dtaidistance.dtw")

    def warping_paths(s1, s2, use_c=False, **kwargs):
        s1 = np.asarray(s1, dtype=np.float64)
        s2 = np.asarray(s2, dtype=np.float64)
        n, m = len(s1), len(s2)
        D = np.full((n + 1, m + 1), np.inf)
        D[0, 0] = 0.0
        for i in range(1, n + 1):
            c = (s1[i - 1] - s2) ** 2
            for j in range(1, m + 1):
                D[i, j] = c[j - 1] + min(
                    D[i - 1, j - 1], D[i - 1, j], D[i, j - 1]
                )
        return float(np.sqrt(D[n, m])), np.sqrt(D)

    def best_path(paths):
        i = paths.shape[0] - 1
        j = paths.shape[1] - 1
        p = [(i - 1, j - 1)]
        while i > 1 or j > 1:
            cands = [
                (paths[i - 1, j - 1], i - 1, j - 1),
                (paths[i - 1, j], i - 1, j),
                (paths[i, j - 1], i, j - 1),
            ]
            _, i, j = min(cands, key=lambda t: t[0])
            p.append((i - 1, j - 1))
        p.reverse()
        return p

    dtw.warping_paths = warping_paths
    dtw.best_path = best_path
    dtai.dtw = dtw
    sys.modules["dtaidistance"] = dtai
    sys.modules["dtaidistance.dtw"] = dtw

    # --- numba (embeddings/ts2g2_embeddings.py:110 imports it; passthrough
    #     jit decorators are enough — the oracle paths we call don't rely
    #     on compilation) ---
    numba = _mod("numba")

    def _jit(*args, **kwargs):
        if len(args) == 1 and callable(args[0]) and not kwargs:
            return args[0]

        def wrap(f):
            return f

        return wrap

    numba.jit = _jit
    numba.njit = _jit
    numba.prange = range
    sys.modules["numba"] = numba


def pytest_configure(config):
    _install_stub_modules()
    if REFERENCE_PATH not in sys.path:
        sys.path.append(REFERENCE_PATH)


@pytest.fixture(scope="session")
def spark():
    from ts2g2_spark.session import get_spark

    s = get_spark(app_name="ts2g2_spark_tests", parallelism=4,
                  shuffle_partitions=4)
    yield s


@pytest.fixture
def count_jobs(spark):
    """count_jobs(fn) -> (fn(), the number of Spark jobs fn started),
    counted by job group through the status tracker."""
    sc = spark.sparkContext
    seq = iter(range(1 << 30))

    def run(fn):
        group = f"count_jobs-{id(fn)}-{next(seq)}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture(scope="session")
def reference():
    """Imports from the reference repo (oracle). Module-shaped namespace.
    Tests that need it skip when the checkout is absent; the emitter and
    brute-force pins (test_graph_emitters.py) do not need it."""
    if not os.path.isdir(REFERENCE_PATH):
        pytest.skip(f"ts2g2 reference checkout not found at {REFERENCE_PATH}")
    _install_stub_modules()
    if REFERENCE_PATH not in sys.path:
        sys.path.append(REFERENCE_PATH)
    import to_graph.strategies as strategies  # noqa
    import core.model as model  # noqa

    return types.SimpleNamespace(strategies=strategies, model=model)
