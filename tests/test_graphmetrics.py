"""Graph-metric operators vs networkx and numpy models: the relational
degree / degree-exponent operators on a noisy edge frame, and the
per-series Spark ops (summary / clustering / PageRank / link prediction)
on every series' visibility graph.  GRAPHS, `noisy_edges` and
`_pagerank_model` are shared with the per-series metric kernel tests
(test_graphmetrics_fused)."""

from __future__ import annotations

import networkx as nx
import numpy as np
import pandas as pd
import pytest

from ts2g2_spark.operators import kernels as K
from ts2g2_spark.operators.graphmetrics import (
    clustering_from_series, degrees, graph_summary_from_series,
    link_prediction_from_series, pagerank_from_series,
)


def noisy_edges(edges) -> np.ndarray:
    """(m, 2) int64 edge array with every edge also reversed and one
    self-loop: the noise the operators must collapse (matching nx.Graph
    insert semantics)."""
    e = np.asarray(edges, np.int64).reshape(-1, 2)
    return np.concatenate([e, e[:, ::-1], e[:1, :1].repeat(2, axis=1)])


def _edge_df(spark, graphs):
    """graphs: {series_key: iterable of (u, v)} -> noisy edge frame."""
    rows = [(key, int(u), int(v), 1.0)
            for key, edges in graphs.items()
            for u, v in noisy_edges(edges).tolist()]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["series_key", "src", "dst", "weight"])
    )


GRAPHS = {
    "tri": [(0, 1), (1, 2), (0, 2)],                      # one triangle
    "path": [(0, 1), (1, 2), (2, 3)],                     # no triangle
    "k4": [(a, b) for a in range(4) for b in range(a + 1, 4)],
    "star": [(0, i) for i in range(1, 6)],
    "two_tri": [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4), (2, 4)],
    "rand": [
        (int(u), int(v))
        for u, v in np.random.default_rng(7).integers(0, 30, (120, 2))
        if u != v
    ],
}


def _nx(graphs):
    out = {}
    for key, edges in graphs.items():
        g = nx.Graph()
        g.add_edges_from(edges)
        out[key] = g
    return out


@pytest.fixture(scope="module")
def edge_df(spark):
    return _edge_df(spark, GRAPHS).cache()


# series for the per-series Spark ops: ties, a 2-point series and noise
SERIES = {
    "saw": [1.0, 5.0, 2.0, 6.0, 1.0, 7.0, 3.0, 5.0, 2.0],
    "steps": [1.0, 1.0, 2.0, 2.0, 1.0, 3.0, 3.0, 1.0, 2.0, 4.0],
    "tiny": [2.0, 1.0],
    "noise": np.random.default_rng(5).normal(size=40).tolist(),
}
KIND = "natural"


@pytest.fixture(scope="module")
def series_df(spark):
    return spark.createDataFrame(
        list(SERIES.items()), "series_key string, values array<double>"
    ).cache()


def _series_nx():
    """{series_key: nx.Graph of the series' visibility graph}."""
    out = {}
    for key, values in SERIES.items():
        g = nx.Graph()
        g.add_edges_from(
            K.visibility_graph(np.asarray(values), kind=KIND)[0].tolist())
        out[key] = g
    return out


def _pagerank_model(g: nx.Graph, iters: int, d: float, dp: int):
    """The documented PageRank contract: power iteration with
    per-iteration decimal rounding (np.round half-even matches Spark's
    ROUND HALF_UP only at non-boundary values — boundary values are
    astronomically unlikely for irrational rank sums, and the tests
    compare with 2e-9 tolerance anyway)."""
    nodes = sorted(g.nodes())
    n = len(nodes)
    idx = {v: i for i, v in enumerate(nodes)}
    deg = np.array([g.degree(v) for v in nodes], float)
    r = np.round(np.full(n, 1.0 / n), dp)
    for _ in range(iters):
        inflow = np.zeros(n)
        for u, v in g.edges():
            inflow[idx[v]] += r[idx[u]] / deg[idx[u]]
            inflow[idx[u]] += r[idx[v]] / deg[idx[v]]
        r = np.round((1.0 - d) / n + d * inflow, dp)
    return {v: r[idx[v]] for v in nodes}


def test_degrees_match_networkx(spark, edge_df):
    got = {
        (r.series_key, r.node): r.degree
        for r in degrees(edge_df).collect()
    }
    for key, g in _nx(GRAPHS).items():
        for node, deg in g.degree():
            assert got[(key, node)] == deg
    assert len(got) == sum(g.number_of_nodes() for g in _nx(GRAPHS).values())


def test_summary_matches_networkx(series_df):
    got = {r.series_key: r for r in
           graph_summary_from_series(series_df, kind=KIND).collect()}
    assert set(got) == set(SERIES)
    for key, g in _series_nx().items():
        r = got[key]
        assert r.n_nodes == g.number_of_nodes()
        assert r.n_edges == g.number_of_edges()
        assert r.density == pytest.approx(nx.density(g), abs=1e-9)
        degs = [d for _, d in g.degree()]
        assert r.max_degree == max(degs)
        assert r.avg_degree == pytest.approx(np.mean(degs), abs=1e-9)


def test_triangles_match_networkx(series_df):
    got = {
        (r.series_key, r.node): r.triangles
        for r in clustering_from_series(series_df, kind=KIND).collect()
    }
    want = {(key, node): t for key, g in _series_nx().items()
            for node, t in nx.triangles(g).items()}
    assert got == want
    assert sum(want.values()) > 0


def test_clustering_matches_networkx(series_df):
    got = {
        (r.series_key, r.node): r
        for r in clustering_from_series(series_df, kind=KIND).collect()
    }
    graphs = _series_nx()
    assert len(got) == sum(g.number_of_nodes() for g in graphs.values())
    for key, g in graphs.items():
        cc = nx.clustering(g)
        for node in g.nodes():
            r = got[(key, node)]
            assert r.lcc == pytest.approx(cc[node], abs=1e-8)
            assert r.degree == g.degree(node)


def test_pagerank_matches_model_and_sums_to_one(series_df):
    got = {
        (r.series_key, r.node): r.rank
        for r in pagerank_from_series(
            series_df, kind=KIND, iters=8, damping=0.85).collect()
    }
    for key, g in _series_nx().items():
        model = _pagerank_model(g, iters=8, d=0.85, dp=9)
        for node, exp in model.items():
            assert got[(key, node)] == pytest.approx(exp, abs=2e-9), (
                key, node)
        total = sum(v for (k, _), v in got.items() if k == key)
        assert total == pytest.approx(1.0, abs=1e-5)


def test_pagerank_close_to_converged_fixpoint(series_df):
    """More iterations approach the converged PageRank fixpoint (the
    unrounded power-iteration limit; nx.pagerank needs scipy, absent
    here — the dp=15 model is the same algorithm run to convergence).
    Tolerance follows the geometric convergence rate (0.85^40 ~ 1.5e-3)."""
    got = {
        (r.series_key, r.node): r.rank
        for r in pagerank_from_series(
            series_df, kind=KIND, iters=40, damping=0.85).collect()
    }
    for key, g in _series_nx().items():
        ref = _pagerank_model(g, iters=200, d=0.85, dp=15)
        for node, exp in ref.items():
            assert got[(key, node)] == pytest.approx(exp, abs=2e-3)


def test_degree_exponent_matches_bruteforce(spark):
    """Clauset MLE from the relational degree frame equals the direct
    numpy computation per graph; an i.i.d.-noise HVG's exponent lands
    in the literature's exponential-tail regime (alpha well above the
    ~3.3 of ln(3/2)-rate tails is not expected — sanity-band only)."""
    import numpy as np
    import pandas as pd

    from ts2g2_spark.operators import graphmetrics, graphs

    rng = np.random.default_rng(29)
    series = {
        "noise": rng.normal(size=400).tolist(),
        "ramp": np.arange(60.0).tolist(),
        "tiny": [2.0, 1.0],
    }
    sdf = spark.createDataFrame(pd.DataFrame(
        {"series_key": list(series), "values": list(series.values())}))
    edges = graphs.visibility_edges(sdf, kind="horizontal")
    got = {r.series_key: r for r in
           graphmetrics.degree_exponent(edges).collect()}
    degs = graphmetrics.degrees(edges).toPandas()
    for key in series:
        d = degs[degs.series_key == key]["degree"].to_numpy(float)
        alpha = 1.0 + len(d) / (np.log(d).sum()
                                - len(d) * np.log(d.min() - 0.5))
        r = got[key]
        assert r.n_nodes == len(d)
        assert r.dmin == d.min()
        assert r.alpha == pytest.approx(round(alpha, 6), abs=2e-6), key
    # 2-node graph: both degrees 1 -> alpha = 1 + 2/(2*ln2)
    assert got["tiny"].alpha == pytest.approx(
        1.0 + 2.0 / (2.0 * np.log(2.0)), abs=2e-6)


def test_link_prediction_matches_networkx(series_df):
    got = {(r.series_key, r.u, r.v): (r.cn, r.jaccard, r.adamic_adar)
           for r in link_prediction_from_series(
               series_df, kind=KIND).collect()}
    want = {}
    for key, g in _series_nx().items():
        # every non-edge pair with >= 1 common neighbor
        pairs = [(u, v) for u in g for v in g
                 if u < v and not g.has_edge(u, v)
                 and len(list(nx.common_neighbors(g, u, v))) > 0]
        for u, v, j in nx.jaccard_coefficient(g, pairs):
            want.setdefault((key, u, v), {})["j"] = j
        for u, v, a in nx.adamic_adar_index(g, pairs):
            want[(key, u, v)]["a"] = a
        for u, v in pairs:
            want[(key, u, v)]["cn"] = len(
                list(nx.common_neighbors(g, u, v)))
    assert set(got) == set(want)
    assert len(want) > 0
    for k, (cn, j, a) in got.items():
        assert cn == want[k]["cn"]
        assert j == pytest.approx(want[k]["j"], abs=1e-6)
        assert a == pytest.approx(want[k]["a"], abs=1e-6)


def test_link_prediction_edges(spark):
    def run(series):
        return link_prediction_from_series(spark.createDataFrame(
            list(series.items()), "series_key string, values array<double>"),
            kind="horizontal").collect()

    # a single edge: no wedge, no candidates
    assert run({"e": [2.0, 1.0]}) == []
    # a peak blocks 0-2, so the graph is the path 0-1-2: exactly one
    # prediction (0,2) through hub 1 (deg 2)
    rows = run({"p": [1.0, 3.0, 2.0]})
    assert len(rows) == 1
    r = rows[0]
    assert (r.series_key, r.u, r.v, r.cn) == ("p", 0, 2, 1)
    assert r.jaccard == 1.0           # cn=1, du=dv=1, union=1
    assert r.adamic_adar == round(1.0 / np.log(2.0), 6)
    # empty frame
    assert run({}) == []
