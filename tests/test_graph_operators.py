"""Spark-level graph operators: reference contract; sliding-window
off-by-one; histogram.  (OPG and QG are pinned against brute force in
test_graph_emitters.py.)"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from ts2g2_spark.operators import graphs

VG_DEMO = [0.35, 0.9, 0.3, 0.8, 0.65, 0.95, 0.1, 0.4, 0.9, 0.2,
           0.5, 1.0, 0.05, 0.1, 0.25, 0.75, 0.65, 0.9, 0.4, 0.5]


@pytest.fixture(scope="module")
def series_df(spark):
    rng = np.random.default_rng(42)
    rows = [
        ("vg_demo", VG_DEMO),
        ("inc", [1.0, 2.0, 3.0, 4.0, 5.0]),
        ("opg", [4.0, 2.0, 1.0, 3.0, 5.0]),
        ("qg", list(map(float, range(1, 11)))),
        ("rand", rng.normal(size=100).tolist()),
        ("randint", rng.integers(0, 6, size=80).astype(float).tolist()),
    ]
    return spark.createDataFrame(rows, "series_key string, values array<double>")


@pytest.fixture(scope="module")
def points_df(spark, series_df):
    return series_df.select(
        "series_key", F.posexplode("values").alias("idx", "value")
    ).withColumn("ts", F.timestamp_seconds(1704067200 + F.col("idx")))


def test_sliding_windows_off_by_one(spark):
    # core/model.py:81-82: len 10, win 5, move 1 -> 5 windows starting 0..4
    df = spark.createDataFrame(
        [("a", list(map(float, range(10))))],
        "series_key string, values array<double>")
    segs = graphs.sliding_windows(df, 5, 1).collect()
    assert [r.start_idx for r in segs] == [0, 1, 2, 3, 4]
    assert segs[0].values == [0.0, 1.0, 2.0, 3.0, 4.0]
    assert segs[-1].values == [4.0, 5.0, 6.0, 7.0, 8.0]
    # len == win -> none
    df2 = spark.createDataFrame(
        [("a", [1.0, 2.0, 3.0])], "series_key string, values array<double>")
    assert graphs.sliding_windows(df2, 3, 1).count() == 0


def test_segment_slice(spark, series_df):
    got = graphs.segment(series_df, 2, 6).where(
        F.col("series_key") == "qg").collect()[0].values
    assert got == [3.0, 4.0, 5.0, 6.0]


def test_visibility_spark_matches_kernel(spark, series_df, reference):
    from tests.test_kernels_parity import ref_visibility_graph

    pdf = series_df.toPandas()
    for kind in ("natural", "horizontal"):
        edges = graphs.visibility_edges(series_df, kind=kind).toPandas()
        for key, g in edges.groupby("series_key"):
            y = pdf[pdf.series_key == key]["values"].iloc[0]
            ref = ref_visibility_graph(reference, list(y), kind)
            got = {(int(r.src), int(r.dst)) for r in g.itertuples()}
            assert got == set(ref), (key, kind)


def test_proximity_spark(spark, series_df):
    e = graphs.proximity_edges(
        series_df, method="recurrence", recurrence_type="epsilon",
        epsilon=1.0).toPandas()
    qg = e[e.series_key == "qg"]
    got = {(int(r.src), int(r.dst)) for r in qg.itertuples()}
    # [1..10], eps=1.0: edges between consecutive values only
    assert got == {(i, i + 1) for i in range(9)}


def test_histogram_matches_numpy(spark, series_df):
    h = graphs.histogram(series_df, 5).toPandas()
    pdf = series_df.toPandas()
    for r in h.itertuples():
        y = np.asarray(
            pdf[pdf.series_key == r.series_key]["values"].iloc[0])
        f, b = np.histogram(y, 5)
        assert np.array_equal(np.asarray(r.freqs), f)
        assert np.array_equal(np.asarray(r.bin_edges), b)


def test_series_from_points_roundtrip(spark, series_df, points_df):
    back = graphs.series_from_points(
        points_df, "series_key", order_col="idx").toPandas()
    orig = series_df.toPandas()
    bm = {r.series_key: list(r.values) for r in back.itertuples()}
    om = {r.series_key: list(r.values) for r in orig.itertuples()}
    assert bm == om


def test_segment_visibility_pipeline(spark, series_df, reference):
    """sliding windows -> per-segment NVG, vs reference per-segment."""
    from tests.test_kernels_parity import ref_visibility_graph

    segs = graphs.sliding_windows(
        series_df.where(F.col("series_key") == "vg_demo"), 8, 4)
    seg_frame = segs.select(
        F.concat_ws("#", "series_key", "start_idx").alias("series_key"),
        "values")
    edges = graphs.visibility_edges(seg_frame, kind="natural").toPandas()
    starts = [0, 4, 8]  # range(0, 20-8, 4)
    assert sorted(
        int(k.split("#")[1]) for k in edges.series_key.unique()) == starts
    for s in starts:
        seg = VG_DEMO[s: s + 8]
        ref = ref_visibility_graph(reference, seg, "natural")
        g = edges[edges.series_key == f"vg_demo#{s}"]
        got = {(int(r.src), int(r.dst)) for r in g.itertuples()}
        assert got == set(ref)


def test_multivariate_opg_parity(spark, reference):
    """G7: multivariate up/down OPG vs the reference's multivariate path
    (to_graph/strategies.py:72-94,107-126)."""
    rng = np.random.default_rng(19)
    s1 = rng.normal(size=40)
    s2 = rng.normal(size=40)
    w, tau = 3, 2

    strat = reference.strategies.TimeseriesToOrdinalPatternGraph(w, tau)
    ref_g = strat.to_graph(
        reference.model.TimeseriesArrayStream([s1, s2])).graph
    ref = {
        (",".join(map(str, a)), ",".join(map(str, b))): d["weight"]
        for a, b, d in ref_g.edges(data=True)
    }

    df = spark.createDataFrame(
        [("m", [s1.tolist(), s2.tolist()])],
        "series_key string, variables array<array<double>>")
    got = {(r.src_pattern, r.dst_pattern): r.weight
           for r in graphs.opg_edges_multivariate(df, w, tau).collect()}
    assert set(got) == set(ref)
    for k in ref:
        assert got[k] == pytest.approx(ref[k], abs=0)


def test_grouped_correlation_linking(spark, reference):
    """L4: correlation linking keyed per window-group
    (strategy_linking_multi_graphs.py:80-118 runs L3 independently per
    group j — parity via per-group L3 oracle)."""
    from to_graph.strategy_linking_multi_graphs import (
        PearsonCorrelation,
        StrategyLinkingGraphsByCorrelation,
    )
    import networkx as nx
    import pandas as pd
    from ts2g2_spark.operators import linking

    rng = np.random.default_rng(23)
    rows = []
    ref = {}
    for grp in ("w0", "w1"):
        graphs_d = {}
        for k in range(3):
            ts = pd.Series(rng.normal(size=15))
            g = nx.Graph()
            g.add_node(f"{grp}_s{k}", timeseries=ts)
            graphs_d[f"{grp}_h{k}"] = g
            rows.append((grp, f"{grp}_s{k}", k, float("nan"), ts.tolist()))
        strat = StrategyLinkingGraphsByCorrelation(None, PearsonCorrelation())
        strat.set_graphs(graphs_d, None, None)
        rg, _ = strat.apply()
        for a, b, d in rg.edges(data=True):
            ref[tuple(sorted((str(a), str(b))))] = d["weight"]

    nodes = spark.createDataFrame(
        rows, "grp string, node_id string, ord long, value double, "
              "values array<double>")
    got = {tuple(sorted((r.src, r.dst))): r.weight
           for r in linking.link_correlation(nodes, group_col="grp")
           .collect()}
    assert set(got) == set(ref)
    for k in ref:
        assert got[k] == pytest.approx(ref[k], abs=1e-12)
