"""Rollup correctness: kernel vs relational vs duckdb oracle; tier-from-tier
exactness; gap-fill; chunk kernel bytes and codec round-trip through Spark;
pipeline resume, lineage and retention."""

from __future__ import annotations

import os
import pathlib

import numpy as np
import pytest

from ts2g2_spark import datagen
from ts2g2_spark.catalog import read_pointer
from ts2g2_spark.plans import chunks as chunks_mod
from ts2g2_spark.plans import rollup as rollup_mod
from ts2g2_spark.plans.points import explode_points
from ts2g2_spark.plans.pipeline import RollupPipeline

N_DOCS = 40


@pytest.fixture(scope="module")
def input_df(spark):
    df = datagen.tokenized_sequences(spark, N_DOCS, seed=42)
    df.cache().count()
    return df


@pytest.fixture(scope="module")
def gappy_df(spark):
    df = datagen.tokenized_sequences(spark, 10, seed=42, gap_p=0.05)
    df.cache().count()
    return df


def test_datagen_deterministic(spark):
    a = datagen.tokenized_sequences(spark, 5, seed=42).collect()
    b = datagen.tokenized_sequences(
        spark, 5, seed=42, num_partitions=3).collect()
    am = {r.doc_id: (r.tokens, r.source) for r in a}
    bm = {r.doc_id: (r.tokens, r.source) for r in b}
    assert am == bm
    assert all(8 <= len(t) <= 4096 for t, _ in am.values())


def test_kernel_rollup_matches_relational(spark, input_df):
    """Map-only array rollup == groupBy rollup over exploded points."""
    k = rollup_mod.rollup_from_tokens(input_df, tier="1m").toPandas()
    pts = explode_points(input_df)
    r = rollup_mod.rollup_points(pts, "1m", order_col="idx").toPandas()
    for df in (k, r):
        df.sort_values(["doc_id", "bucket_ts"], inplace=True,
                       ignore_index=True)
    assert len(k) == len(r)
    assert (k["doc_id"] == r["doc_id"]).all()
    assert (k["bucket_ts"] == r["bucket_ts"]).all()
    for c in ("cnt", "min", "max", "first", "last"):
        assert np.array_equal(k[c].to_numpy(), r[c].to_numpy()), c
    # sums: token values are integers <= 50257 summed over <=60 points, all
    # exactly representable -> exact equality required
    assert np.array_equal(k["sum"].to_numpy(), r["sum"].to_numpy())


def test_tier_from_tier_exact(spark, input_df):
    """Continuous-aggregate contract: 1h from 1m == 1h from raw points."""
    m1 = rollup_mod.rollup_from_tokens(input_df, tier="1m")
    h_from_m = rollup_mod.rollup_tier_up(m1, "1h").toPandas()
    h_direct = rollup_mod.rollup_from_tokens(input_df, tier="1h").toPandas()
    for df in (h_from_m, h_direct):
        df.sort_values(["doc_id", "bucket_ts"], inplace=True,
                       ignore_index=True)
    assert len(h_from_m) == len(h_direct)
    for c in ("doc_id", "bucket_ts", "cnt", "min", "max", "first", "last",
              "sum"):
        assert np.array_equal(
            h_from_m[c].to_numpy(), h_direct[c].to_numpy()), c
    d_from_h = rollup_mod.rollup_tier_up(
        rollup_mod.rollup_tier_up(m1, "1h"), "1d").toPandas()
    d_direct = rollup_mod.rollup_from_tokens(input_df, tier="1d").toPandas()
    for df in (d_from_h, d_direct):
        df.sort_values(["doc_id", "bucket_ts"], inplace=True,
                       ignore_index=True)
    assert np.array_equal(d_from_h["sum"].to_numpy(),
                          d_direct["sum"].to_numpy())


def test_rollup_vs_duckdb_oracle(spark, input_df):
    import duckdb

    pts = explode_points(input_df).toPandas()
    got = rollup_mod.rollup_from_tokens(input_df, tier="1m").toPandas()
    got = got.sort_values(["doc_id", "bucket_ts"], ignore_index=True)
    ora = duckdb.sql(
        """
        select doc_id, time_bucket(interval '1 minute', ts) bucket_ts,
               count(*) cnt, sum(value) "sum", min(value) "min",
               max(value) "max",
               arg_min(value, idx) "first", arg_max(value, idx) "last"
        from pts group by 1,2 order by 1,2
        """
    ).df()
    assert len(got) == len(ora)
    for c in ("cnt", "min", "max", "first", "last", "sum"):
        assert np.allclose(got[c].to_numpy(), ora[c].to_numpy(),
                           rtol=0, atol=0), c


def _assert_same_rollup(k, r):
    """Row-for-row equality of two rollup frames (pandas), NaN == NaN."""
    for df in (k, r):
        df.sort_values(["doc_id", "bucket_ts"], inplace=True,
                       ignore_index=True)
    assert len(k) == len(r)
    for c in ("doc_id", "source", "bucket_ts", "cnt", "sum", "min", "max",
              "first", "last", "gapfilled"):
        np.testing.assert_array_equal(
            k[c].to_numpy(), r[c].to_numpy(), err_msg=c)


def test_kernel_gapfill_matches_relational(spark, gappy_df):
    k = rollup_mod.rollup_from_tokens(
        gappy_df, tier="1m", gapfill=True, positions_col="positions"
    ).toPandas()
    sparse = rollup_mod.rollup_from_tokens(
        gappy_df, tier="1m", gapfill=False, positions_col="positions")
    r = rollup_mod.gapfill(sparse, "1m").toPandas()
    _assert_same_rollup(k, r)
    assert k["gapfilled"].sum() > 0  # gaps actually exercised
    # dense invariant: filled + present == full span per doc
    for doc, g in k.groupby("doc_id"):
        span = (g["bucket_ts"].max() - g["bucket_ts"].min()).total_seconds()
        assert len(g) == span / 60 + 1


@pytest.mark.parametrize("use_positions", [False, True])
@pytest.mark.parametrize("step_seconds", [1, 30])
@pytest.mark.parametrize("fill", [False, True])
def test_kernel_doc_segments_in_one_batch(spark, use_positions,
                                          step_seconds, fill):
    """Several docs packed into ONE Arrow batch -- an empty tokens array,
    a one-point doc, a one-bucket doc and gappy multi-bucket docs -- roll
    up exactly like the relational path over exploded points."""
    docs = [  # (doc_id, tokens, positions)
        ("d1", [42], [7]),
        ("d0", [], []),
        ("d3", [3, 9, 1, 4, 4, 7, 2], [0, 1, 59, 60, 61, 200, 400]),
        ("d2", [4, 2], [10, 11]),
        ("d4", [6, 5, 8], [0, 5, 130]),
    ]
    rows = [(d, f"s{i % 2}", t, len(t), p if use_positions
             else list(range(len(t)))) for i, (d, t, p) in enumerate(docs)]
    df = spark.createDataFrame(
        rows, "doc_id string, source string, tokens array<int>, "
              "n_tok int, positions array<int>").coalesce(1)
    pos_col = "positions" if use_positions else None
    k = rollup_mod.rollup_from_tokens(
        df, tier="1m", step_seconds=step_seconds, gapfill=fill,
        positions_col=pos_col).toPandas()
    r = rollup_mod.rollup_points(
        explode_points(df, step_seconds=step_seconds, positions_col=pos_col),
        "1m", order_col="idx")
    if fill:
        r = rollup_mod.gapfill(r, "1m")
    _assert_same_rollup(k, r.toPandas())
    assert "d0" not in set(k["doc_id"])


def test_chunks_roundtrip_token_equality(spark, input_df):
    ch = chunks_mod.compress_chunks(input_df, chunk_points=512)
    dec = chunks_mod.decompress_chunks(ch).toPandas()
    orig = input_df.toPandas()
    om = {r.doc_id: np.asarray(r.tokens, dtype=np.int32)
          for r in orig.itertuples()}
    dm = {r.doc_id: np.asarray(r.tokens, dtype=np.int32)
          for r in dec.itertuples()}
    assert set(om) == set(dm)
    for k in om:
        assert np.array_equal(om[k], dm[k]), k  # pinned per-row invariant
    # compression actually compresses vs raw 8-byte doubles
    sizes = ch.selectExpr(
        "sum(octet_length(val_gorilla)) vb", "sum(n) n").collect()[0]
    assert sizes.vb < sizes.n * 8


@pytest.mark.parametrize("use_positions", [False, True])
@pytest.mark.parametrize("step_seconds", [1, 30])
@pytest.mark.parametrize("chunk_points", [1, 512])
def test_chunk_kernel_segments_in_one_batch(spark, use_positions,
                                            step_seconds, chunk_points):
    """One Arrow batch holding an empty tokens array, a one-point doc and
    a doc longer than chunk_points: every chunk's bytes equal the codecs'
    single-chunk encodes of that window, and decode round-trips."""
    from ts2g2_spark.functions import codecs
    from ts2g2_spark.plans.points import BASE_EPOCH

    rng = np.random.default_rng(5)
    long_toks = rng.integers(0, 50257, 700).tolist()
    long_pos = np.sort(rng.choice(5000, 700, replace=False)).tolist()
    docs = [("d0", [], []), ("d1", [42], [9]), ("d2", long_toks, long_pos)]
    rows = [(d, f"s{i}", t, len(t), p if use_positions
             else list(range(len(t)))) for i, (d, t, p) in enumerate(docs)]
    df = spark.createDataFrame(
        rows, "doc_id string, source string, tokens array<int>, "
              "n_tok int, positions array<int>").coalesce(1)
    ch = chunks_mod.compress_chunks(
        df, step_seconds=step_seconds, chunk_points=chunk_points,
        positions_col="positions" if use_positions else None)
    got = ch.toPandas()
    for doc_id, source, toks, _, pos in rows:
        g = got[got["doc_id"] == doc_id].sort_values("chunk_id")
        ts = BASE_EPOCH + np.asarray(pos, np.int64) * step_seconds
        starts = range(0, max(len(toks), 1), chunk_points)
        assert list(g["chunk_id"]) == list(range(len(starts)))
        for r, c in zip(g.itertuples(), starts):
            t = np.asarray(toks[c:c + chunk_points], np.float64)
            s = ts[c:c + chunk_points]
            assert r.source == source and r.n == len(t)
            assert r.chunk_ts.timestamp() == (s[0] if len(s) else BASE_EPOCH)
            assert bytes(r.ts_dod) == codecs.dod_encode(s)
            assert bytes(r.val_gorilla) == codecs.gorilla_encode(t)
    dec = {r.doc_id: list(r.tokens)
           for r in chunks_mod.decompress_chunks(ch).collect()}
    assert dec == {d: t for d, _, t, _, _ in rows}


def test_pipeline_resume(spark, input_df, tmp_path):
    root = str(tmp_path / "cat")
    p1 = RollupPipeline(spark, root, run_id="r1")
    # simulate a kill after the 1h tier commit
    p1.run(input_df, "test_input", stop_after="rollup_1h")
    assert [s["stage"] for s in p1.stage_log] == ["rollup_1m", "rollup_1h"]
    before = p1.cat.read("rollup_1h").toPandas().sort_values(
        ["doc_id", "bucket_ts"], ignore_index=True)

    p2 = RollupPipeline(spark, root, run_id="r2")
    out = p2.run(input_df, "test_input")
    skipped = {s["stage"] for s in p2.stage_log if s.get("skipped")}
    assert skipped == {"rollup_1m", "rollup_1h"}  # resumed, not recomputed
    after = out["rollup_1h"].toPandas().sort_values(
        ["doc_id", "bucket_ts"], ignore_index=True)
    assert before.equals(after)  # no duplicates, identical table
    # lineage rows exist for every executed stage
    lin = out["lineage"].toPandas()
    assert {"rollup_1m", "rollup_1h", "rollup_1d", "chunks"} <= set(
        lin["stage"])
    assert (lin["rows"] > 0).any()
    # input change -> full recompute
    p3 = RollupPipeline(spark, root, run_id="r3")
    p3.run(input_df, "different_input_desc")
    assert not any(s.get("skipped") for s in p3.stage_log)


def test_retention(spark, input_df, tmp_path):
    root = str(tmp_path / "cat2")
    p = RollupPipeline(spark, root, run_id="r1")
    out = p.run(input_df, "x")
    n_before = out["rollup_1m"].count()
    # cutoff at base+120s: typical docs (~256 tokens at 1s cadence) keep
    # only their buckets from 120s on
    now = 1704067200 + 100_000
    kept = p.retention(now, horizons={"1m": 99_880, "1h": 10**9,
                                      "1d": 10**9})
    n_after = kept["rollup_1m"].count()
    assert 0 < n_after < n_before
    mins = kept["rollup_1m"].agg({"bucket_ts": "min"}).collect()[0][0]
    assert mins.timestamp() >= now - 99_880


def _part_files(path):
    return {os.path.relpath(os.path.join(d, f), path):
            os.stat(os.path.join(d, f)).st_mtime_ns
            for d, _, fs in os.walk(path) for f in fs
            if f.startswith("part-")}


def test_lineage_rows_from_written_files(spark, input_df, tmp_path):
    p = RollupPipeline(spark, str(tmp_path / "cat"), run_id="r1")
    out = p.run(input_df, "x")
    lin = out["lineage"].toPandas()
    for st in p.stage_log:
        table = st["stage"]
        rows = lin[lin["stage"] == table]
        assert rows["rows"].sum() == out[table].count() == st["rows"]
        pids = {int(f.split("-")[1])
                for f in _part_files(p.cat.table_path(table))}
        assert set(rows["partition_id"]) == pids
        assert st["partition_skew"] >= 1.0


def test_lineage_not_duplicated_on_stage_retry(spark, input_df, tmp_path,
                                               monkeypatch):
    """A crash after the lineage write but before the commit, retried
    under the same run_id, leaves one lineage row set for that stage."""
    root = str(tmp_path / "cat")
    p1 = RollupPipeline(spark, root, run_id="r1")
    commit = p1.cat.commit

    def crash_on_1h(stage, *a, **k):
        if stage == "rollup_1h":
            raise RuntimeError("injected crash")
        return commit(stage, *a, **k)

    monkeypatch.setattr(p1.cat, "commit", crash_on_1h)
    with pytest.raises(RuntimeError, match="injected"):
        p1.run(input_df, "x")
    p2 = RollupPipeline(spark, root, run_id="r1")
    out = p2.run(input_df, "x")
    assert [s["skipped"] for s in p2.stage_log] == [True, False, False,
                                                    False]
    lin = out["lineage"].toPandas()
    for stage in ("rollup_1m", "rollup_1h"):
        rows = lin[lin["stage"] == stage]
        assert rows["partition_id"].is_unique
        assert rows["rows"].sum() == out[stage].count()


def test_retention_leaves_unexpired_tiers_untouched(spark, input_df,
                                                    tmp_path):
    p = RollupPipeline(spark, str(tmp_path / "cat"), run_id="r1")
    p.run(input_df, "x")
    now = 1704067200 + 100_000
    horizons = {"1m": 99_880, "1h": 10**9, "1d": 10**9}
    before = {t: _part_files(p.cat.table_path(f"rollup_{t}"))
              for t in horizons}
    n_1h = p.cat.read("rollup_1h").count()
    kept = p.retention(now, horizons=horizons)
    after = {t: _part_files(p.cat.table_path(f"rollup_{t}"))
             for t in horizons}
    assert after["1h"] == before["1h"] and after["1d"] == before["1d"]
    assert after["1m"] != before["1m"]  # the 1m tier expired rows
    assert kept["rollup_1h"].count() == n_1h


RETAIN_NOW = 1704067200 + 100_000
RETAIN = {"1m": 99_880, "1h": 10**9, "1d": 10**9}  # only 1m expires rows


def _rows(df):
    return sorted(df.collect())


def _expected_retention(tables, now, horizons):
    return {t: [r for r in rows
                if r.bucket_ts.timestamp() >= now - horizons[t.split("_")[1]]]
            for t, rows in tables.items()}


def test_rollup_job_spark_job_floor(spark, input_df, tmp_path, count_jobs):
    """run + retention start only the jobs that move data: two per stage
    (the shuffle map stage and the write) and the 1m rewrite.  Reading a
    committed table starts none (the schema comes from a footer)."""
    p = RollupPipeline(spark, str(tmp_path / "cat"), run_id="r1")
    _, jobs = count_jobs(lambda: (p.run(input_df, "x"),
                                  p.retention(RETAIN_NOW, RETAIN)))
    assert jobs <= 9
    for name in ("rollup_1m", "rollup_1h", "rollup_1d", "chunks"):
        df, jobs = count_jobs(lambda: p.cat.read(name))
        assert jobs == 0
        assert df.schema == spark.read.parquet(
            p.cat.table_path(name)).schema


def test_retention_without_footer_statistics(spark, input_df, tmp_path):
    """Tier files written with INT96 timestamps carry no bucket_ts
    statistics: retention rewrites every tier and still keeps exactly the
    rows inside each horizon, and a re-run still skips every stage."""
    key = "spark.sql.parquet.outputTimestampType"
    old = spark.conf.get(key)
    spark.conf.set(key, "INT96")
    try:
        p = RollupPipeline(spark, str(tmp_path / "cat"), run_id="r1")
        p.run(input_df, "x")
    finally:
        spark.conf.set(key, old)
    tiers = ("rollup_1m", "rollup_1h", "rollup_1d")
    before = {t: _rows(p.cat.read(t)) for t in tiers}
    files = {t: _part_files(p.cat.table_path(t)) for t in tiers}
    assert not any(p.cat.all_at_or_after(t, "bucket_ts", 0) for t in tiers)
    kept = p.retention(RETAIN_NOW, RETAIN)
    want = _expected_retention(before, RETAIN_NOW, RETAIN)
    for t in tiers:
        assert _part_files(p.cat.table_path(t)) != files[t]  # rewritten
        assert _rows(kept[t]) == _rows(p.cat.read(t)) == want[t]
    assert 0 < len(want["rollup_1m"]) < len(before["rollup_1m"])
    assert want["rollup_1h"] == before["rollup_1h"]
    # the rewrites keep each stage's commit record: a re-run resumes
    p2 = RollupPipeline(spark, p.cat.root, run_id="r2")
    out = p2.run(input_df, "x")
    assert all(s["skipped"] for s in p2.stage_log)
    assert all(_rows(out[t]) == want[t] for t in tiers)


def _versions(table_dir):
    return sorted(d for d in os.listdir(table_dir) if d.startswith("v"))


def _live(table_dir):
    import json

    with open(os.path.join(table_dir, "_LATEST")) as f:
        return json.load(f)["version"]


@pytest.mark.parametrize("crash_at", [1, 2])
def test_catalog_write_crash_keeps_previous_table(spark, input_df, tmp_path,
                                                  monkeypatch, crash_at):
    """A crash during the Spark write of the next version (1) or at the
    `os.replace` that publishes it onto `_LATEST` (2) leaves the previous
    version live and unchanged; the re-run publishes the right table and
    leaves no unpublished version behind."""
    from pyspark.sql.readwriter import DataFrameWriter

    root = str(tmp_path / "cat")
    table = os.path.join(root, "rollup_1m")
    p = RollupPipeline(spark, root, run_id="r1")
    p.run(input_df, "x")
    before = _rows(p.cat.read("rollup_1m"))
    v_before = _live(table)
    parquet, replace = DataFrameWriter.parquet, os.replace

    def crashing_parquet(self, path, *a, **k):
        # the files land, the writer dies before anything publishes them
        parquet(self, path, *a, **k)
        if path.startswith(table):
            raise RuntimeError("injected crash")

    def crashing_replace(src, dst):
        if dst == os.path.join(table, "_LATEST"):
            raise RuntimeError("injected crash")
        return replace(src, dst)

    if crash_at == 1:
        monkeypatch.setattr(DataFrameWriter, "parquet", crashing_parquet)
    else:
        monkeypatch.setattr(os, "replace", crashing_replace)
    with pytest.raises(RuntimeError, match="injected"):
        p.retention(RETAIN_NOW, RETAIN)
    monkeypatch.undo()
    assert _versions(table) == sorted([v_before, "v1"])  # v1 unpublished
    p2 = RollupPipeline(spark, root, run_id="r2")
    assert _live(table) == v_before
    assert _rows(p2.cat.read("rollup_1m")) == before
    out = p2.run(input_df, "x")  # resumes: every stage committed
    assert all(s["skipped"] for s in p2.stage_log)
    assert _rows(out["rollup_1m"]) == before
    kept = p2.retention(RETAIN_NOW, RETAIN)
    want = _expected_retention({"rollup_1m": before}, RETAIN_NOW, RETAIN)
    assert _rows(kept["rollup_1m"]) == want["rollup_1m"]
    assert 0 < len(want["rollup_1m"]) < len(before)
    # left on disk: the published v1 and the version it replaced
    assert _live(table) == "v1"
    assert _versions(table) == sorted([v_before, "v1"])
    assert [f for f in os.listdir(table) if not f.startswith("v")] \
        == ["_LATEST"]


def test_reader_keeps_previous_version_across_rewrite(spark, input_df,
                                                      tmp_path):
    """A frame planned over a tier before retention rewrites it still
    collects the original rows after the new version is published."""
    p = RollupPipeline(spark, str(tmp_path / "cat"), run_id="r1")
    p.run(input_df, "x")
    old = p.cat.read("rollup_1m")
    want = _rows(p.cat.read("rollup_1m"))
    kept = p.retention(RETAIN_NOW, RETAIN)
    assert len(_rows(kept["rollup_1m"])) < len(want)  # a new version
    assert _rows(old) == want


def test_catalog_keeps_live_and_previous_version(spark, tmp_path):
    """After repeated publishes only the live version and the one it
    replaced stay on disk, and a read returns the live one."""
    from ts2g2_spark.catalog import Catalog

    cat = Catalog(str(tmp_path), spark)
    table = os.path.join(str(tmp_path), "t")
    for k in range(4):
        path = cat.write(spark.range(k + 1), "t")
        cat.commit("t", path)
        assert path == os.path.join(table, f"v{k}") == cat.table_path("t")
        assert _versions(table) == [f"v{j}" for j in range(max(0, k - 1),
                                                          k + 1)]
    assert _live(table) == "v3"
    assert sorted(r.id for r in cat.read("t").collect()) == [0, 1, 2, 3]


STAGES = ("rollup_1m", "rollup_1h", "rollup_1d", "chunks")


def _table_bytes(path):
    """The sorted contents of a table version's data files."""
    return sorted(pathlib.Path(d, f).read_bytes()
                  for d, _, fs in os.walk(path) for f in fs
                  if f.startswith("part-"))


@pytest.mark.parametrize("crash_after", ["write", "commit"])
def test_stage_crash_resumes_to_identical_tables(spark, input_df, tmp_path,
                                                 monkeypatch, crash_after):
    """A crash after the 1h stage's version write (before its lineage and
    its commit) or right after its commit publishes: the re-run under the
    same run_id recomputes the stage in the first case and skips it in
    the second, and ends with tables byte-identical to an uncrashed run's
    and one lineage file per (run, stage)."""
    clean = RollupPipeline(spark, str(tmp_path / "clean"), run_id="r1")
    clean.run(input_df, "x")
    root = str(tmp_path / "cat")
    p1 = RollupPipeline(spark, root, run_id="r1")
    orig = getattr(p1.cat, crash_after)

    def crash_on_1h(*a, **k):
        out = orig(*a, **k)
        if "rollup_1h" in a:  # write(df, name) and commit(name, path)
            raise RuntimeError("injected crash")
        return out

    monkeypatch.setattr(p1.cat, crash_after, crash_on_1h)
    with pytest.raises(RuntimeError, match="injected"):
        p1.run(input_df, "x")
    ptr = read_pointer(os.path.join(root, "rollup_1h"))
    assert (ptr is not None) == (crash_after == "commit")
    p2 = RollupPipeline(spark, root, run_id="r1")
    p2.run(input_df, "x")
    assert [s["skipped"] for s in p2.stage_log] == [
        True, crash_after == "commit", False, False]
    for stage in STAGES:
        assert _table_bytes(p2.cat.table_path(stage)) == _table_bytes(
            clean.cat.table_path(stage)), stage
    lineage = sorted(os.listdir(p2.cat.table_path("lineage")))
    assert lineage == sorted(os.listdir(clean.cat.table_path("lineage")))
    assert len(lineage) == len(STAGES)


def test_gapfill_linear_interpolates_endpoints(spark):
    """fill='linear': interior buckets sit exactly on the line between
    the gap's endpoints; non-gap rows pass through untouched."""
    import datetime as dt
    import pandas as pd

    TS = dt.datetime
    tier = spark.createDataFrame(
        [("a", TS(2024, 1, 1, 0, 0), 2, 10.0, 1.0, 9.0, 1.0, 9.0, False),
         ("a", TS(2024, 1, 1, 0, 4), 1, 50.0, 50.0, 50.0, 50.0, 50.0,
          False),
         ("a", TS(2024, 1, 1, 0, 5), 1, 60.0, 60.0, 60.0, 60.0, 60.0,
          False),
         ("b", TS(2024, 1, 1, 0, 0), 1, 1.0, 1.0, 1.0, 1.0, 1.0, False)],
        "doc_id string, bucket_ts timestamp, cnt long, sum double, "
        "min double, max double, first double, last double, "
        "gapfilled boolean")
    out = rollup_mod.gapfill(
        tier, "1m", series_cols=["doc_id"], fill="linear"
    ).toPandas().sort_values(["doc_id", "bucket_ts"], ignore_index=True)
    a = out[out.doc_id == "a"].reset_index(drop=True)
    assert list(a.gapfilled) == [False, True, True, True, False, False]
    # sum: 10 -> 50 over 4 steps: 20, 30, 40 at minutes 1..3
    assert list(a["sum"]) == [10.0, 20.0, 30.0, 40.0, 50.0, 60.0]
    # min: 1 -> 50: 1 + 49*k/4
    assert list(a["min"])[1:4] == pytest.approx([13.25, 25.5, 37.75])
    assert (a.cnt == [2, 0, 0, 0, 1, 1]).all()
    # series with no gaps untouched
    assert len(out[out.doc_id == "b"]) == 1
    assert not pd.isna(out[out.doc_id == "b"]["sum"]).any()


def test_gapfill_locf_carries_previous_bucket(spark):
    """fill='locf': every interior gap bucket repeats the most recent
    REAL bucket's values exactly (TimescaleDB locf semantics); a later
    real bucket resets the carried value."""
    import datetime as dt

    TS = dt.datetime
    tier = spark.createDataFrame(
        [("a", TS(2024, 1, 1, 0, 0), 2, 10.0, 1.0, 9.0, 1.0, 9.0, False),
         ("a", TS(2024, 1, 1, 0, 3), 1, 50.0, 50.0, 50.0, 50.0, 50.0,
          False),
         ("a", TS(2024, 1, 1, 0, 5), 1, 60.0, 60.0, 60.0, 60.0, 60.0,
          False)],
        "doc_id string, bucket_ts timestamp, cnt long, sum double, "
        "min double, max double, first double, last double, "
        "gapfilled boolean")
    out = rollup_mod.gapfill(
        tier, "1m", series_cols=["doc_id"], fill="locf"
    ).toPandas().sort_values("bucket_ts", ignore_index=True)
    assert list(out.gapfilled) == [False, True, True, False, True, False]
    assert list(out["sum"]) == [10.0, 10.0, 10.0, 50.0, 50.0, 60.0]
    assert list(out["min"]) == [1.0, 1.0, 1.0, 50.0, 50.0, 60.0]
    assert list(out.cnt) == [2, 0, 0, 1, 0, 1]


def test_gapfill_linear_matches_locf_on_real_rows(spark, gappy_df):
    """linear and locf agree on every NON-gap row and emit the same
    bucket spine; only interpolated interior values differ."""
    sparse = rollup_mod.rollup_from_tokens(
        gappy_df, tier="1m", gapfill=False, positions_col="positions")
    lin = rollup_mod.gapfill(sparse, "1m", fill="linear").toPandas()
    loc = rollup_mod.gapfill(sparse, "1m", fill="locf").toPandas()
    key = ["doc_id", "bucket_ts"]
    lin = lin.sort_values(key, ignore_index=True)
    loc = loc.sort_values(key, ignore_index=True)
    assert lin[key + ["cnt", "gapfilled"]].equals(
        loc[key + ["cnt", "gapfilled"]])
    real = ~lin.gapfilled
    assert real.any() and lin.gapfilled.any()
    for c in ("sum", "min", "max", "first", "last"):
        assert (lin.loc[real, c] == loc.loc[real, c]).all()
    # interpolated values are bounded by their gap endpoints (monotone
    # line between two reals) -> never outside the series' global range
    g = lin.gapfilled
    assert lin.loc[g, "sum"].between(
        lin["sum"].min(), lin["sum"].max()).all()


@pytest.mark.parametrize("fill", ["null", "linear", "locf"])
def test_gapfill_computes_its_tier_once(spark, gappy_df, tmp_path, fill):
    """A tier that is not materialized is read and aggregated once: the
    gap rows come out of the same windowed pass as the tier rows, with no
    union of the tier with gaps derived from a second copy of it."""
    path = str(tmp_path / "tokens")
    gappy_df.write.parquet(path)
    tier = rollup_mod.rollup_from_tokens(
        spark.read.parquet(path), tier="1m", gapfill=False,
        positions_col="positions")
    plan = rollup_mod.gapfill(tier, "1m", fill=fill) \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1 and "Union" not in plan


# ----------------------------------------------- tier-stitched serving
def test_decompose_range_covers_exactly():
    rng = np.random.default_rng(7)
    tiers = [86_400_000_000, 3_600_000_000, 60_000_000]
    for _ in range(200):
        t0 = int(rng.integers(0, 10**12))
        t1 = t0 + int(rng.integers(1, 40 * 86_400_000_000))
        segs = rollup_mod.decompose_range(t0, t1, tiers)
        allsegs = sorted(
            s for k in segs for s in segs[k])
        # disjoint, contiguous, exact cover
        assert allsegs[0][0] == t0 and allsegs[-1][1] == t1
        for (a, b), (c, d) in zip(allsegs, allsegs[1:]):
            assert b == c and a < b
        # alignment per tier, and coarser tiers actually used when they fit
        for t in tiers:
            for a, b in segs[t]:
                assert a % t == 0 and b % t == 0 and a < b
        for a, b in segs["raw"]:
            assert b - a < 60_000_000

    with pytest.raises(ValueError):
        rollup_mod.decompose_range(5, 5, tiers)


def test_serve_range_matches_direct(spark):
    import datetime as dt

    import duckdb

    path = "/root/testdata/sf0.001/events.parquet"
    ev = spark.read.parquet(path)
    rng = np.random.default_rng(11)
    base = dt.datetime(2024, 1, 1)
    for _ in range(4):
        s0 = int(rng.integers(0, 20 * 86400))
        s1 = s0 + int(rng.integers(90, 9 * 86400))
        t0, t1 = (base + dt.timedelta(seconds=s0),
                  base + dt.timedelta(seconds=s1))
        got = rollup_mod.serve_range(
            ev, t0, t1, series_cols=["user_id"], order_col="event_id")
        rows = {r.user_id: r for r in got.collect()}
        exp = duckdb.sql(f"""
            select user_id, count(*) cnt, round(sum(value), 6) sum_val,
                   min(value) min_val, max(value) max_val,
                   arg_min(value, (epoch_us(ts) - 1704067200000000)
                                  * 100000 + event_id) first_val,
                   arg_max(value, (epoch_us(ts) - 1704067200000000)
                                  * 100000 + event_id) last_val,
                   round(sum(value) / count(*), 6) avg_val
            from read_parquet('{path}')
            where ts >= '{t0}' and ts < '{t1}' group by 1
        """).fetchall()
        assert len(exp) > 0 and len(rows) == len(exp)
        for (u, cnt, sv, mn, mx, fv, lv, av) in exp:
            r = rows[u]
            assert (r.cnt, r.min_val, r.max_val) == (cnt, mn, mx), u
            assert (r.first_val, r.last_val) == (fv, lv), u
            assert r.sum_val == pytest.approx(sv, abs=2e-6), u
            assert r.avg_val == pytest.approx(av, abs=2e-6), u


def test_serve_range_subminute_and_aligned(spark):
    import datetime as dt

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    base = dt.datetime(2024, 1, 2)
    # sub-minute: raw-only path
    sub = rollup_mod.serve_range(
        ev, base, base + dt.timedelta(seconds=30),
        series_cols=["user_id"], order_col="event_id")
    direct = ev.where(
        (ev.ts >= base.isoformat()) &
        (ev.ts < (base + dt.timedelta(seconds=30)).isoformat()))
    assert sub.selectExpr("sum(cnt)").first()[0] == direct.count() \
        or direct.count() == 0
    # day-aligned: no raw segments, pure 1d tier
    segs = rollup_mod.decompose_range(
        int(base.replace(tzinfo=dt.timezone.utc).timestamp() * 1e6),
        int((base + dt.timedelta(days=3)).replace(
            tzinfo=dt.timezone.utc).timestamp() * 1e6),
        [86_400_000_000, 3_600_000_000, 60_000_000])
    assert segs["raw"] == [] and segs[3_600_000_000] == [] \
        and segs[60_000_000] == []
    day = rollup_mod.serve_range(
        ev, base, base + dt.timedelta(days=3),
        series_cols=["user_id"], order_col="event_id")
    d2 = ev.where((ev.ts >= base.isoformat()) &
                  (ev.ts < (base + dt.timedelta(days=3)).isoformat()))
    assert day.selectExpr("sum(cnt)").first()[0] == d2.count()


# ----------------------------------------------- HLL distinct tiers
def test_distinct_rollup_exact_regime_and_tier_up(spark):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    m1 = rollup_mod.distinct_rollup(ev, "1m", "user_id",
                                    series_cols=["event_type"])
    h1 = rollup_mod.distinct_tier_up(m1, "1h", series_cols=["event_type"])
    d1 = rollup_mod.distinct_tier_up(h1, "1d", series_cols=["event_type"])
    import pyspark.sql.functions as F
    for df, unit in ((h1, "hour"), (d1, "day")):
        got = {(r.event_type, r.bucket_ts): r.n_distinct
               for r in df.collect()}
        exp = {(r.event_type, r.bucket_ts): r.n
               for r in ev.groupBy(
                   "event_type",
                   F.date_trunc(unit, "ts").alias("bucket_ts"))
               .agg(F.countDistinct("user_id").alias("n")).collect()}
        assert got == exp  # sparse exact regime at this cardinality


def test_distinct_sketch_error_bound_beyond_exact_regime(spark):
    import pyspark.sql.functions as F
    n = 200_000
    df = spark.range(n).select(
        F.lit("2024-01-01 00:00:30").cast("timestamp").alias("ts"),
        F.col("id").alias("k"))
    est = rollup_mod.distinct_rollup(df, "1h", "k").first().n_distinct
    assert abs(est - n) / n < 0.05  # lgk=12 -> ~1.6% RSE
    # union of disjoint shards == direct sketch estimate
    sharded = spark.range(n).select(
        F.lit("2024-01-01 00:00:30").cast("timestamp").alias("ts"),
        (F.col("id") % 7).alias("shard"), F.col("id").alias("k"))
    m = rollup_mod.distinct_rollup(sharded, "1m", "k",
                                   series_cols=["shard"])
    u = rollup_mod.distinct_tier_up(m, "1h").first().n_distinct
    assert u == est


def test_serve_range_supplied_tiers_with_gapfill_and_partial_catalog(spark):
    import datetime as dt

    import duckdb

    path = "/root/testdata/sf0.001/events.parquet"
    ev = spark.read.parquet(path)
    # production path: MATERIALIZED tier frames, the 1m tier gap-filled
    # (serve_range must ignore gapfilled marker rows)
    m1 = rollup_mod.rollup_points(ev, "1m", series_cols=["user_id"],
                                  order_col="event_id")
    m1g = rollup_mod.gapfill(m1, "1m", series_cols=["user_id"])
    h1 = rollup_mod.rollup_tier_up(m1, "1h", series_cols=["user_id"])
    d1 = rollup_mod.rollup_tier_up(h1, "1d", series_cols=["user_id"])
    assert m1g.where("gapfilled").count() > 0  # gap rows exercised
    t0 = dt.datetime(2024, 1, 3, 5, 37, 21)
    t1 = dt.datetime(2024, 1, 10, 17, 11, 3)

    def direct():
        return duckdb.sql(f"""
            select user_id, count(*) cnt, round(sum(value), 6) sum_val
            from read_parquet('{path}')
            where ts >= '{t0}' and ts < '{t1}' group by 1
        """).fetchall()

    for catalog in ({"1m": m1g, "1h": h1, "1d": d1},
                    {"1m": m1g, "1h": h1}):  # partial: 1d dropped
        got = {r.user_id: r for r in rollup_mod.serve_range(
            ev, t0, t1, tiers=catalog, series_cols=["user_id"],
            order_col="event_id").collect()}
        for (u, cnt, sv) in direct():
            assert got[u].cnt == cnt, (u, catalog.keys())
            assert got[u].sum_val == pytest.approx(sv, abs=2e-6)

    with pytest.raises(ValueError, match="unknown tier"):
        rollup_mod.serve_range(ev, t0, t1, tiers={"5s": m1},
                               series_cols=["user_id"])


# ---------------------------------------------------- late-data refresh

def test_refresh_tier_equals_full_recompute(spark, input_df):
    """refresh(state(base), late) == rollup(base ∪ late) exactly.

    Token values are integers, so even the merged sums are exact doubles —
    full bit-equality is required on every column.  The late split is
    idx%17==3 (scattered late points) PLUS one whole doc (every one of its
    buckets is brand-new at refresh time, exercising the delta-only-bucket
    union path)."""
    from pyspark.sql import functions as F

    pts = explode_points(input_df)
    some_doc = pts.select("doc_id").orderBy("doc_id").first().doc_id
    is_late = (F.pmod(F.col("idx"), F.lit(17)) == 3) | \
        (F.col("doc_id") == some_doc)
    state = rollup_mod.rollup_state(
        pts.where(~is_late), "1m", okey=F.col("idx"))
    refreshed = rollup_mod.refresh_tier(
        state, pts.where(is_late), "1m", okey=F.col("idx"))
    got = rollup_mod.finalize_state(refreshed).toPandas()
    want = rollup_mod.rollup_points(pts, "1m", order_col="idx").toPandas()
    for df in (got, want):
        df.sort_values(["doc_id", "bucket_ts"], inplace=True,
                       ignore_index=True)
    assert len(got) == len(want)
    # the late doc's buckets exist only in the delta — they must be present
    assert (got["doc_id"] == some_doc).any()
    for c in ("doc_id", "source", "bucket_ts", "cnt", "sum", "min", "max",
              "first", "last", "gapfilled"):
        assert np.array_equal(got[c].to_numpy(), want[c].to_numpy()), c


def test_refresh_tier_untouched_rows_pass_through(spark, input_df):
    """Tier rows whose (series, bucket) the late batch does not name come
    back byte-identical — including the stored first/last order keys —
    proving they never went through the merge aggregate."""
    from pyspark.sql import functions as F

    pts = explode_points(input_df)
    is_late = F.pmod(F.col("idx"), F.lit(17)) == 3
    state = rollup_mod.rollup_state(
        pts.where(~is_late), "1m", okey=F.col("idx"))
    delta = rollup_mod.rollup_state(
        pts.where(is_late), "1m", okey=F.col("idx"))
    merged = rollup_mod.merge_tier_states(state, delta)
    dk = delta.select("doc_id", "source", "bucket_ts")
    keys = ["doc_id", "source", "bucket_ts"]
    got = merged.join(dk, keys, "left_anti").toPandas()
    want = state.join(dk, keys, "left_anti").toPandas()
    for df in (got, want):
        df.sort_values(keys, inplace=True, ignore_index=True)
    assert len(got) == len(want) and len(got) > 0
    for c in got.columns:
        assert np.array_equal(got[c].to_numpy(), want[c].to_numpy()), c


def test_refresh_tier_plan_broadcasts_key_split(spark, input_df):
    """The untouched/touched split is a broadcast anti/semi join pair —
    the big tier is never shuffled by the refresh."""
    from pyspark.sql import functions as F

    pts = explode_points(input_df)
    is_late = F.pmod(F.col("idx"), F.lit(17)) == 3
    state = rollup_mod.rollup_state(
        pts.where(~is_late), "1m", okey=F.col("idx"))
    refreshed = rollup_mod.refresh_tier(
        state, pts.where(is_late), "1m", okey=F.col("idx"))
    plan = refreshed._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan
    assert "LeftSemi" in plan
    assert "BroadcastHashJoin" in plan
