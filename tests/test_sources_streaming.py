"""Sources (S1/S4) and the Structured-Streaming 1m-tier seam."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from ts2g2_spark.plans import rollup as R
from ts2g2_spark.sources import io as src
from ts2g2_spark.streaming import ingest


def test_read_csv_series(spark, tmp_path):
    p = tmp_path / "prices.csv"
    p.write_text(
        "Date,Open,Close\n"
        "2024-01-01,1.0,10.5\n"
        "2024-01-02,2.0,11.0\n"
        "2024-01-03,3.0,9.75\n")
    df = src.read_csv_series(spark, str(p), "Close", series_key="px")
    rows = df.orderBy("idx").collect()
    assert [r.value for r in rows] == [10.5, 11.0, 9.75]
    assert rows[0].ts.year == 2024
    assert rows[0].series_key == "px"


def test_series_from_array(spark):
    df = src.series_from_array(spark, [1, 2, 3], "a")
    assert df.collect()[0].values == [1.0, 2.0, 3.0]


# ------------------------------------------------------------- S2 .ts
def test_read_ts_fixture(spark):
    from ts2g2_spark.sources import io

    df = io.read_ts(spark, "tests/fixtures/sample.ts")
    rows = {(r.case_id, r.dim): r for r in df.collect()}
    assert len(rows) == 6  # 3 cases x 2 dims
    assert rows[(0, "dim_0")].values == [1.0, 2.0, 3.5, 2.5]
    assert rows[(1, "dim_1")].values == [7.5, 6.5, 5.5, 4.5]
    assert rows[(0, "dim_0")].label == "up"
    assert rows[(1, "dim_0")].label == "down"


def test_ts_first_series_matches_reference_surface(spark):
    """Reference TsFile.from_ts returns X['dim_0'][0] (tsg_io/input.py:
    47-49) — the first case's dim_0 series."""
    from ts2g2_spark.sources import io

    row = io.ts_first_series(spark, "tests/fixtures/sample.ts").collect()
    assert len(row) == 1
    assert row[0].values == [1.0, 2.0, 3.5, 2.5]


def test_read_ts_no_label(spark, tmp_path):
    from ts2g2_spark.sources import io

    p = tmp_path / "nolabel.ts"
    p.write_text("@problemName x\n@classLabel false\n@data\n"
                 "1.0,2.0:3.0,4.0\n5.0,6.0:7.0,8.0\n")
    rows = {(r.case_id, r.dim): r for r in
            io.read_ts(spark, str(p)).collect()}
    assert rows[(0, "dim_1")].values == [3.0, 4.0]
    assert rows[(1, "dim_0")].label is None


# ------------------------------------------------------------- S3 XML
def test_read_financial_xml(spark):
    """Reference FundamentalsReportFinancialStatements semantics
    (tsg_io/input.py:61-100): lineItem[@coaCode=item] under the chosen
    season's periods, document order, floats."""
    from ts2g2_spark.sources import io

    annual = io.read_financial_xml(
        spark, "tests/fixtures/report.xml", "SREV", series_key="rev")
    rows = annual.orderBy("idx").collect()
    assert [r.value for r in rows] == [100.5, 120.25, 131.0]
    assert rows[0].series_key == "rev"

    interim = io.read_financial_xml(
        spark, "tests/fixtures/report.xml", "SREV", season="Interim")
    assert [r.value for r in interim.orderBy("idx").collect()] == [60.5]

    other = io.read_financial_xml(
        spark, "tests/fixtures/report.xml", "NINC")
    assert [r.value for r in other.orderBy("idx").collect()] == [10.0, 12.5]


# ------------------------------------------------- incremental tier fold
def test_incremental_tier_fold_matches_batch_and_is_idempotent(
        spark, tmp_path):
    """Three out-of-order micro-batches folded through the mergeable
    tier table equal the batch rollup over all points bit-for-bit —
    INCLUDING a batch that lands entirely inside already-finalized
    buckets (arbitrary lateness, which a watermarked aggregate would
    drop) — and so does its tier-up to 1h.  Replaying a batch_id is a no-op (at-least-once
    foreachBatch made exactly-once)."""
    in_dir = str(tmp_path / "in")
    tbl = str(tmp_path / "tier")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)
    os.makedirs(tbl)

    def mk_points(lo, hi, ts_off=0):
        return spark.range(lo, hi).select(
            F.concat(F.lit("d"), (F.col("id") % 3)).alias("doc_id"),
            F.lit("src_00").alias("source"),
            F.timestamp_seconds(
                1704067200 + ts_off + F.col("id") * 7).alias("ts"),
            (F.col("id") % 10).cast("double").alias("value"),
        )

    # batch 1: base window; batch 2: ~1h later; batch 3: LATE data
    # back inside batch 1's minute buckets (ts collisions impossible:
    # ids disjoint, step 7s, offset 3)
    parts = [mk_points(0, 300), mk_points(600, 900),
             mk_points(300, 600, ts_off=3)]
    for p in parts:
        p.write.mode("append").parquet(in_dir)
        ingest.run_tier_maintenance(
            ingest.stream_points(spark, in_dir), tbl, ckpt)

    got = R.finalize_state(
        ingest.read_tier_snapshot(spark, tbl)).toPandas()
    allpts = parts[0].unionByName(parts[1]).unionByName(parts[2])
    want = R.rollup_points(allpts, "1m").toPandas()
    keys = ["doc_id", "source", "bucket_ts"]
    for df in (got, want):
        df.sort_values(keys, inplace=True, ignore_index=True)
    assert len(got) == len(want) and len(got) > 0
    for c in want.columns:
        assert (got[c] == want[c]).all(), c
    # the streamed tier composes with tier-up: its 1h tier equals the
    # 1h tier of the batch 1m tier (first/last included)
    got_1h = R.rollup_tier_up(R.finalize_state(
        ingest.read_tier_snapshot(spark, tbl)), "1h").toPandas()
    want_1h = R.rollup_tier_up(
        R.rollup_points(allpts, "1m"), "1h").toPandas()
    for df in (got_1h, want_1h):
        df.sort_values(keys, inplace=True, ignore_index=True)
    assert len(got_1h) == len(want_1h) > 1
    for c in want_1h.columns:
        assert (got_1h[c] == want_1h[c]).all(), c

    # idempotent replay: re-applying the LAST batch_id changes nothing
    import json

    import pytest as _pytest

    with open(f"{tbl}/_LATEST") as f:
        before = json.load(f)
    fold = ingest.incremental_tier_fold(spark, tbl)
    fold(parts[2], before["batch_id"])  # same id → skipped
    with open(f"{tbl}/_LATEST") as f:
        assert json.load(f) == before
    # a batch_id going BACKWARDS means the checkpoint lineage restarted
    # and the source will redeliver everything — folding would
    # double-count, so the fold refuses loudly
    with _pytest.raises(RuntimeError, match="lineage restarted"):
        fold(parts[0], before["batch_id"] - 1)
    with open(f"{tbl}/_LATEST") as f:
        assert json.load(f) == before


def test_incremental_fold_writes_only_touched_partitions(spark, tmp_path):
    """A late batch naming a single series rewrites ONLY that series'
    hash partition; every other partition is carried into the new
    version as HARDLINKS of the previous version's files (same inode,
    no data copy) — the file-level behavior of an Iceberg MERGE.  The
    final table still equals the batch rollup."""
    in_dir = str(tmp_path / "in")
    tbl = str(tmp_path / "tier")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)
    os.makedirs(tbl)

    def mk(lo, hi, only_doc=None):
        df = spark.range(lo, hi).select(
            F.concat(F.lit("d"), (F.col("id") % 3)).alias("doc_id"),
            F.lit("s0").alias("source"),
            F.timestamp_seconds(1704067200 + F.col("id") * 7).alias("ts"),
            (F.col("id") % 10).cast("double").alias("value"),
        )
        return df.where(F.col("doc_id") == only_doc) if only_doc else df

    # the three series must land in distinct hash partitions for the
    # assertion to bite (deterministic hash — pinned here)
    pbs = {r.doc_id: r.pb for r in spark.createDataFrame(
        [("d0",), ("d1",), ("d2",)], "doc_id string").select(
        "doc_id", F.pmod(F.xxhash64(
            F.col("doc_id").cast("string"), F.lit("s0")), F.lit(16))
        .alias("pb")).collect()}
    assert len(set(pbs.values())) == 3

    mk(0, 300).write.mode("append").parquet(in_dir)
    ingest.run_tier_maintenance(
        ingest.stream_points(spark, in_dir), tbl, ckpt)
    # late batch: ONLY doc d0's points
    mk(300, 600, only_doc="d0").write.mode("append").parquet(in_dir)
    ingest.run_tier_maintenance(
        ingest.stream_points(spark, in_dir), tbl, ckpt)

    import json

    with open(f"{tbl}/_LATEST") as f:
        v1 = json.load(f)["version"]
    v0 = sorted(d for d in os.listdir(tbl) if d.startswith("v"))[0]
    assert v0 != v1

    def inodes(version, pb):
        d = os.path.join(tbl, version, f"_pb={pb}")
        return {os.stat(os.path.join(d, f)).st_ino
                for f in os.listdir(d)
                if os.path.isfile(os.path.join(d, f))}

    # untouched series' partitions: identical inodes (hardlinked)
    for doc in ("d1", "d2"):
        assert inodes(v0, pbs[doc]) == inodes(v1, pbs[doc]), doc
    # the touched partition was rewritten: disjoint inodes
    assert not (inodes(v0, pbs["d0"]) & inodes(v1, pbs["d0"]))

    got = R.finalize_state(
        ingest.read_tier_snapshot(spark, tbl)).toPandas()
    want = R.rollup_points(
        mk(0, 300).unionByName(mk(300, 600, only_doc="d0")),
        "1m").toPandas()
    keys = ["doc_id", "source", "bucket_ts"]
    for df in (got, want):
        df.sort_values(keys, inplace=True, ignore_index=True)
    assert len(got) == len(want) and len(got) > 0
    for c in want.columns:
        assert (got[c] == want[c]).all(), c


def test_tier_snapshot_reads_start_no_job(spark, tmp_path, count_jobs):
    """The snapshot read takes its schema from a footer: it equals the
    schema-inference read (with `_pb` an int partition column) on schema
    and rows, and building it starts no Spark job.  The second fold reads
    the first version the same way."""
    import json

    tbl = str(tmp_path / "tier")
    os.makedirs(tbl)
    fold = ingest.incremental_tier_fold(spark, tbl)
    for batch_id, (lo, hi) in enumerate([(0, 300), (200, 400)]):
        fold(spark.range(lo, hi).select(
            F.concat(F.lit("d"), (F.col("id") % 5)).alias("doc_id"),
            F.lit("s0").alias("source"),
            F.timestamp_seconds(1704067200 + F.col("id") * 7).alias("ts"),
            (F.col("id") % 10).cast("double").alias("value")), batch_id)
    snap, jobs = count_jobs(lambda: ingest.read_tier_snapshot(spark, tbl))
    assert jobs == 0
    with open(os.path.join(tbl, "_LATEST")) as f:
        version = json.load(f)["version"]
    inferred = spark.read.parquet(os.path.join(tbl, version))
    assert snap.schema == inferred.schema
    assert snap.schema["_pb"].dataType.simpleString() == "int"
    rows = sorted(map(tuple, snap.collect()))
    assert rows == sorted(map(tuple, inferred.collect())) and rows


def test_incremental_fold_layout_guard(spark, tmp_path):
    """Re-folding with a different n_parts (or an old-format pointer
    missing the layout) re-buckets series and would double-count — the
    fold refuses loudly instead."""
    import json

    import pytest as _pytest

    in_dir = str(tmp_path / "in")
    tbl = str(tmp_path / "tier")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)
    os.makedirs(tbl)
    pts = spark.range(0, 60).select(
        F.concat(F.lit("d"), (F.col("id") % 3)).alias("doc_id"),
        F.lit("s0").alias("source"),
        F.timestamp_seconds(1704067200 + F.col("id") * 7).alias("ts"),
        (F.col("id") % 10).cast("double").alias("value"))
    pts.write.mode("append").parquet(in_dir)
    ingest.run_tier_maintenance(
        ingest.stream_points(spark, in_dir), tbl, ckpt, n_parts=16)
    with open(f"{tbl}/_LATEST") as f:
        before = json.load(f)
    assert before["n_parts"] == 16
    bad = ingest.incremental_tier_fold(spark, tbl, n_parts=8)
    with _pytest.raises(RuntimeError, match="layout mismatch"):
        bad(pts, before["batch_id"] + 1)
    # an empty batch never burns a version or moves the pointer
    ok = ingest.incremental_tier_fold(spark, tbl, n_parts=16)
    ok(pts.where("value > 1e9"), before["batch_id"] + 1)
    with open(f"{tbl}/_LATEST") as f:
        assert json.load(f) == before


def test_incremental_fold_crash_window_redelivery(spark, tmp_path,
                                                  monkeypatch):
    """Crash-window property (VERDICT r4 #6): a failure injected inside
    the fold's commit window — (a) after the version-dir write + the
    hardlink carry but before the atomic `_LATEST` replace, and (b)
    MID-hardlink-carry (partial dir WITH carried links) — leaves the
    table readable at the previous snapshot, and redelivering the same
    batch converges to exactly the no-crash result (values and pointer
    state), exercising the rmtree partial-dir path both with and
    without carried hardlinks."""
    import json
    import shutil

    def mk(lo, hi, only_doc=None):
        df = spark.range(lo, hi).select(
            F.concat(F.lit("d"), (F.col("id") % 3)).alias("doc_id"),
            F.lit("s0").alias("source"),
            F.timestamp_seconds(1704067200 + F.col("id") * 7).alias("ts"),
            (F.col("id") % 10).cast("double").alias("value"),
        )
        return df.where(F.col("doc_id") == only_doc) if only_doc else df

    batches = [(0, mk(0, 300)), (1, mk(300, 600, only_doc="d0")),
               (2, mk(600, 900, only_doc="d1"))]

    # control table: no crashes
    ctl = str(tmp_path / "control")
    os.makedirs(ctl)
    fold_ctl = ingest.incremental_tier_fold(spark, ctl)
    for bid, df in batches:
        fold_ctl(df, bid)
    want = R.finalize_state(
        ingest.read_tier_snapshot(spark, ctl)).toPandas()
    with open(f"{ctl}/_LATEST") as f:
        want_ptr = json.load(f)

    def run_with_crash(name, crash_fn):
        tbl = str(tmp_path / name)
        os.makedirs(tbl)
        fold = ingest.incremental_tier_fold(spark, tbl)
        fold(batches[0][1], 0)
        fold(batches[1][1], 1)
        with open(f"{tbl}/_LATEST") as f:
            before = json.load(f)
        with pytest.raises(RuntimeError, match="injected"):
            crash_fn(fold)
        # crash left the table readable at the PREVIOUS snapshot
        with open(f"{tbl}/_LATEST") as f:
            assert json.load(f) == before
        # redelivery of the same batch converges
        fold(batches[2][1], 2)
        got = R.finalize_state(
            ingest.read_tier_snapshot(spark, tbl)).toPandas()
        keys = ["doc_id", "source", "bucket_ts"]
        for df in (got,):
            df.sort_values(keys, inplace=True, ignore_index=True)
        w = want.sort_values(keys, ignore_index=True)
        assert len(got) == len(w) and len(got) > 0
        for c in w.columns:
            assert (got[c] == w[c]).all(), (name, c)
        with open(f"{tbl}/_LATEST") as f:
            assert json.load(f) == want_ptr
        return tbl

    # (a) crash between full write (incl. hardlink carry) and commit
    real_replace = os.replace

    def crash_commit(fold):
        def boom(src_p, dst_p):
            if os.path.basename(dst_p) == "_LATEST":
                raise RuntimeError("injected commit crash")
            return real_replace(src_p, dst_p)
        monkeypatch.setattr(os, "replace", boom)
        try:
            fold(batches[2][1], 2)
        finally:
            monkeypatch.setattr(os, "replace", real_replace)

    tbl_a = run_with_crash("crash_commit", crash_commit)
    # partial v2 existed at crash time WITH carried hardlinks; after
    # redelivery the version is complete and GC kept the live pair
    assert os.path.isdir(os.path.join(tbl_a, "v2"))

    # (b) crash MID-hardlink-carry: partial version dir with some
    # carried links already present — redelivery must rmtree it first
    real_link = os.link

    def crash_carry(fold):
        calls = {"n": 0}

        def boom(src_p, dst_p):
            calls["n"] += 1
            if calls["n"] > 1:
                raise RuntimeError("injected carry crash")
            return real_link(src_p, dst_p)
        monkeypatch.setattr(os, "link", boom)
        try:
            fold(batches[2][1], 2)
        finally:
            monkeypatch.setattr(os, "link", real_link)
        assert calls["n"] > 1  # the crash actually hit mid-carry

    run_with_crash("crash_carry", crash_carry)

    # (c) pre-existing junk partial version dir (crash mid parquet
    # write, nothing committed): the fold clears and rewrites it
    tbl = str(tmp_path / "crash_junk")
    os.makedirs(tbl)
    fold = ingest.incremental_tier_fold(spark, tbl)
    fold(batches[0][1], 0)
    fold(batches[1][1], 1)
    junk = os.path.join(tbl, "v2", "_pb=0")
    os.makedirs(junk)
    with open(os.path.join(junk, "part-junk.parquet"), "w") as f:
        f.write("not parquet")
    fold(batches[2][1], 2)
    got = R.finalize_state(
        ingest.read_tier_snapshot(spark, tbl)).toPandas()
    keys = ["doc_id", "source", "bucket_ts"]
    got.sort_values(keys, inplace=True, ignore_index=True)
    w = want.sort_values(keys, ignore_index=True)
    for c in w.columns:
        assert (got[c] == w[c]).all(), c
    assert not os.path.exists(os.path.join(tbl, "v2", "_pb=0",
                                           "part-junk.parquet"))
    shutil.rmtree(str(tmp_path / "control"), ignore_errors=True)
