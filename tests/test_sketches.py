"""HyperLogLog sketch: pure-Python bit parity, merge exactness,
accuracy bounds, determinism, and the weighted sampler's A-ES
properties."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from ts2g2_spark.operators import sampling, sketches

SF = "/root/testdata/sf0.001"


def test_hll_matches_python_twin_exactly(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    out = sketches.hll_distinct(
        ev, "user_id", group_cols=("event_type",)).collect()
    vals = ev.select("event_type", "user_id").collect()
    by_type: dict[str, list] = {}
    for r in vals:
        by_type.setdefault(r.event_type, []).append(r.user_id)
    assert len(out) == len(by_type)
    for row in out:
        n_occ, sum_units, est = sketches.hll_py(by_type[row.event_type])
        assert row.n_occupied == n_occ
        assert row.sum_units == sum_units
        assert row.est_distinct == round(est, 6)


def test_hll_accuracy_within_bounds(spark):
    # 5000 distinct values, each appearing 1-4 times; p=12 std err 1.6%
    df = spark.range(0, 15000).select(
        (F.col("id") % 5000).alias("v"))
    row = sketches.hll_distinct(df, "v").collect()[0]
    assert abs(row.est_distinct - 5000) / 5000 < 0.05
    # duplicates must not move the estimate at all
    row2 = sketches.hll_distinct(
        spark.range(0, 5000).select(F.col("id").alias("v")), "v"
    ).collect()[0]
    assert row2.est_distinct == row.est_distinct


def test_hll_linear_counting_small(spark):
    df = spark.range(0, 10).select(F.col("id").alias("v"))
    row = sketches.hll_distinct(df, "v").collect()[0]
    # linear counting is near-exact at tiny cardinalities
    assert abs(row.est_distinct - 10) < 0.5
    assert row.n_occupied == 10  # no register collisions at n=10, m=4096


def test_hll_merge_equals_direct(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet").withColumn(
        "day", F.to_date("ts"))
    fine = sketches.hll_registers(
        ev, "user_id", group_cols=("event_type", "day"))
    merged = sketches.hll_merge(fine, group_cols=("event_type",))
    direct = sketches.hll_registers(
        ev, "user_id", group_cols=("event_type",))
    sym = merged.exceptAll(direct).unionAll(
        direct.exceptAll(merged))
    assert sym.count() == 0
    # and the estimates agree bit-for-bit
    em = sketches.hll_estimate(merged, group_cols=("event_type",))
    ed = sketches.hll_estimate(direct, group_cols=("event_type",))
    assert sorted(map(tuple, em.collect())) == \
        sorted(map(tuple, ed.collect()))


def test_hll_partitioning_invariance(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    a = sketches.hll_distinct(ev, "user_id").collect()
    b = sketches.hll_distinct(ev.repartition(17), "user_id").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_hll_nulls_and_empty(spark):
    df = spark.createDataFrame(
        [(None,), ("a",), ("b",), (None,)], "v string")
    row = sketches.hll_distinct(df, "v").collect()[0]
    n_occ, sum_units, est = sketches.hll_py(["a", "b"])
    assert (row.n_occupied, row.sum_units) == (n_occ, sum_units)
    empty = sketches.hll_distinct(
        spark.createDataFrame([], "v string"), "v").collect()[0]
    assert empty.est_distinct == 0.0
    assert empty.n_occupied == 0


def test_hll_p_validation():
    with pytest.raises(ValueError):
        sketches.hll_py([], p=3)
    with pytest.raises(ValueError):
        sketches.hll_py([], p=17)


def test_weighted_sample_k_properties(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = sampling.weighted_sample_k(
        docs, k=5, weight_col="n_chars", group_cols=["lang"])
    rows = out.collect()
    per = {}
    for r in rows:
        per.setdefault(r.lang, []).append(r)
    n_langs = docs.select("lang").distinct().count()
    assert len(per) == n_langs
    assert all(len(v) <= 5 for v in per.values())
    # determinism under repartition
    rows2 = sampling.weighted_sample_k(
        docs.repartition(13), k=5, weight_col="n_chars",
        group_cols=["lang"]).collect()
    assert sorted(r.doc_id for r in rows) == \
        sorted(r.doc_id for r in rows2)
    # k-monotone: the k=3 winners are a prefix of the k=5 winners
    rows3 = sampling.weighted_sample_k(
        docs, k=3, weight_col="n_chars", group_cols=["lang"]).collect()
    assert {r.doc_id for r in rows3} <= {r.doc_id for r in rows}
    # samp_key replays the A-ES formula exactly
    import hashlib
    for r in rows[:10]:
        h = int(hashlib.md5(
            f"wsample:{r.doc_id}".encode()).hexdigest()[:15], 16)
        u = float(h + 1) / float(1 << 60)
        assert r.samp_key == round(-math.log(u) / float(r.n_chars), 9)


def test_weighted_sample_bias(spark):
    # two weight classes 10:1 — heavy ids must dominate the sample
    df = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 1000, F.lit(10.0)).otherwise(1.0)
        .alias("wt"),
        F.lit("g").alias("g"))
    out = sampling.weighted_sample_k(
        df, k=200, weight_col="wt", group_cols=["g"],
        key_col="doc_id").collect()
    heavy = sum(1 for r in out if r.doc_id < 1000)
    # E[heavy] ~ 183/200 under A-ES with w=10 vs 1; require a clear
    # majority (binomial tail makes <140 astronomically unlikely)
    assert heavy > 140
    # weight <= 0 rows never sample
    df2 = df.withColumn("wt", F.when(
        F.col("doc_id") < 1000, F.lit(-1.0)).otherwise(F.col("wt")))
    out2 = sampling.weighted_sample_k(
        df2, k=200, weight_col="wt", group_cols=["g"],
        key_col="doc_id").collect()
    assert all(r.doc_id >= 1000 for r in out2)


def test_weighted_sample_k_validation(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    with pytest.raises(ValueError):
        sampling.weighted_sample_k(docs, k=0, weight_col="n_chars")


def test_hll_intersect_inclusion_exclusion(spark):
    # A = 0..2999, B = 2000..5999 -> |A∩B| = 1000, |A∪B| = 6000
    a = spark.range(0, 3000).select(F.col("id").alias("v"))
    b = spark.range(2000, 6000).select(F.col("id").alias("v"))
    ra = sketches.hll_registers(a, "v")
    rb = sketches.hll_registers(b, "v")
    row = sketches.hll_intersect_estimate(ra, rb).collect()[0]
    assert abs(row.est_a - 3000) / 3000 < 0.05
    assert abs(row.est_b - 4000) / 4000 < 0.05
    assert abs(row.est_union - 6000) / 6000 < 0.05
    # intersection inherits the error of all three terms; be generous
    assert abs(row.est_intersect - 1000) / 1000 < 0.25
    # arithmetic contract: intersect recomputes from the emitted terms
    assert row.est_intersect == max(
        0.0, round(row.est_a + row.est_b - row.est_union, 6))
    # disjoint sets clamp at 0 instead of going negative
    c = spark.range(100000, 103000).select(F.col("id").alias("v"))
    row2 = sketches.hll_intersect_estimate(
        ra, sketches.hll_registers(c, "v")).collect()[0]
    assert row2.est_intersect <= 0.05 * 3000


def test_hll_intersect_grouped_missing_side(spark):
    a = spark.createDataFrame(
        [("g1", 1), ("g1", 2), ("g2", 3)], "g string, v int")
    b = spark.createDataFrame(
        [("g1", 2), ("g3", 9)], "g string, v int")
    out = {r.g: r for r in sketches.hll_intersect_estimate(
        sketches.hll_registers(a, "v", ("g",)),
        sketches.hll_registers(b, "v", ("g",)),
        group_cols=("g",)).collect()}
    assert set(out) == {"g1", "g2", "g3"}
    assert out["g2"].est_b == 0.0 and out["g2"].est_intersect == 0.0
    assert out["g3"].est_a == 0.0 and out["g3"].est_intersect == 0.0
    assert out["g1"].est_intersect > 0.5  # {2} is shared


def test_cms_matches_python_twin_and_overcounts(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    words = docs.select(F.explode(
        F.split(F.trim("text"), "[ \t\n\f\r]+")).alias("w")).where(
        F.col("w") != "")
    sk = sketches.cms_sketch(words, "w", d=4, w_buckets=512)
    exact = words.groupBy("w").agg(F.count(F.lit(1)).alias("cnt")) \
        .orderBy(F.desc("cnt"), "w").limit(20)
    est = {r.w: r.est_cnt for r in sketches.cms_lookup(
        sk, exact.select("w"), "w", d=4, w_buckets=512).collect()}
    truth = {r.w: r.cnt for r in exact.collect()}
    # overcount-only guarantee
    assert all(est[w] >= c for w, c in truth.items())
    # python twin parity (exact cell equality)
    all_words = [r.w for r in words.collect()]
    py = sketches.cms_py(all_words, list(truth), d=4, w_buckets=512)
    assert est == py
    # with a roomy width the hot words estimate exactly
    sk2 = sketches.cms_sketch(words, "w", d=4, w_buckets=65536)
    est2 = {r.w: r.est_cnt for r in sketches.cms_lookup(
        sk2, exact.select("w"), "w", d=4, w_buckets=65536).collect()}
    assert sum(1 for w in truth if est2[w] == truth[w]) >= 18


def test_cms_validation(spark):
    with pytest.raises(ValueError):
        sketches.cms_py([], [], d=0)
    with pytest.raises(ValueError):
        sketches.cms_py([], [], w_buckets=1)


# ---- hypothesis property pins on the pure-Python twins (no Spark:
# hundreds of adversarial cases without JVM round-trips; the Spark
# plumbing is covered above and by the gate oracles) -----------------

from collections import Counter

from hypothesis import given, settings
from hypothesis import strategies as hst

_vals = hst.lists(
    hst.text(alphabet="abcdef:0123456789 ", min_size=0, max_size=8),
    min_size=0, max_size=200)


@settings(max_examples=200, deadline=None)
@given(_vals)
def test_hll_py_order_and_duplication_invariant(values):
    base = sketches.hll_py(values)
    assert sketches.hll_py(list(reversed(values))) == base
    # multiplicity never moves a distinct-count sketch
    assert sketches.hll_py(values + values) == base
    assert sketches.hll_py(values + values[:50]) == base


@settings(max_examples=200, deadline=None)
@given(_vals)
def test_hll_py_estimate_tracks_small_cardinalities(values):
    n_occ, sum_units, est = sketches.hll_py(values)
    n_true = len(set(values))
    assert n_occ <= n_true
    assert est >= 0.0
    if n_true == 0:
        assert (n_occ, est) == (0, 0.0)
    else:
        # linear-counting regime (n << m = 4096): within 25% always
        # at these sizes, and register occupancy nearly injective
        assert abs(est - n_true) <= max(1.0, 0.25 * n_true)


@settings(max_examples=150, deadline=None)
@given(_vals, hst.integers(min_value=1, max_value=5),
       hst.integers(min_value=2, max_value=64))
def test_cms_py_overcount_only_and_exact_min_bound(values, d, w):
    truth = Counter(values)
    qs = list(truth)[:20] + ["__never_seen__"]
    est = sketches.cms_py(values, qs, d=d, w_buckets=w)
    for qv in qs:
        assert est[qv] >= truth.get(qv, 0)
        # any single cell bounds the estimate by total stream mass
        assert est[qv] <= len(values)
    assert est["__never_seen__"] >= 0


def test_exact_topk_matches_naive(spark):
    from ts2g2_spark.operators.corpusstats import exact_topk
    df = spark.range(0, 500).select(
        (F.col("id") % 7).cast("string").alias("g"),
        F.concat(F.lit("w"), (F.col("id") % 53)).alias("word"),
    ).groupBy("g", "word").agg(F.count(F.lit(1)).alias("cnt"))
    got = exact_topk(df, "cnt", 5, "word", group_cols=("g",), buckets=8)
    rows = got.collect()
    naive = {}
    for r in df.collect():
        naive.setdefault(r.g, []).append((-r.cnt, r.word))
    for g, lst in naive.items():
        want = [w for _, w in sorted(lst)[:5]]
        mine = [r.word for r in sorted(
            (x for x in rows if x.g == g), key=lambda x: x.rank)]
        assert mine == want, g
    with pytest.raises(ValueError):
        exact_topk(df, "cnt", 0, "word")


# ---------------------------------------------------------------- bloom

def test_bloom_no_false_negatives_and_twins(spark):
    keys = spark.range(0, 200).select(
        F.concat(F.lit("k"), (F.col("id") * 7)).alias("key"))
    facts = spark.range(0, 1000).select(
        F.concat(F.lit("k"), (F.col("id") % 600)).alias("fk"))
    bits = sketches.bloom_bits(keys, "key", k=3, n_bits=2048)
    pruned = sketches.bloom_prune(
        facts, "fk", keys, "key", k=3, n_bits=2048)
    exact = facts.join(
        keys.withColumnRenamed("key", "fk").distinct(), "fk", "left_semi")
    # bloom never drops a true member
    assert exact.exceptAll(pruned).count() == 0
    assert pruned.count() >= exact.count()
    # python twin builds the identical bit set
    pybits = sketches.bloom_py(
        [r.key for r in keys.collect()], k=3, n_bits=2048)
    assert pybits == {r.bit_pos for r in bits.collect()}
    for r in keys.collect():  # twin membership: every insert tests true
        assert sketches.bloom_py_contains(pybits, r.key, k=3, n_bits=2048)
    # empty key set prunes everything
    assert sketches.bloom_prune(
        facts, "fk", keys.limit(0), "key", k=3, n_bits=2048).count() == 0
    with pytest.raises(ValueError):
        sketches.bloom_bits(keys, "key", k=0, n_bits=1024)
    with pytest.raises(ValueError):
        sketches.bloom_bits(keys, "key", k=3, n_bits=32)
    with pytest.raises(ValueError, match="max_bits"):
        sketches.bloom_words(bits, n_bits=1 << 30)


def test_bloom_prune_plan_is_map_only(spark):
    keys = spark.range(0, 50).select(F.col("id").alias("key"))
    facts = spark.range(0, 500).select((F.col("id") % 100).alias("fk"))
    pruned = sketches.bloom_prune(facts, "fk", keys, "key", k=4,
                                  n_bits=1024)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Join" not in plan


def test_kmv_matches_python_twin_exactly(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    out = sketches.kmv_distinct(
        ev, "user_id", group_cols=("event_type",), k=64).collect()
    vals = ev.select("event_type", "user_id").collect()
    by_type: dict[str, list] = {}
    for r in vals:
        by_type.setdefault(r.event_type, []).append(r.user_id)
    assert len(out) == len(by_type)
    for row in out:
        n_kept, kth, est = sketches.kmv_py(by_type[row.event_type], k=64)
        assert row.n_kept == n_kept
        assert row.kth_h == kth
        assert row.est_distinct == round(est, 6)


def test_kmv_exact_below_k(spark):
    # fewer than k distincts: the sketch IS the set, estimate is exact
    df = spark.range(0, 300).select((F.col("id") % 37).alias("v"))
    row = sketches.kmv_distinct(df, "v", k=256).collect()[0]
    assert row.n_kept == 37
    assert row.est_distinct == 37.0
    sk = sketches.kmv_sketch(df, "v", k=256)
    assert sk.count() == 37


def test_kmv_accuracy_and_duplication_invariance(spark):
    # 5000 distincts at k=256: std err ~ 1/sqrt(254) ~ 6.3%
    df = spark.range(0, 15000).select((F.col("id") % 5000).alias("v"))
    row = sketches.kmv_distinct(df, "v", k=256).collect()[0]
    assert abs(row.est_distinct - 5000) / 5000 < 0.20
    row2 = sketches.kmv_distinct(
        spark.range(0, 5000).select(F.col("id").alias("v")), "v", k=256
    ).collect()[0]
    assert row2.est_distinct == row.est_distinct
    assert row2.kth_h == row.kth_h


def test_kmv_merge_equals_direct(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet").withColumn(
        "day", F.to_date("ts"))
    fine = sketches.kmv_sketch(
        ev, "user_id", group_cols=("event_type", "day"), k=64)
    merged = sketches.kmv_merge(fine, group_cols=("event_type",), k=64)
    direct = sketches.kmv_sketch(
        ev, "user_id", group_cols=("event_type",), k=64)
    m = {(r.event_type, r.kmv_rank): r.kh for r in merged.collect()}
    d = {(r.event_type, r.kmv_rank): r.kh for r in direct.collect()}
    assert m == d  # row-identical, ranks included


def test_kmv_partitioning_invariance(spark):
    df = spark.range(0, 4000).select((F.col("id") % 997).alias("v"))
    a = sketches.kmv_distinct(df.repartition(1), "v", k=128).collect()[0]
    b = sketches.kmv_distinct(df.repartition(32), "v", k=128).collect()[0]
    assert (a.n_kept, a.kth_h, a.est_distinct) == \
        (b.n_kept, b.kth_h, b.est_distinct)


def test_kmv_nulls_skipped_and_validation(spark):
    df = spark.createDataFrame(
        [(None,), ("a",), ("b",), ("a",)], "v string")
    row = sketches.kmv_distinct(df, "v", k=16).collect()[0]
    assert row.n_kept == 2 and row.est_distinct == 2.0
    with pytest.raises(ValueError, match="kmv"):
        sketches.kmv_sketch(df, "v", k=1)
    with pytest.raises(ValueError, match="kmv"):
        sketches.kmv_merge(df, k=16, buckets=0)


# ---------------------------------------------------------------------------
# HDR base-2 quantile sketch
# ---------------------------------------------------------------------------


def test_hdr_matches_python_twin_exactly(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        "event_type", F.floor(F.col("value") * 1000).alias("v"))
    sk = sketches.hdr_sketch(ev, "v", group_cols=("event_type",))
    qs = (0.5, 0.9, 0.99)
    out = sketches.hdr_quantiles(sk, qs, group_cols=("event_type",))
    by_type: dict[str, list] = {}
    for r in ev.collect():
        by_type.setdefault(r.event_type, []).append(r.v)
    # bucket frame bit parity
    got_buckets: dict[str, dict] = {}
    for r in sk.collect():
        got_buckets.setdefault(r.event_type, {})[r.b_lo] = (r.b_hi, r.n)
    for et, vals in by_type.items():
        want_buckets, want_q = sketches.hdr_py(vals, qs)
        assert got_buckets[et] == want_buckets
    # quantile rows bit parity
    got_q = {(r.event_type, r.q): (r.rank, r.q_lo, r.q_hi, r.n_total)
             for r in out.collect()}
    for et, vals in by_type.items():
        _, want_q = sketches.hdr_py(vals, qs)
        for q, (rank, lo, hi) in want_q.items():
            assert got_q[(et, q)] == (rank, lo, hi, len(vals))


def test_hdr_quantile_brackets_true_quantile(spark):
    import numpy as np

    rng = np.random.default_rng(3)
    vals = np.abs(rng.lognormal(mean=6.0, sigma=1.5, size=4000)).astype(
        "int64")
    df = spark.createDataFrame([(int(v),) for v in vals], "v long")
    out = {r.q: r for r in sketches.hdr_value_quantiles(
        df, "v", qs=(0.5, 0.9, 0.99), sub_bits=5).collect()}
    s = np.sort(vals)
    for q, row in out.items():
        true_q = s[row.rank - 1]  # the exact order statistic
        assert row.q_lo <= true_q <= row.q_hi
        # relative-error guarantee: bucket width / lower bound <= 2^-5
        assert (row.q_hi - row.q_lo) <= max(1, row.q_lo) * 2 ** -5 + 1


def test_hdr_merge_equals_direct(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        "event_type",
        F.to_date("ts").alias("day"),
        F.floor(F.col("value") * 1000).alias("v"))
    fine = sketches.hdr_sketch(ev, "v", group_cols=("event_type", "day"))
    merged = sketches.hdr_merge(fine, group_cols=("event_type",))
    direct = sketches.hdr_sketch(ev, "v", group_cols=("event_type",))
    key = lambda r: (r.event_type, r.b_lo)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, direct.collect()))


def test_hdr_partitioning_invariance(spark):
    df = spark.range(0, 3000).select(
        ((F.col("id") * 37) % 9001).alias("v"))
    a = sketches.hdr_value_quantiles(df, "v").collect()
    b = sketches.hdr_value_quantiles(df.repartition(17), "v").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_hdr_exact_small_values_and_zero(spark):
    # every value with bit length <= sub_bits+1 is its own bucket
    df = spark.createDataFrame([(v,) for v in [0, 1, 5, 63, 64, 100]],
                               "v long")
    sk = {r.b_lo: (r.b_hi, r.n)
          for r in sketches.hdr_sketch(df, "v", sub_bits=5).collect()}
    for v in (0, 1, 5, 63):
        assert sk[v] == (v, 1)
    assert sk[64] == (65, 1)       # width-2 bucket at bit length 7
    assert sk[100] == (101, 1)
    # expression-valued value_col works (SQL interpolation contract)
    row = sketches.hdr_value_quantiles(
        spark.createDataFrame([(1.25,), (2.5,)], "x double"),
        "CAST(floor(x * 1000) AS BIGINT)", qs=(1.0,)).collect()[0]
    assert row.q_lo <= 2500 <= row.q_hi


def test_hdr_negative_raises_and_validation(spark):
    import py4j

    df = spark.createDataFrame([(5,), (-3,)], "v long")
    with pytest.raises(Exception) as ei:
        sketches.hdr_sketch(df, "v").collect()
    assert "non-negative" in str(ei.value)
    # big negatives (bit length 64 in two's complement) raise too
    df2 = spark.createDataFrame([(-(1 << 40),)], "v long")
    with pytest.raises(Exception) as ei2:
        sketches.hdr_sketch(df2, "v").collect()
    assert "non-negative" in str(ei2.value)
    with pytest.raises(ValueError):
        sketches.hdr_sketch(df, "v", sub_bits=-1)
    with pytest.raises(ValueError):
        sketches.hdr_quantiles(sketches.hdr_sketch(df.where("v >= 0"),
                                                   "v"), qs=())
    with pytest.raises(ValueError):
        sketches.hdr_quantiles(sketches.hdr_sketch(df.where("v >= 0"),
                                                   "v"), qs=(0.0,))


def test_hdr_nulls_skipped(spark):
    df = spark.createDataFrame([(1,), (None,), (7,)], "v long")
    assert sketches.hdr_sketch(df, "v").agg(
        F.sum("n")).collect()[0][0] == 2
