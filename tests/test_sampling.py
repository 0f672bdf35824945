"""Deterministic sampling/splitting operators."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from ts2g2_spark.operators import sampling

SF = "/root/testdata/sf0.001"


def test_hash_sample_deterministic_and_sized(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    n = docs.count()
    s1 = {r.doc_id for r in sampling.hash_sample(docs, 0.3).collect()}
    s2 = {r.doc_id for r in sampling.hash_sample(docs, 0.3).collect()}
    assert s1 == s2  # pure function of (salt, key)
    assert 0.15 * n < len(s1) < 0.45 * n  # ~binomial around 0.3
    # monotone in fraction: smaller sample is a subset of larger
    s_small = {r.doc_id for r in sampling.hash_sample(docs, 0.1).collect()}
    assert s_small <= s1
    # different salt -> different (mostly disjoint-ish) membership
    s_other = {r.doc_id for r in
               sampling.hash_sample(docs, 0.3, salt="other").collect()}
    assert s_other != s1


def test_stratified_fractions(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = sampling.stratified_hash_sample(
        docs, {"src0": 1.0, "src1": 0.0}, strata_col="source")
    srcs = {r.source for r in out.select("source").distinct().collect()}
    assert srcs == {"src0"}  # src1 and default strata fully dropped
    n_src0 = docs.where(F.col("source") == "src0").count()
    assert out.count() == n_src0  # fraction 1.0 keeps everything


def test_train_val_split_partition(spark):
    """split_assignment's `split` column partitions the rows into train
    and val, and recomputing it gives the same val set."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    a = sampling.split_assignment(docs, 0.2)
    n = docs.count()
    assert a.count() == n  # every row gets exactly one split
    splits = {r.split for r in a.select("split").distinct().collect()}
    assert splits == {"train", "val"}
    ids_v = {r.doc_id for r in a.where(F.col("split") == "val").collect()}
    assert 0 < len(ids_v) < n
    # assignment is stable: recompute matches
    again = sampling.split_assignment(docs, 0.2)
    assert ids_v == {r.doc_id
                     for r in again.where(F.col("split") == "val").collect()}


def test_per_key_cap_deterministic_and_prefix_stable(spark):
    docs_df = spark.read.parquet(f"{SF}/documents.parquet")
    c10 = sampling.per_key_cap(docs_df, 10)
    a = {r.doc_id for r in c10.collect()}
    b = {r.doc_id for r in sampling.per_key_cap(docs_df, 10).collect()}
    assert a == b and len(a) > 0
    # per-group bound holds
    per = sampling.per_key_cap(docs_df, 10).groupBy("source").count()
    assert all(r["count"] <= 10 for r in per.collect())
    # resize-stable: kept(10) is a subset of kept(15)
    c15 = {r.doc_id for r in sampling.per_key_cap(docs_df, 15).collect()}
    assert a <= c15
    # different salt -> different choice (overwhelmingly)
    other = {r.doc_id
             for r in sampling.per_key_cap(docs_df, 10, salt="x").collect()}
    assert other != a
    import pytest as _pytest

    with _pytest.raises(ValueError, match="k >= 1"):
        sampling.per_key_cap(docs_df, 0)


def _topfrac_bruteforce(rows, fraction, grouped):
    """rows: (gid, id, score).  Keep ceil(f*n)/group by (score desc,
    id asc)."""
    import math
    from collections import defaultdict

    by_g = defaultdict(list)
    for g, i, s in rows:
        by_g[g if grouped else ()].append((i, s))
    kept = set()
    for g, pts in by_g.items():
        k = math.ceil(fraction * len(pts))
        for i, s in sorted(pts, key=lambda p: (-p[1], p[0]))[:k]:
            kept.add(i)
    return kept


@pytest.mark.parametrize("fraction,grouped", [
    (0.25, True), (0.1, False), (1.0, True), (0.333, True)])
def test_top_fraction_matches_bruteforce(spark, fraction, grouped):
    from ts2g2_spark.operators.sampling import top_fraction_by_score

    rng = np.random.default_rng(13)
    n = 400
    rows = [(int(g), int(i), float(s)) for g, i, s in zip(
        rng.integers(0, 3, n), range(n),
        np.round(rng.normal(size=n), 1))]  # heavy ties at 1 decimal
    df = spark.createDataFrame(rows, "gid int, id long, s double")
    out = top_fraction_by_score(
        df, "s", fraction, "id", group_cols=("gid",) if grouped else ())
    got = {r.id for r in out.collect()}
    assert got == _topfrac_bruteforce(rows, fraction, grouped)
    # schema passthrough: original columns, no helpers
    assert set(out.columns) == {"gid", "id", "s"}


def test_top_fraction_edges(spark):
    from ts2g2_spark.operators.sampling import top_fraction_by_score

    # all-tied scores: pure id-ascending prefix survives
    df = spark.createDataFrame(
        [(i, 5.0) for i in range(10)], "id long, s double")
    got = sorted(r.id for r in top_fraction_by_score(
        df, "s", 0.3, "id").collect())
    assert got == [0, 1, 2]

    # single row; fraction=1 keeps everything
    one = spark.createDataFrame([(7, 1.0)], "id long, s double")
    assert top_fraction_by_score(one, "s", 0.01, "id").count() == 1
    assert top_fraction_by_score(df, "s", 1.0, "id").count() == 10

    # empty input; bad fraction
    assert top_fraction_by_score(df.limit(0), "s", 0.5, "id").count() == 0
    with pytest.raises(ValueError, match="fraction"):
        top_fraction_by_score(df, "s", 0.0, "id")
    with pytest.raises(ValueError, match="fraction"):
        top_fraction_by_score(df, "s", 1.5, "id")


def test_top_fraction_monotone_supersets(spark):
    """Growing the fraction never drops a previously kept row (the cut
    only moves down) — the resize-stability a re-tuned gate needs."""
    from ts2g2_spark.operators.sampling import top_fraction_by_score

    rng = np.random.default_rng(4)
    df = spark.createDataFrame(
        [(int(i), float(s)) for i, s in
         enumerate(np.round(rng.normal(size=200), 1))],
        "id long, s double")
    prev: set = set()
    for f in (0.1, 0.25, 0.5, 1.0):
        cur = {r.id for r in top_fraction_by_score(
            df, "s", f, "id").collect()}
        assert prev <= cur
        prev = cur
