"""BPE learn/apply: parity vs a naive single-node reference, self-pair
run greedy semantics, tie-breaks, early stop, sampling, and the no-shuffle
shape of apply."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from ts2g2_spark.operators import bpe


# ---------------------------------------------------------------- naive ref

def _naive_pair_counts(seqs):
    c = {}
    for s in seqs:
        for a, b in zip(s, s[1:]):
            c[(a, b)] = c.get((a, b), 0) + 1
    return c


def _naive_merge_one(s, a, b, c):
    out, i = [], 0
    while i < len(s):
        if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
            out.append(c)
            i += 2
        else:
            out.append(s[i])
            i += 1
    return out


def _naive_learn(seqs, n_merges, new_id_start, min_count=2):
    seqs = [list(s) for s in seqs if len(s) >= 2]
    merges = []
    for rank in range(n_merges):
        pc = _naive_pair_counts(seqs)
        if not pc:
            break
        best = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        (a, b), cnt = best
        if cnt < min_count:
            break
        c = new_id_start + rank
        merges.append((rank, a, b, c, cnt))
        seqs = [_naive_merge_one(s, a, b, c) for s in seqs]
    return merges, seqs


# ------------------------------------------------------------ kernel parity

RNG = np.random.default_rng(7)
CASES = [
    [[1, 2, 1, 2, 3], [2, 3, 1, 2], [1, 2]],
    [[5, 5, 5, 5, 5], [5, 5, 5], [5, 5], [5]],       # self-pair runs
    [[1], [], [2, 2]],                               # short/empty rows
    [list(RNG.integers(0, 6, size=n)) for n in RNG.integers(2, 40, 30)],
]


@pytest.mark.parametrize("case", range(len(CASES)))
def test_merge_flat_matches_naive(case):
    seqs = CASES[case]
    flat = np.concatenate([np.asarray(s, dtype=np.int64) for s in seqs]) \
        if any(len(s) for s in seqs) else np.zeros(0, np.int64)
    lens = np.array([len(s) for s in seqs], dtype=np.int64)
    row = np.repeat(np.arange(len(seqs)), lens)
    for (a, b) in [(1, 2), (5, 5), (2, 2), (2, 3), (9, 9)]:
        got_flat, per_row = bpe._merge_flat(flat, row, a, b, 99)
        want = [_naive_merge_one(list(s), a, b, 99) for s in seqs]
        want_flat = [t for s in want for t in s]
        assert got_flat.tolist() == want_flat, (a, b)
        n_merged = sum(len(s) - len(w) for s, w in zip(seqs, want))
        got_n = int(per_row.sum()) if per_row.size else 0
        assert got_n == n_merged


def test_learn_and_apply_match_naive(spark):
    rng = np.random.default_rng(11)
    rows = [("d%03d" % i,
             [int(x) for x in rng.integers(0, 8, size=rng.integers(0, 30))])
            for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    merges = bpe.learn_bpe(df, n_merges=6, new_id_start=100)
    got = [(r.rank, r.tok_a, r.tok_b, r.new_id, r.pair_count)
           for r in merges.orderBy("rank").collect()]
    want, want_seqs = _naive_learn([t for _, t in rows], 6, 100)
    assert got == want

    applied = bpe.apply_bpe(df, merges)
    got_map = {r.doc_id: list(r.tokens) for r in applied.collect()}
    kept = [(d, list(t)) for d, t in rows if len(t) >= 2]
    for (d, _), w in zip(kept, want_seqs):
        assert got_map[d] == w, d
    # rows the learner filtered (len < 2) still pass through apply intact
    for d, t in rows:
        if len(t) < 2:
            assert got_map[d] == list(t)
    # n_tok matches the output arrays
    for r in applied.collect():
        assert r.n_tok == len(r.tokens)


def test_learn_matches_naive_with_negative_ids(spark):
    """tokens is array<int>: negative ids must survive the int64 pair-key
    packing of the counting kernel (a negative tok_b used to corrupt
    the key's high half)."""
    rng = np.random.default_rng(13)
    rows = [("d%03d" % i,
             [int(x) for x in rng.integers(-4, 3, size=rng.integers(2, 25))])
            for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    first = bpe.pair_counts(df).orderBy(
        F.desc("cnt"), "tok_a", "tok_b").first()
    merges = bpe.learn_bpe(df, n_merges=5, new_id_start=100)
    got = [(r.rank, r.tok_a, r.tok_b, r.new_id, r.pair_count)
           for r in merges.orderBy("rank").collect()]
    want, _ = _naive_learn([t for _, t in rows], 5, 100)
    assert got == want
    assert got[0][1:3] == (first.tok_a, first.tok_b)
    assert any(a < 0 or b < 0 for _, a, b, _, _ in got)


@pytest.mark.parametrize("every", [1, 2])
def test_learn_materialize_every_fold_matches_unfolded(spark, every):
    """Folding the merge prefix into a checkpointed working set every
    `every` merges learns the same table as the run that never folds."""
    rng = np.random.default_rng(17)
    rows = [("d%03d" % i,
             [int(x) for x in rng.integers(0, 6, size=rng.integers(0, 30))])
            for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")

    def learn(**kw):
        return [tuple(r) for r in bpe.learn_bpe(
            df, n_merges=5, new_id_start=100, **kw).orderBy("rank").collect()]

    unfolded = learn()
    assert len(unfolded) == 5
    assert learn(materialize_every=every) == unfolded


def test_learn_early_stop_and_min_count(spark):
    df = spark.createDataFrame(
        [("a", [1, 2]), ("b", [3, 4])], "doc_id string, tokens array<int>")
    # every pair unique -> best count 1 < min_count=2 -> no merges
    assert bpe.learn_bpe(df, n_merges=5, new_id_start=10).count() == 0
    # min_count=1 merges deterministically by (cnt desc, a, b)
    m = bpe.learn_bpe(df, n_merges=1, min_count=1, new_id_start=10).collect()
    assert [(r.tok_a, r.tok_b, r.new_id, r.pair_count) for r in m] == \
        [(1, 2, 10, 1)]


def test_learn_infers_new_id_start(spark):
    df = spark.createDataFrame(
        [("a", [7, 3, 7, 3])], "doc_id string, tokens array<int>")
    m = bpe.learn_bpe(df, n_merges=1).collect()
    assert m[0].new_id == 8  # max token + 1


def test_pair_counts_overlapping_runs(spark):
    df = spark.createDataFrame(
        [("a", [4, 4, 4]), ("b", [4, 4])], "doc_id string, tokens array<int>")
    got = {(r.tok_a, r.tok_b): r.cnt
           for r in bpe.pair_counts(df).collect()}
    assert got == {(4, 4): 3}  # overlapping adjacencies all counted


def test_apply_is_map_only(spark):
    df = spark.createDataFrame(
        [("a", [1, 2, 3])], "doc_id string, tokens array<int>")
    plan = bpe.apply_bpe(df, [(1, 2, 9)])._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan


def test_learn_on_sample_fraction(spark):
    rng = np.random.default_rng(3)
    rows = [("d%03d" % i,
             [int(x) for x in rng.integers(0, 4, size=20)])
            for i in range(80)]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    m = bpe.learn_bpe(df, n_merges=2, new_id_start=50,
                      sample_fraction=0.5).collect()
    # sampling halves counts but the merge table stays well-formed
    assert [r.new_id for r in sorted(m, key=lambda r: r.rank)] == [50, 51]
