"""Round-3 training-data quality family: repetition signals, PII census,
corpus top-k n-grams, benchmark decontamination, sequence packing.

Each op is checked against an independent per-doc Python model (sets /
Counter / cumulative sums), not against its own SQL oracle — the gate
covers engine-vs-DuckDB, these cover engine-vs-intent."""

from __future__ import annotations

import re
from collections import Counter

import numpy as np
import pytest

from ts2g2_spark.functions.hashing import h64_py
from ts2g2_spark.operators import dedup, sampling
from ts2g2_spark.operators import text as text_ops

WORDS = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
         "lambda mu nu xi omicron pi rho sigma tau upsilon").split()


def _grams(ws: list[str], n: int) -> list[str]:
    return [" ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)]


# ---------------------------------------------------------------- repetition

def test_repetition_signals_hand_checked(spark):
    df = spark.createDataFrame(
        [(0, "a a a b"), (1, "solo"), (2, "x y x y x")],
        "doc_id long, text string")
    out = {r["doc_id"]: r.asDict()
           for r in text_ops.repetition_signals(df).collect()}

    # doc 0: words [a,a,a,b]; 2-grams [a a, a a, a b]; 3-grams distinct
    assert out[0]["n_words"] == 4
    assert out[0]["dup_word_frac"] == pytest.approx(0.5)
    assert out[0]["dup_2gram_frac"] == pytest.approx(1 - 2 / 3, abs=1e-6)
    assert out[0]["dup_3gram_frac"] == 0.0
    assert out[0]["top_2gram_frac"] == pytest.approx(2 / 3, abs=1e-6)

    # doc 1: single word -> no grams, all gram fracs 0 (not NaN/1)
    assert out[1]["n_words"] == 1
    assert out[1]["dup_word_frac"] == 0.0
    assert out[1]["dup_2gram_frac"] == 0.0
    assert out[1]["top_2gram_frac"] == 0.0

    # doc 2: [x,y,x,y,x] -> 2-grams [x y, y x, x y, y x]
    assert out[2]["dup_word_frac"] == pytest.approx(1 - 2 / 5, abs=1e-6)
    assert out[2]["dup_2gram_frac"] == pytest.approx(0.5)
    assert out[2]["top_2gram_frac"] == pytest.approx(0.5)


def test_repetition_signals_match_python_model(spark):
    rng = np.random.default_rng(7)
    rows = [(i, " ".join(rng.choice(WORDS[:6], size=int(n))))
            for i, n in enumerate(rng.integers(1, 40, size=50))]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict()
           for r in text_ops.repetition_signals(df).collect()}
    for doc_id, text in rows:
        ws = text.split()
        g2 = _grams(ws, 2)
        exp_dup2 = (1 - len(set(g2)) / len(g2)) if g2 else 0.0
        exp_top = (max(Counter(g2).values()) / len(g2)) if g2 else 0.0
        r = got[doc_id]
        assert r["n_words"] == len(ws)
        assert r["dup_word_frac"] == pytest.approx(
            1 - len(set(ws)) / len(ws), abs=1e-6)
        assert r["dup_2gram_frac"] == pytest.approx(exp_dup2, abs=1e-6)
        assert r["top_2gram_frac"] == pytest.approx(exp_top, abs=1e-6)


# ----------------------------------------------------------------------- pii

def test_pii_counts_on_planted_spans(spark):
    df = spark.createDataFrame(
        [
            (0, "contact me at jane.doe+x@example.co.uk or "
                "bob@site.org for info"),
            (1, "see https://example.com/a?b=1 and http://x.io today"),
            (2, "server 10.0.0.1 and 192.168.254.3 rebooted"),
            (3, "call 555-123-4567 or 555.987.6543 now"),
            (4, "order id 123456789012 shipped"),
            (5, "plain text with no pii at all"),
        ],
        "doc_id long, text string")
    out = {r["doc_id"]: r.asDict() for r in text_ops.pii_counts(df).collect()}
    assert out[0]["n_emails"] == 2 and out[0]["pii_total"] == 2
    assert out[1]["n_urls"] == 2
    assert out[2]["n_ipv4"] == 2
    assert out[3]["n_phones"] == 2
    assert out[4]["n_long_digits"] == 1
    assert out[5]["pii_total"] == 0


# ---------------------------------------------------------------- top ngrams

def test_top_ngrams_counts_and_tiebreak(spark):
    df = spark.createDataFrame(
        [(0, "a b a b c"), (1, "a b z z"), (2, "c a b")],
        "doc_id long, text string")
    # 2-gram counts: "a b" x4, "b a" x1, "b c" x1, "b z" x1, "z z" x1,
    # "c a" x1 -> ties at cnt=1 break alphabetically
    rows = text_ops.top_ngrams(df, n_words=2, k=3).collect()
    assert [(r["gram"], r["cnt"]) for r in rows] == [
        ("a b", 4), ("b a", 1), ("b c", 1)]


# ------------------------------------------------------------- contamination

def _norm(text: str) -> str:
    return re.sub(r"\s+", " ", re.sub(r"[^a-z0-9\s]", "", text.lower())).strip()


def test_contamination_report_matches_set_model(spark):
    rng = np.random.default_rng(11)
    rows = [(i, " ".join(rng.choice(WORDS[:8], size=20)))
            for i in range(80)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    frac, salt, n = 0.2, "bench", 3

    def is_bench(doc_id: int) -> bool:
        return h64_py(f"{salt}:{doc_id}") % 1_000_000 < 200_000

    # engine-shingle replica: i in 0..max(len-n, 0) (partial gram when
    # the doc is shorter than n), distinct per doc, nonempty
    def gram_set(text: str) -> set[str]:
        ws = _norm(text).split(" ")
        hi = max(len(ws) - n, 0)
        return {" ".join(ws[i:i + n])
                for i in range(hi + 1) if ws[i:i + n] != [""]}

    bench_ids = [i for i, _ in rows if is_bench(i)]
    assert bench_ids, "seed must place some docs in the bench split"
    bench = set().union(*(gram_set(t) for i, t in rows if is_bench(i)))

    got = {r["doc_id"]: r.asDict()
           for r in dedup.contamination_report(
               df, n_words=n, bench_fraction=frac, salt=salt).collect()}
    assert set(got) == {i for i, _ in rows if not is_bench(i)}
    for doc_id, text in rows:
        if is_bench(doc_id):
            continue
        gs = gram_set(text)
        r = got[doc_id]
        assert r["n_grams"] == len(gs)
        assert r["n_contaminated"] == len(gs & bench)
        assert r["contamination"] == pytest.approx(
            len(gs & bench) / len(gs), abs=1e-6)


def test_contamination_zero_without_overlap(spark):
    # pick ids on both sides of the split, with disjoint vocabularies
    train_id = next(i for i in range(100)
                    if h64_py(f"bench:{i}") % 1_000_000 >= 50_000)
    bench_id = next(i for i in range(100)
                    if h64_py(f"bench:{i}") % 1_000_000 < 50_000)
    df = spark.createDataFrame(
        [(train_id, "p q r s t u v w"), (bench_id, "a b c d e f g h")],
        "doc_id long, text string")
    [r] = dedup.contamination_report(df, n_words=3,
                                     bench_fraction=0.05).collect()
    assert r["doc_id"] == train_id
    assert r["n_contaminated"] == 0 and r["contamination"] == 0.0


# ------------------------------------------------------------------- packing

def test_pack_sequences_matches_greedy_model(spark):
    rng = np.random.default_rng(5)
    rows = [(i, " ".join(rng.choice(WORDS, size=int(k))))
            for i, k in enumerate(rng.integers(5, 120, size=200))]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    budget, n_buckets = 100, 4
    got = {r["doc_id"]: r.asDict()
           for r in sampling.pack_sequences(
               df, budget=budget, n_buckets=n_buckets).collect()}

    lanes: dict[int, list[tuple[int, int]]] = {}
    for doc_id, text in rows:
        b = h64_py(f"pack:{doc_id}") % n_buckets
        lanes.setdefault(b, []).append((doc_id, len(text.split())))
    for b, docs in lanes.items():
        cum = 0
        for doc_id, ntok in sorted(docs):
            r = got[doc_id]
            assert (r["bucket"], r["n_tokens"]) == (b, ntok)
            assert r["seq_id"] == cum // budget
            assert r["seq_offset"] == cum % budget
            cum += ntok

    # packing is lossless (1 row per doc) and lane-local offsets never
    # exceed the budget
    assert len(got) == len(rows)
    assert all(0 <= r["seq_offset"] < budget for r in got.values())


def _run_oracle(sql: str, docs_pdf):
    import duckdb

    con = duckdb.connect()
    con.register("documents", docs_pdf)
    return con.sql(sql).df()


def test_contamination_oracle_agrees_on_short_docs(spark):
    """Docs shorter than the n-gram width take the engine's
    partial-gram path (shingles emits index 0 even when len < n); the
    oracle must replicate it instead of silently dropping those docs."""
    import __spark_entry__ as e

    rows = []
    train = (i for i in range(500) if _bb(i) >= 50_000)
    bench_id = next(i for i in range(500) if _bb(i) < 50_000)
    rows.append((bench_id, "alpha beta gamma delta"))
    rows.append((next(train), "solo"))                      # 1 word
    rows.append((next(train), "alpha beta"))                # 2 words
    rows.append((next(train), "alpha beta gamma epsilon"))  # overlaps
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r["doc_id"], r["n_grams"], r["n_contaminated"],
         round(r["contamination"], 6))
        for r in dedup.contamination_report(
            df, n_words=3, bench_fraction=0.05).collect())
    import pandas as pd
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    want = sorted(
        (int(r.doc_id), int(r.n_grams), int(r.n_contaminated),
         round(float(r.contamination), 6))
        for r in _run_oracle(e.CONTAMINATION_SQL, pdf).itertuples())
    assert got == want
    assert len(got) == 3  # every short train doc is present in BOTH


def test_pii_oracle_agrees_on_null_text(spark):
    """NULL text -> all-zero counts in BOTH engines (DuckDB
    regexp_extract_all(NULL) is NULL; the oracle coalesces it)."""
    import pandas as pd

    import __spark_entry__ as e

    rows = [(1, None), (2, "mail me at a@b.io")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(tuple(r) for r in text_ops.pii_counts(df).collect())
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    want = sorted(
        tuple(int(v) for v in r)
        for r in _run_oracle(e._pii_sql(), pdf).itertuples(index=False))
    assert got == want
    assert got[0] == (1, 0, 0, 0, 0, 0, 0)


def _bb(i: int) -> int:
    return h64_py(f"bench:{i}") % 1_000_000


def test_hash_partition_pred_disjoint_exhaustive(spark):
    df = spark.createDataFrame(
        [(i,) for i in range(500)], "doc_id long")
    pred = sampling.hash_partition_pred("doc_id", 0.3, "bench")
    a = df.where(pred).count()
    b = df.where(~pred).count()
    assert a + b == 500 and 0 < a < 500


# ---------------------------------------------------------------- datamix

def test_datamix_rebalance_solver_math(spark):
    # srcA: 100 tokens, srcB: 300 tokens, srcC: 60 tokens (dropped)
    rows = ([(i, " ".join(["w"] * 10), "srcA") for i in range(10)]
            + [(100 + i, " ".join(["w"] * 30), "srcB") for i in range(10)]
            + [(200 + i, " ".join(["w"] * 6), "srcC") for i in range(10)])
    df = spark.createDataFrame(
        rows, "doc_id long, text string, source string")
    plan = {r["source"]: r.asDict()
            for r in sampling.datamix_rebalance(
                df, {"srcA": 1.0, "srcB": 1.0}).collect()}
    # equal shares: T = min(100/0.5, 300/0.5) = 200; srcA binding at
    # fraction 1.0, srcB samples 100/300
    assert plan["srcA"]["fraction"] == pytest.approx(1.0)
    assert plan["srcB"]["fraction"] == pytest.approx(1 / 3, abs=1e-9)
    assert plan["srcC"]["fraction"] == 0.0 and plan["srcC"]["share"] == 0.0
    assert plan["srcA"]["tokens"] == 100 and plan["srcB"]["tokens"] == 300
    # realized EXPECTED tokens are proportional to the target shares
    assert plan["srcA"]["fraction"] * 100 == pytest.approx(
        plan["srcB"]["fraction"] * 300)


def test_datamix_apply_membership_model(spark):
    rows = ([(i, " ".join(["w"] * 10), "srcA") for i in range(20)]
            + [(100 + i, " ".join(["w"] * 10), "srcB") for i in range(40)])
    df = spark.createDataFrame(
        rows, "doc_id long, text string, source string")
    targets = {"srcA": 1.0, "srcB": 1.0}
    got = {r["doc_id"] for r in
           sampling.datamix_apply(df, targets).collect()}
    plan = {r["source"]: r["fraction"]
            for r in sampling.datamix_rebalance(df, targets).collect()}
    want = set()
    for doc_id, _, src in rows:
        thr = int(round(plan[src] * 1_000_000))
        if h64_py(f"datamix:{doc_id}") % 1_000_000 < thr:
            want.add(doc_id)
    assert got == want
    # the binding source (srcA, fewer tokens) is taken whole
    assert {i for i in range(20)} <= got


def test_datamix_custom_strata_col(spark):
    rows = [(1, "w " * 10, "en"), (2, "w " * 30, "de"), (3, "w " * 5, "fr")]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string")
    plan = {r["source"]: r["fraction"]
            for r in sampling.datamix_rebalance(
                df, {"en": 1.0, "de": 1.0}, strata_col="lang").collect()}
    assert plan["en"] == pytest.approx(1.0)      # binding (10 tokens)
    assert plan["de"] == pytest.approx(1 / 3, abs=1e-9)
    assert plan["fr"] == 0.0
    out = sampling.datamix_apply(
        df, {"en": 1.0, "de": 1.0}, strata_col="lang")
    assert set(out.columns) == {"doc_id", "lang"}


# ---------------------------------------------------------------- bigram LM

def _norm_ws(text: str) -> list[str]:
    t = re.sub(r"\s+", " ", re.sub(r"[^a-z0-9\s]", "", text.lower()))
    return [w for w in t.strip().split(" ") if w]


def test_bigram_lm_matches_python_model(spark):
    import math

    rng = np.random.default_rng(3)
    docs = [(i, " ".join(rng.choice(WORDS[:8], rng.integers(2, 30))))
            for i in range(40)] + [(40, "one"), (41, "")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: r.asDict()
           for r in text_ops.bigram_lm_scores(df).collect()}

    # python model: same add-1 smoothed corpus bigram LM
    word_lists = {i: _norm_ws(t) for i, t in docs}
    c2: Counter = Counter()
    vocab = set()
    for ws in word_lists.values():
        vocab.update(ws)
        c2.update(zip(ws, ws[1:]))
    c1: Counter = Counter()
    for (w1, _), c in c2.items():
        c1[w1] += c
    V = len(vocab)
    for i, ws in word_lists.items():
        pairs = list(zip(ws, ws[1:]))
        if not pairs:
            assert i not in got  # <2 words -> no row
            continue
        avg = sum(math.log((c2[p] + 1.0) / (c1[p[0]] + V))
                  for p in pairs) / len(pairs)
        assert got[i]["n_bigrams"] == len(pairs)
        assert got[i]["avg_logp"] == pytest.approx(avg, rel=1e-12)
        assert got[i]["ppl"] == pytest.approx(math.exp(-avg), rel=1e-12)


def test_bigram_lm_flags_gibberish(spark):
    """A doc of corpus-typical bigrams scores higher (lower ppl) than a
    doc of never-seen word orderings — the actual filter signal."""
    normal = "the cat sat on the mat and the cat slept"
    docs = [(i, normal) for i in range(20)]
    docs.append((100, "mat the on slept and sat cat mat on and"))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.doc_id: r.ppl
           for r in text_ops.bigram_lm_scores(df).collect()}
    assert out[100] > out[0] * 2


# ---------------------------------------------------------------- tf-idf

def test_tfidf_top_terms_matches_python_model(spark):
    import math

    rng = np.random.default_rng(11)
    docs = []
    for i in range(60):
        src = f"s{i % 3}"
        # each source gets a marker word so top terms differ per group
        body = list(rng.choice(WORDS, 12)) + [f"marker{i % 3}"] * 3
        docs.append((i, src, " ".join(body)))
    df = spark.createDataFrame(docs, "doc_id long, source string, "
                                     "text string")
    got = text_ops.tfidf_top_terms(df, k=3).collect()
    assert all(r["rank"] <= 3 for r in got)

    tf: Counter = Counter()
    dfreq: Counter = Counter()
    for i, src, t in docs:
        ws = _norm_ws(t)
        tf.update((src, w) for w in ws)
        dfreq.update(set(ws))
    n_docs = len(docs)
    by_src: dict[str, list] = {}
    for (src, w), c in tf.items():
        by_src.setdefault(src, []).append(
            (-c * math.log(n_docs / dfreq[w]), w, c))
    for src, rows in by_src.items():
        rows.sort()
        want = [(w, c) for _, w, c in rows[:3]]
        have = sorted(((r["term"], r["tf"]) for r in got
                       if r["source"] == src and r["rank"] <= 3),
                      key=lambda x: want.index(x) if x in want else 99)
        assert have == want, src
    # the per-source marker dominates its group
    for r in got:
        if r["rank"] == 1:
            assert r["term"].startswith("marker")


def test_entropy_signals_match_python_model(spark):
    """Word entropy / TTR / max-word share vs a literal collections.Counter
    model, including degenerate docs (all-same word -> 0 bits, all-distinct
    -> log2(n) bits, empty/whitespace-only text -> all-zero defaults: the
    \\s+ split would yield a [''] singleton, so such docs are pre-filtered
    and fall through the left-join coalesce)."""
    import collections
    import math

    import pandas as pd

    from ts2g2_spark.operators.text import entropy_signals

    docs = {
        1: "spam spam spam spam",
        2: "a b c d e f g h",
        3: "the cat sat on the mat",
        4: "",
        5: "solo",
        6: "  \t \n ",
    }
    pdf = pd.DataFrame(
        {"doc_id": list(docs), "text": list(docs.values())}
    )
    got = {
        r["doc_id"]: r
        for r in entropy_signals(spark.createDataFrame(pdf)).collect()
    }
    assert set(got) == set(docs)  # empty docs kept as rows, not dropped
    for did, text in docs.items():
        r = got[did]
        ws = text.strip().split()
        if not ws:  # empty/whitespace-only: coalesced zero defaults
            assert (r["n_words"], r["n_types"]) == (0, 0)
            assert (r["ttr"], r["word_entropy"], r["max_word_frac"]) \
                == (0.0, 0.0, 0.0)
            continue
        c = collections.Counter(ws)
        n = len(ws)
        ent = -sum(v / n * math.log2(v / n) for v in c.values())
        assert r["n_words"] == n
        assert r["n_types"] == len(c)
        assert r["ttr"] == round(len(c) / n, 6)
        assert abs(r["word_entropy"] - ent) < 1e-6
        assert r["max_word_frac"] == round(max(c.values()) / n, 6)
    assert got[1]["word_entropy"] == 0.0  # canonical +0.0, not -0.0
    assert math.copysign(1.0, got[1]["word_entropy"]) == 1.0
    assert got[2]["word_entropy"] == 3.0


def test_logodds_score_matches_python_model(spark):
    """NB log-odds quality scorer vs a literal collections.Counter model:
    target-class docs score positive, off-class negative, shared words
    contribute ~0; empty docs keep zero defaults; an all-target corpus
    still runs (rest counts all zero -> smoothing only)."""
    import collections
    import math

    import pandas as pd
    from pyspark.sql import functions as F

    from ts2g2_spark.operators.text import logodds_score

    docs = {
        1: ("hq", "good clean prose here"),
        2: ("hq", "good clean text prose"),
        3: ("lq", "spam junk words junk"),
        4: ("lq", "spam junk spam junk"),
        5: ("lq", ""),
    }
    pdf = pd.DataFrame(
        [(k, lab, t) for k, (lab, t) in docs.items()],
        columns=["doc_id", "label", "text"])
    got = {r["doc_id"]: r for r in logodds_score(
        spark.createDataFrame(pdf), F.col("label") == "hq").collect()}
    tgt = [w for _, (lab, t) in docs.items() if lab == "hq"
           for w in t.split()]
    rest = [w for _, (lab, t) in docs.items() if lab == "lq"
            for w in t.split()]
    ct, cr = collections.Counter(tgt), collections.Counter(rest)
    vocab = len(set(tgt) | set(rest))
    tt, tr, a = len(tgt), len(rest), 1.0

    def wt(w):
        return (math.log((ct[w] + a) / (tt + a * vocab))
                - math.log((cr[w] + a) / (tr + a * vocab)))

    for did, (lab, t) in docs.items():
        ws = t.split()
        if not ws:
            assert (got[did]["n_words"], got[did]["score"]) == (0, 0.0)
            continue
        exp = round(sum(wt(w) for w in ws) / len(ws), 6)
        assert got[did]["n_words"] == len(ws)
        assert got[did]["score"] == pytest.approx(exp, abs=1e-9), did
        assert (got[did]["score"] > 0) == (lab == "hq"), did
    # degenerate: every doc in the target class -> runs, finite scores
    allt = logodds_score(spark.createDataFrame(pdf), F.lit(True)).collect()
    assert all(r["score"] == r["score"] for r in allt)  # no NaN


# ------------------------------------------------------- RE2 \s alignment

def test_vertical_tab_tokenizes_re2_style(spark):
    """Engine tokenizers use the explicit [ \\t\\n\\f\\r] class (RE2's
    \\s), never Java's \\s which also eats \\x0B: a \\x0B-bearing doc
    must tokenize exactly as every DuckDB oracle would."""
    import pandas as pd

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": ["a\x0bb c", "\x0b", " \t\n "],
    }))
    tc = {r["doc_id"]: r for r in
          text_ops.token_counts(docs).collect()}
    # "a\x0bb" is ONE whitespace token under RE2 (\x0B is ink)
    assert tc[1]["n_ws_tokens"] == 2
    assert tc[2]["n_ws_tokens"] == 1

    ent = {r["doc_id"]: r for r in
           text_ops.entropy_signals(docs).collect()}
    # \x0B-only doc passes the has-ink filter (RE2 \S matches it) ...
    assert ent[2]["n_words"] == 1
    # ... while a true-whitespace-only doc falls to the zero defaults
    assert ent[3]["n_words"] == 0 and ent[3]["ttr"] == 0.0

    lo = {r["doc_id"]: r for r in text_ops.logodds_score(
        docs, text_ops.F.col("doc_id") == 1).collect()}
    assert lo[2]["n_words"] == 1
    assert lo[3]["n_words"] == 0 and lo[3]["score"] == 0.0


def test_gopher_quality_rules(spark):
    import pandas as pd
    from ts2g2_spark.operators import text as text_ops

    good = " ".join(
        ["the", "be", "to", "of"] + [f"alpha{i}" for i in range(60)])
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3, 4, 5, 6, 7, 8],
        "text": [
            good,                                    # passes all 7
            "short words only the be",               # < 50 words
            good + " " + "# " * 20,                  # hash ratio > 0.1
            "\n".join(["- the be item"] * 10),       # 100% bullet lines
            "\n".join(["the be trailing..."] * 10),  # 100% ellipsis ends
            good.replace("alpha", "####"),           # alpha frac < 0.8
            " ".join([f"w{i}" for i in range(60)]),  # no stopwords
            "   \t\n ",                              # whitespace-only
        ],
    }))
    rows = {r["doc_id"]: r for r in
            text_ops.gopher_quality(docs).collect()}
    assert rows[1]["keep"] and rows[1]["n_rules_failed"] == 0
    assert not rows[2]["pass_word_count"] and not rows[2]["keep"]
    assert not rows[3]["pass_symbol_ratio"]
    assert not rows[4]["pass_bullet_lines"]
    assert not rows[5]["pass_ellipsis_lines"]
    assert not rows[6]["pass_alpha_words"]
    assert not rows[7]["pass_stop_words"]
    # whitespace-only: every word-based rule is defined FALSE
    r8 = rows[8]
    assert r8["n_words"] == 0 and not r8["keep"]
    assert not r8["pass_word_count"] and not r8["pass_mean_word_len"]
    assert not r8["pass_alpha_words"] and not r8["pass_stop_words"]
    # mean-word-length bounds: 60 one-char words fail the lower bound
    ones = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1], "text": [" ".join(["a"] * 60)]}))
    r = text_ops.gopher_quality(ones).collect()[0]
    assert not r["pass_mean_word_len"] and r["pass_word_count"]
    # ellipsis U+2026 counts for both the symbol and line-end rules
    ell = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1], "text": ["the be word…\n" * 3 + "the be word…"]}))
    r = text_ops.gopher_quality(ell).collect()[0]
    assert not r["pass_ellipsis_lines"] and not r["pass_symbol_ratio"]


def test_dsir_weights_discriminate(spark):
    import pandas as pd
    from ts2g2_spark.operators import text as text_ops

    # target docs speak "aa bb cc", raw background speaks "xx yy zz";
    # a held-out target-like doc must score ABOVE a background-like one
    target_like = "aa bb cc aa bb cc aa bb"
    backg_like = "xx yy zz xx yy zz xx yy"
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3, 4, 5, 6, 7],
        "source": ["t", "t", "t", "r", "r", "r", "r"],
        "text": [target_like, target_like, "aa cc bb aa cc",
                 backg_like, backg_like, "zz xx yy zz",
                 "   "],  # whitespace-only -> zero defaults
    }))
    for gram_hash in ("xxhash64", "md5"):
        rows = {r["doc_id"]: r for r in text_ops.dsir_weights(
            docs, text_ops.F.col("source") == "t",
            gram_hash=gram_hash).collect()}
        assert rows[1]["logw"] > rows[4]["logw"]
        assert rows[3]["logw"] > 0 > rows[6]["logw"]
        assert rows[7]["n_feats"] == 0 and rows[7]["logw"] == 0.0
        assert len(rows) == 7  # every input doc survives the left join
        # unigrams + bigrams: 8 words -> 8 + 7 features
        assert rows[1]["n_feats"] == 15
    with pytest.raises(ValueError, match="gram_hash"):
        text_ops.dsir_weights(docs, text_ops.F.lit(True),
                              gram_hash="sha1")


def test_collocations_pmi(spark):
    import math
    import pandas as pd
    from ts2g2_spark.operators import text as text_ops

    # "new york" always adjacent; filler words independent
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "text": ["new york is big", "new york has parks",
                 "big parks is has", "new york is has big parks"],
    }))
    rows = text_ops.collocations(docs, k=5, min_count=2).collect()
    assert rows[0]["w1"] == "new" and rows[0]["w2"] == "york"
    # hand-check the PMI value: ln((c_ab*nu*nu)/(nb*c_a*c_b))
    txts = ["new york is big", "new york has parks",
            "big parks is has", "new york is has big parks"]
    words = [w for t in txts for w in t.split()]
    bigrams = [b for t in txts
               for b in zip(t.split(), t.split()[1:])]
    c_ab = bigrams.count(("new", "york"))
    want = math.log((c_ab * len(words) * len(words))
                    / (len(bigrams) * words.count("new")
                       * words.count("york")))
    assert rows[0]["pmi"] == round(want, 6)
    assert rows[0]["pair_count"] == 3
    # min_count filters singletons; one-word docs contribute no pairs
    one = spark.createDataFrame(pd.DataFrame(
        {"doc_id": [1], "text": ["hello"]}))
    assert text_ops.collocations(one, min_count=1).count() == 0


def test_bm25_topk_matches_formula(spark):
    """bm25_topk == the hand-evaluated Okapi formula (Lucene idf) on a
    tiny corpus; rank deterministic, non-matching docs absent."""
    import math
    import pandas as pd

    txts = {
        1: "cat dog cat",          # tf(cat)=2, dl=3
        2: "cat fish fish fish",   # tf(cat)=1, dl=4
        3: "bird bird bird",       # no query terms
        4: "dog dog cat cat cat dog dog",  # dl=7
    }
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": list(txts), "text": list(txts.values())}))
    out = text_ops.bm25_topk(docs, ["cat", "dog"], k=10).toPandas()
    assert list(out.doc_id) != [] and 3 not in set(out.doc_id)
    n, k1, b = 4, 1.2, 0.75
    dls = {d: len(t.split()) for d, t in txts.items()}
    avgdl = sum(dls.values()) / n
    dfq = {"cat": 3, "dog": 2}

    def score(d):
        s = 0.0
        for t in ("cat", "dog"):
            tf = txts[d].split().count(t)
            idf = math.log(1.0 + ((n - dfq[t]) + 0.5) / (dfq[t] + 0.5))
            s += idf * tf * (k1 + 1.0) / (
                tf + k1 * ((1.0 - b) + b * (dls[d] / avgdl)))
        return round(s, 6)

    got = dict(zip(out.doc_id, out.score))
    for d in (1, 2, 4):
        assert got[d] == pytest.approx(score(d), abs=2e-6), d
    # rank = rounded score desc, doc_id asc; all ranks contiguous
    assert list(out["rank"]) == list(range(1, len(out) + 1))
    assert list(out.score) == sorted(out.score, reverse=True)
    # n_hit_terms counts distinct matched query terms
    assert dict(zip(out.doc_id, out.n_hit_terms))[2] == 1


def test_bm25_topk_edges(spark):
    import pandas as pd

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2], "text": ["a b c", "b c d"]}))
    # term absent from the corpus: no contribution, no error
    out = text_ops.bm25_topk(docs, ["zzz", "b"], k=5).toPandas()
    assert len(out) == 2 and (out.n_hit_terms == 1).all()
    # k truncates; ties break by doc_id asc
    out1 = text_ops.bm25_topk(docs, ["b"], k=1).toPandas()
    assert len(out1) == 1 and out1.doc_id[0] == 1
    # duplicate query terms deduped (no double counting)
    a = text_ops.bm25_topk(docs, ["b", "b"], k=5).toPandas()
    bq = text_ops.bm25_topk(docs, ["b"], k=5).toPandas()
    assert list(a.score) == list(bq.score)
    with pytest.raises(ValueError):
        text_ops.bm25_topk(docs, [])


def test_redact_pii_typed_placeholders(spark):
    df = spark.createDataFrame(
        [
            (0, "mail jane.doe+x@example.co.uk, see "
                "https://example.com/a?b=1 or 10.0.0.1, "
                "call 555-123-4567, order 123456789012 now"),
            (1, "plain text untouched"),
            (2, None),
        ],
        "doc_id long, text string")
    out = {r.doc_id: r.redacted
           for r in text_ops.redact_pii(df).collect()}
    assert out[0] == ("mail <EMAIL>, see <URL> or <IP>, "
                      "call <PHONE>, order <ID> now")
    assert out[1] == "plain text untouched"  # no-op on clean text
    assert out[2] is None                    # NULL text stays NULL
    # redacted text carries no remaining PII spans
    from pyspark.sql import functions as F

    red = text_ops.redact_pii(df).select(
        "doc_id", F.col("redacted").alias("text"))
    counts = {r.doc_id: r.pii_total
              for r in text_ops.pii_counts(red).collect()}
    assert counts[0] == 0 and counts[1] == 0


# --- normalize_unicode + domain ops (round 5) -------------------------------


def test_normalize_unicode_rules(spark):
    from ts2g2_spark.operators.text import normalize_unicode

    df = spark.createDataFrame(
        [(1, "cafe\u0301  x"),      # decomposed -> composed, collapse
         (2, "a\x07b\x0c c"),          # controls stripped (\f too)
         (3, "  tab\tend\r\nz  "),     # ws runs -> single space, trim
         (4, None)],
        "doc_id long, text string")
    rows = {r.doc_id: r.norm_text
            for r in normalize_unicode(df).collect()}
    assert rows[1] == "caf\u00e9 x"
    assert len(rows[1]) == 6  # composed: one codepoint for é
    assert rows[2] == "ab c"
    assert rows[3] == "tab end z"
    assert rows[4] is None


def test_normalize_unicode_ascii_identity(spark):
    from ts2g2_spark.operators.text import normalize_unicode

    df = spark.createDataFrame([(1, "plain ascii text")],
                               "doc_id long, text string")
    assert normalize_unicode(df).head().norm_text == "plain ascii text"


@pytest.fixture(scope="module")
def url_docs(spark):
    return spark.createDataFrame(
        [(1, "see https://A.example.com/x and http://b.org/y"),
         (2, "again https://a.example.com/z stuff"),
         (3, "no links here"),
         (4, "dup https://a.example.com/1 https://a.example.com/2")],
        "doc_id long, text string")


def test_url_hosts_extraction(spark, url_docs):
    from ts2g2_spark.operators.text import url_hosts

    got = sorted((r.doc_id, r.host) for r in url_hosts(url_docs).collect())
    assert got == [(1, "a.example.com"), (1, "b.org"),
                   (2, "a.example.com"),
                   (4, "a.example.com"), (4, "a.example.com")]


def test_domain_stats_counts_and_blocklist(spark, url_docs):
    from ts2g2_spark.operators.text import domain_stats

    rows = {r.host: r for r in domain_stats(
        url_docs, blocked_hosts=["b.org"]).collect()}
    assert rows["a.example.com"].n_docs == 3
    assert rows["a.example.com"].n_hits == 4
    assert not rows["a.example.com"].blocked
    assert rows["b.org"].n_docs == 1 and rows["b.org"].blocked
    # mixed-case blocklist entries match the lowercased hosts
    rows = {r.host: r for r in domain_stats(
        url_docs, blocked_hosts=["B.ORG"]).collect()}
    assert rows["b.org"].blocked


def test_url_hosts_skips_userinfo(spark):
    from ts2g2_spark.operators.text import url_hosts

    df = spark.createDataFrame(
        [(1, "x https://foo@evil.com/a http://u:p@bad.org/b "
             "https://plain.net/c")],
        "doc_id long, text string")
    got = sorted(r.host for r in url_hosts(df).collect())
    assert got == ["bad.org", "evil.com", "plain.net"]


def test_canonicalize_urls_hand_cases(spark):
    from ts2g2_spark.operators.text import canonicalize_urls

    cases = [
        ("HTTP://User:pw@Site0.Example.COM:80/p/1/?utm_source=x&id=1#f",
         "http://site0.example.com/p/1?id=1"),
        ("https://a.com:443/x?b=2&a=1", "https://a.com/x?a=1&b=2"),
        ("https://a.com:8443/x", "https://a.com:8443/x"),  # non-default
        ("https://a.com:80/x", "https://a.com:80/x"),      # wrong scheme
        ("http://a.com/", "http://a.com"),
        ("http://a.com", "http://a.com"),
        ("http://a.com/x?utm_campaign=z&UTM_Source=y", "http://a.com/x"),
        ("http://a.com/x?ref=tw&id=3&gclid=g", "http://a.com/x?id=3"),
        ("ftp://a.com/x", None),
        ("not a url", None),
        ("  http://A.com/y/  ", "http://a.com/y"),
        ("http://a.com/x?", "http://a.com/x"),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)],
        "doc_id long, url string")
    got = {r.doc_id: r.canonical_url
           for r in canonicalize_urls(df).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (cases[i], got[i])


def test_url_dedup_groups_and_survivor(spark):
    from ts2g2_spark.operators.text import url_dedup

    df = spark.createDataFrame(
        [(10, "http://A.com/x?utm_source=s"),
         (3, "http://a.com:80/x/"),
         (7, "https://a.com/x"),     # scheme differs -> separate group
         (5, "junk")],
        "doc_id long, url string")
    rows = {r.canonical_url: (r.n_docs, r.survivor_id)
            for r in url_dedup(df).collect()}
    assert rows == {
        "http://a.com/x": (2, 3),
        "https://a.com/x": (1, 7),
    }


def _py_span_corruption(doc_id, text, span_every=7, max_span=3, salt="sc"):
    import hashlib
    import re

    def h64(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    ws = re.split(r"[ \t\n\f\r]+", text.strip())
    starts = [h64(f"{salt}:{doc_id}:{p}") % span_every == 0
              for p in range(len(ws))]
    slens = [1 + h64(f"{salt}l:{doc_id}:{p}") % max_span
             for p in range(len(ws))]
    masked = [
        any(starts[q] and q + slens[q] > p
            for q in range(max(0, p - max_span + 1), p + 1))
        for p in range(len(ws))
    ]
    inp, tgt, k = [], [], -1
    for p, w in enumerate(ws):
        if masked[p]:
            if p == 0 or not masked[p - 1]:
                k += 1
                inp.append(f"<extra_id_{k}>")
                tgt.append(f"<extra_id_{k}>")
            tgt.append(w)
        else:
            inp.append(w)
    return (len(ws), k + 1, sum(masked), " ".join(inp), " ".join(tgt))


def test_span_corruption_matches_python_model(spark):
    from ts2g2_spark.operators.text import span_corruption

    docs = [(i, " ".join(f"w{i}_{j}" for j in range(20 + 7 * i)))
            for i in range(6)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: (r.n_tokens, r.n_spans, r.n_masked,
                      r.input_text, r.target_text)
           for r in span_corruption(df).collect()}
    for i, t in docs:
        assert got[i] == _py_span_corruption(i, t), i
    # reconstruction invariant: replacing each sentinel in input with
    # its target span recovers the original token stream
    for i, t in docs:
        n_tok, n_spans, n_masked, inp, tgt = got[i]
        spans, cur = {}, None
        for piece in tgt.split(" ") if tgt else []:
            if piece.startswith("<extra_id_"):
                cur = piece
                spans[cur] = []
            else:
                spans[cur].append(piece)
        rebuilt = []
        for piece in inp.split(" "):
            rebuilt.extend(spans[piece] if piece in spans else [piece])
        assert rebuilt == t.strip().split(" ")
        assert n_tok == len(rebuilt)
        assert n_masked == sum(len(v) for v in spans.values())
        assert n_spans == len(spans)


def test_span_corruption_edges_and_validation(spark):
    from ts2g2_spark.operators.text import span_corruption

    df = spark.createDataFrame(
        [(1, "  "), (2, "solo")], "doc_id long, text string")
    out = {r.doc_id: r for r in span_corruption(df).collect()}
    assert 1 not in out  # empty doc dropped
    assert out[2].n_tokens == 1
    # determinism across partitionings
    big = spark.createDataFrame(
        [(i, " ".join(f"t{j}" for j in range(50))) for i in range(20)],
        "doc_id long, text string")
    a = sorted(map(tuple, span_corruption(big.repartition(1)).collect()))
    b = sorted(map(tuple, span_corruption(big.repartition(16)).collect()))
    assert a == b
    with pytest.raises(ValueError, match="span_corruption"):
        span_corruption(df, span_every=1)
    with pytest.raises(ValueError, match="span_corruption"):
        span_corruption(df, max_span=0)


def test_vocab_coverage_matches_bruteforce(spark):
    from collections import Counter

    from ts2g2_spark.operators.text import vocab_coverage

    rows = [
        (0, "a", "the cat sat on the mat"),
        (1, "a", "the dog sat"),
        (2, "b", "a rare xylophone melody"),
        (3, "b", "the the the zz"),
        (4, "b", "   "),           # empty after trim -> excluded
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    vocab_size = 4
    # brute-force: top-4 words by (cnt desc, word asc) over raw ws splits
    toks = []
    for _, src, text in rows:
        if not text.strip():
            continue
        toks += [(src, w) for w in text.strip().split()]
    cnt = Counter(w for _, w in toks)
    vocab = {w for w, _ in sorted(cnt.items(),
                                  key=lambda kv: (-kv[1], kv[0]))[:vocab_size]}
    got = {r.source: r for r in vocab_coverage(
        df, vocab_size, group_cols=("source",)).collect()}
    for src in ("a", "b"):
        st = [(s, w) for s, w in toks if s == src]
        n = len(st)
        n_oov = sum(1 for _, w in st if w not in vocab)
        r = got[src]
        assert r.n_tokens == n and r.n_oov_tokens == n_oov
        assert r.n_distinct_words == len({w for _, w in st})
        assert r.n_distinct_oov == len({w for _, w in st
                                        if w not in vocab})
        assert r.oov_rate == round(n_oov / n, 6)


def test_vocab_coverage_edges(spark):
    from ts2g2_spark.operators.text import vocab_coverage

    df = spark.createDataFrame(
        [(0, "s", "x y z")], "doc_id long, source string, text string")
    # vocab covers everything -> zero OOV
    r = vocab_coverage(df, 10, group_cols=("source",)).collect()[0]
    assert r.n_oov_tokens == 0 and r.oov_rate == 0.0
    # vocab_size 1 keeps only the lexicographically-first tied word
    r1 = vocab_coverage(df, 1, group_cols=("source",)).collect()[0]
    assert r1.n_oov_tokens == 2 and r1.n_distinct_oov == 2
    # empty corpus -> no rows; validation
    assert vocab_coverage(df.limit(0), 5,
                          group_cols=("source",)).count() == 0
    with pytest.raises(ValueError, match="vocab_size"):
        vocab_coverage(df, 0)
