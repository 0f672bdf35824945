"""Text analysis operators (training-data pipeline surface).

All pure Catalyst expressions (JVM-side, codegen'd, no Python) so they run
at scan speed and are reproducible in any SQL oracle: token counting,
quality scoring, n-gram-heuristic language ID, document fingerprinting.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ts2g2_spark.functions.hashing import normalize_text

# Whitespace as the EXPLICIT class [ \t\n\f\r] — RE2's ``\s`` — never
# Java's ``\s``/``\S`` (which additionally matches vertical tab \x0B):
# every DuckDB oracle runs RE2, so a \x0B-bearing doc would otherwise
# tokenize (and filter) differently engine vs oracle.  Same contract as
# hashing.normalize_text.
_WS = " \t\n\f\r"
_SPLIT_WS = f"[{_WS}]+"
_HAS_INK = f"[^{_WS}]"  # RE2-\S equivalent: doc has a non-ws char

# tiny per-language stopword marker sets for the n-gram/stopword heuristic
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is", "that", "with"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "mit"],
    "fr": ["le", "la", "les", "et", "est", "que", "des"],
    "es": ["el", "los", "las", "es", "una", "que", "para"],
    "it": ["il", "che", "di", "non", "una", "per", "sono"],
}


def _word_matches(col: Column, words: list[str]) -> Column:
    pat = r"\b(" + "|".join(words) + r")\b"
    return F.coalesce(
        F.size(F.regexp_extract_all(F.lower(col), F.lit(pat), F.lit(1))),
        F.lit(0),
    )


def token_count_columns(text_col: str = "text") -> dict[str, Column]:
    """Column builders — composable into ANY projection (the DataFrame
    wrappers below are one select over these; composite pipelines use
    them directly so the plan stays a single pass instead of join
    re-expansions per derived frame)."""
    t = F.col(text_col)
    ws = F.size(F.split(F.trim(t), _SPLIT_WS))
    bpe = F.size(
        F.regexp_extract_all(
            t, F.lit(rf"([A-Za-z]+|[0-9]|[^A-Za-z0-9{_WS}])"), F.lit(1))
    )
    return {
        "n_ws_tokens": ws.cast("long"),
        "n_bpe_ish": bpe.cast("long"),
        "n_chars_norm": F.length(normalize_text(t)).cast("long"),
    }


def token_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_ws_tokens, n_bpe_ish, n_chars_norm): whitespace tokens
    plus a BPE-ish regex count (word pieces + digits + punctuation runs),
    the standard cheap proxy for tokenizer cost."""
    cols = token_count_columns(text_col)
    return docs.select(
        "doc_id", *[c.alias(name) for name, c in cols.items()])


def quality_columns(text_col: str = "text") -> dict[str, Column]:
    """Quality-feature column builders (see token_count_columns note)."""
    t = F.col(text_col)
    n_chars = F.length(t)
    words = F.split(F.trim(t), _SPLIT_WS)
    n_words = F.size(words)
    n_punct = F.size(
        F.regexp_extract_all(t, F.lit(rf"([^\w{_WS}])"), F.lit(1)))
    n_upper = F.size(F.regexp_extract_all(t, F.lit(r"([A-Z])"), F.lit(1)))
    n_stop = _word_matches(t, LANG_MARKERS["en"])
    return {
        "n_chars": n_chars.cast("long"),
        "n_words": n_words.cast("long"),
        "mean_word_len": F.round(
            n_chars / F.greatest(n_words, F.lit(1)), 6),
        "punct_ratio": F.round(
            n_punct / F.greatest(n_chars, F.lit(1)), 6),
        "upper_ratio": F.round(
            n_upper / F.greatest(n_chars, F.lit(1)), 6),
        "stopword_ratio": F.round(
            n_stop / F.greatest(n_words, F.lit(1)), 6),
    }


def quality_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc quality features: length, mean word length, punctuation
    ratio, stopword ratio, uppercase ratio — the classic cheap filters."""
    cols = quality_columns(text_col)
    return docs.select(
        "doc_id", *[c.alias(name) for name, c in cols.items()])


def lang_columns(text_col: str = "text") -> dict[str, Column]:
    """(lang_pred, score) column builders.  Marker counts appear in both
    the argmax and the tie-broken pick; whole-stage codegen's
    subexpression elimination evaluates each regex once per row."""
    t = F.col(text_col)
    scores = {lang: _word_matches(t, ws)
              for lang, ws in LANG_MARKERS.items()}
    langs = sorted(LANG_MARKERS)
    best = F.greatest(*[scores[lang] for lang in langs])
    pick = F.coalesce(
        *[F.when((scores[lang] == best) & (best > 0), F.lit(lang))
          for lang in langs],
        F.lit("und"),
    )
    return {"lang_pred": pick, "score": best.cast("long")}


def lang_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-marker language ID: argmax over per-language marker hit
    counts, deterministic tie-break by language code; 'und' when no marker
    hits at all."""
    cols = lang_columns(text_col)
    return docs.select(
        "doc_id", *[c.alias(name) for name, c in cols.items()])


def fingerprints(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Content fingerprint of the normalized text (md5) — dedup key that
    survives whitespace/punctuation/case jitter."""
    return docs.select(
        "doc_id", F.md5(normalize_text(text_col)).alias("fingerprint"))


def _words(text_col: str) -> Column:
    return F.split(F.trim(F.col(text_col)), _SPLIT_WS)


def _gram_array(words: Column, n: int) -> Column:
    """ALL word n-grams in document order (occurrences, not distinct);
    empty array when the doc has fewer than n words.  Pure Catalyst
    (sequence + transform + slice) so it stays inside codegen."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(words) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(words, i, n)),
    )
    return F.when(F.size(words) >= n, grams).otherwise(
        F.array().cast("array<string>"))


def repetition_columns(text_col: str = "text",
                       pre_split: bool = False) -> dict[str, Column]:
    """Shuffle-free repetition-quality column builders (Gopher-style
    filters adapted to single-line corpora: word- and n-gram-level, not
    line-level).  array_distinct is hash-based and per-row, so every
    fraction here is a pure projection — map-only at any scale.
    pre_split=True: text_col already IS the word array (use with
    _staged_words so the split regex runs once per doc, not per gram)."""
    words = F.col(text_col) if pre_split else _words(text_col)
    g2, g3 = _gram_array(words, 2), _gram_array(words, 3)
    return {
        "n_words": F.size(words).cast("long"),
        "dup_word_frac": _dup_frac(words),
        "dup_2gram_frac": _dup_frac(g2),
        "dup_3gram_frac": _dup_frac(g3),
    }


def _dup_frac(arr: Column) -> Column:
    return F.when(
        F.size(arr) > 0,
        F.round(1 - F.size(F.array_distinct(arr)) / F.size(arr), 6),
    ).otherwise(F.lit(0.0))


def _staged_words(docs: DataFrame, text_col: str) -> DataFrame:
    """(original columns.., _ws array) with a rand() projection-collapse
    barrier: without it Catalyst inlines the split regex into every
    downstream gram element (O(n_words) full-text regex passes per doc —
    same pitfall as dedup.shingles_hashed, measured ~20s vs ~1s on the
    sf0.1 corpus)."""
    return docs.select(
        "*", _words(text_col).alias("_ws"), F.rand(0).alias("_bar"))


def repetition_signals(docs: DataFrame,
                       text_col: str = "text") -> DataFrame:
    """Per-doc repetition signals: duplicate word/2-gram/3-gram fractions
    (map-only projections) plus top_2gram_frac — the share of 2-gram
    occurrences taken by the doc's most frequent 2-gram (the classic
    "most common n-gram" boilerplate filter).

    The top-gram share needs a per-(doc, gram) count, so it takes the
    explode -> two-level partial aggregation path keyed on doc_id; the
    final join back to the projection side is a doc_id equi-join — both
    sides hash-partition on the same key, no replan needed at 100 TB.
    """
    staged = _staged_words(docs, text_col)
    # second barrier: each gram array materializes once; the dup-frac
    # projection then references attributes, not transform chains
    arrays = staged.select(
        "doc_id", F.col("_ws").alias("ws"),
        _gram_array(F.col("_ws"), 2).alias("g2"),
        _gram_array(F.col("_ws"), 3).alias("g3"),
        F.rand(0).alias("_b2"))
    base = arrays.select(
        "doc_id",
        F.size("ws").cast("long").alias("n_words"),
        _dup_frac(F.col("ws")).alias("dup_word_frac"),
        _dup_frac(F.col("g2")).alias("dup_2gram_frac"),
        _dup_frac(F.col("g3")).alias("dup_3gram_frac"))
    grams = arrays.select("doc_id", F.explode("g2").alias("g"))
    top = (
        grams.groupBy("doc_id", "g").count()
        .groupBy("doc_id")
        .agg(F.max("count").alias("_top"), F.sum("count").alias("_tot"))
        .select(
            "doc_id",
            F.round(F.col("_top") / F.col("_tot"), 6)
            .alias("top_2gram_frac"))
    )
    return base.join(top, "doc_id", "left").select(
        base["*"],
        F.coalesce("top_2gram_frac", F.lit(0.0)).alias("top_2gram_frac"),
    )


def entropy_signals(docs: DataFrame,
                    text_col: str = "text") -> DataFrame:
    """Per-doc lexical-diversity quality signals: word count, type
    count, type-token ratio, Shannon word entropy (bits), and the share
    of the most frequent word — the low-entropy/boilerplate filters of
    LLM corpus pipelines (degenerate repetition scores near 0 entropy,
    natural prose several bits).

    Entropy is computed as (ln n - sum(c ln c)/n) / ln 2 over the
    per-(doc, word) counts: one explode + two-level partial hash
    aggregation keyed on doc_id (the exchange carries distinct
    (doc, word) pairs, then one row per doc), a doc_id equi-join back
    to the corpus — the same scale shape as repetition_signals.  All
    fractions round to 6 dp (+0.0 canonicalizes -0.0, which the
    all-same-word entropy can hit) so any SQL engine replays them."""
    import math

    # whitespace-only docs would split to empty-string tokens
    # (n_words>=1, ttr>0) — filter them here so they fall through to
    # the coalesced zero defaults below, like chunk_documents/build_vocab.
    # rlike(_HAS_INK), not length(trim())>0: trim strips only ' ' (a
    # tab/newline-only doc would slip through)
    staged = _staged_words(docs.where(F.col(text_col).rlike(_HAS_INK)),
                           text_col)
    g = (
        staged.select("doc_id", F.explode("_ws").alias("w"))
        .groupBy("doc_id", "w")
        .count()
    )
    n = F.col("n_words")
    s = (
        g.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_types"),
            F.sum("count").alias("n_words"),
            F.max("count").alias("_mx"),
            F.sum(F.col("count") * F.log("count")).alias("_sl"),
        )
        .select(
            "doc_id", "n_words", "n_types",
            (F.round(F.col("n_types") / n, 6) + F.lit(0.0)).alias("ttr"),
            (
                F.round(
                    (F.log(n) - F.col("_sl") / n)
                    / F.lit(math.log(2.0)), 6,
                ) + F.lit(0.0)
            ).alias("word_entropy"),
            (F.round(F.col("_mx") / n, 6) + F.lit(0.0))
            .alias("max_word_frac"),
        )
    )
    return docs.select("doc_id").join(s, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_words", F.lit(0)).alias("n_words"),
        F.coalesce("n_types", F.lit(0)).alias("n_types"),
        F.coalesce("ttr", F.lit(0.0)).alias("ttr"),
        F.coalesce("word_entropy", F.lit(0.0)).alias("word_entropy"),
        F.coalesce("max_word_frac", F.lit(0.0)).alias("max_word_frac"),
    )


# PII-ish pattern census.  Patterns are deliberately RE2-compatible (no
# lookaround / backrefs) so the exact same literals run in Spark's Java
# regex and any RE2-based oracle engine; each is wrapped in one outer
# group so count = len(regexp_extract_all(text, pat, 1)) on both sides.
PII_PATTERNS = {
    "n_emails": r"([A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,})",
    "n_urls": r"(https?://[^\s]+)",
    "n_ipv4": r"(\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b)",
    "n_phones": r"(\b\d{3}[-. ]\d{3}[-. ]\d{4}\b)",
    "n_long_digits": r"(\b\d{9,}\b)",
}


def pii_columns(text_col: str = "text") -> dict[str, Column]:
    """Per-pattern match-count builders + total (map-only)."""
    t = F.col(text_col)
    cols: dict[str, Column] = {
        name: F.coalesce(
            F.size(F.regexp_extract_all(t, F.lit(pat), F.lit(1))),
            F.lit(0),
        ).cast("long")
        for name, pat in PII_PATTERNS.items()
    }
    total = None
    for c in cols.values():
        total = c if total is None else total + c
    cols["pii_total"] = total.cast("long")
    return cols


def pii_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc counts of PII-shaped spans (emails, URLs, IPv4, phone
    numbers, long digit runs) — the scrub/redact census step of a
    training-data pipeline.  Counting, not redaction: the downstream
    filter/redact decision stays policy, this op stays a projection."""
    cols = pii_columns(text_col)
    return docs.select(
        "doc_id", *[c.alias(name) for name, c in cols.items()])


PII_REDACTIONS = {
    "n_emails": "<EMAIL>",
    "n_urls": "<URL>",
    "n_ipv4": "<IP>",
    "n_phones": "<PHONE>",
    "n_long_digits": "<ID>",
}


def redact_pii(
    docs: DataFrame, text_col: str = "text", out_col: str = "redacted"
) -> DataFrame:
    """Typed-placeholder PII redaction — the enforcement half of the
    `pii_counts` census: every `PII_PATTERNS` span is replaced by its
    type tag (<EMAIL>, <URL>, <IP>, <PHONE>, <ID>), preserving the
    surrounding text for training instead of dropping the document.

    Deterministic by construction: patterns apply in the FIXED
    PII_PATTERNS dict order (emails before URLs before numeric shapes),
    each replacing ALL non-overlapping matches left-to-right — the
    identical chained global regexp_replace replays in any RE2-class
    engine, so the redacted text itself is value-verifiable.  Map-only:
    one projection, no shuffle, no Python."""
    t = F.col(text_col)
    for name, pat in PII_PATTERNS.items():
        t = F.regexp_replace(t, pat, PII_REDACTIONS[name])
    return docs.withColumn(out_col, t)


def _norm_words(text_col: str) -> Column:
    """Normalized word array (lowercase, punctuation stripped, no empty
    tokens) — the token stream the corpus-statistics operators share."""
    return F.filter(
        F.split(normalize_text(text_col), " "), lambda w: w != F.lit(""))


def bigram_lm_scores(
    docs: DataFrame, text_col: str = "text", add_k: float = 1.0
) -> DataFrame:
    """CCNet-style corpus-LM quality signal, dependency-free: train an
    add-k-smoothed bigram language model on the corpus itself and score
    every document by its average bigram log-likelihood.

        P(w2 | w1) = (c(w1 w2) + k) / (c(w1) + k * V)

    Returns (doc_id, n_bigrams, avg_logp, ppl) for every doc with >= 2
    normalized words; ppl = exp(-avg_logp).  Unusually low-likelihood
    docs are gibberish/OCR noise, unusually high ones boilerplate — both
    tails are the filter targets.

    Scale shape: the bigram stream is tokens-sized but every aggregation
    is partial (map-side combine) before its shuffle; c(w1) derives from
    the (w1, w2) counts (no second pass over the stream), the vocabulary
    size rides a 1-row broadcast cross join (action-free plan), and the
    score join is a (w1, w2) equi-join between the stream and the
    counts-sized model — no driver materialization anywhere.
    """
    staged = docs.select(
        "doc_id", _norm_words(text_col).alias("_ws"),
        F.rand(0).alias("_bar"))
    ws = F.col("_ws")
    pair_arr = F.when(
        F.size(ws) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(ws) - 1),
            lambda i: F.struct(
                F.element_at(ws, i).alias("w1"),
                F.element_at(ws, i + 1).alias("w2")),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    pairs = (
        staged.select("doc_id", pair_arr.alias("_pairs"),
                      F.rand(0).alias("_b2"))
        .select("doc_id", F.explode("_pairs").alias("p"))
        .select("doc_id", F.col("p.w1").alias("w1"),
                F.col("p.w2").alias("w2"))
    )
    c2 = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_bg"))
    c1 = c2.groupBy("w1").agg(F.sum("c_bg").alias("c_w1"))
    vocab = (
        staged.select(F.explode("_ws").alias("w"))
        .agg(F.countDistinct("w").alias("v"))
    )
    probs = (
        c2.join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "w1", "w2",
            F.log(
                (F.col("c_bg") + F.lit(float(add_k)))
                / (F.col("c_w1") + F.lit(float(add_k)) * F.col("v"))
            ).alias("logp"),
        )
    )
    return (
        pairs.join(probs, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.avg("logp").alias("avg_logp"),
        )
        .select("doc_id", "n_bigrams", "avg_logp",
                F.exp(-F.col("avg_logp")).alias("ppl"))
    )


def tfidf_top_terms(
    docs: DataFrame, group_col: str = "source", k: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """Per-group keyword extraction: top-k normalized words by tf-idf,
    tf = occurrences within the group, idf = ln(N_docs / doc_freq).
    Returns (group, term, tf, df, tfidf, rank); rank is deterministic
    (round(tfidf, 6) desc, term asc).  Ranking on the ROUNDED score
    makes the order reproducible across engines: distinct (tf, df)
    pairs can be tf-idf-equal in the reals (2·ln2 vs ln4) while their
    floating evaluations differ per-libm in the last ulp, which would
    flip row_number between engines if ranked raw.

    Two partial-aggregated shuffles off one word stream (group-tf keyed
    on (group, word); doc-df distinct-keyed on (doc, word) then word),
    a word equi-join, and a per-group top-k window over the vocabulary-
    sized frame — nothing downstream of the aggregations is corpus-sized.
    """
    from pyspark.sql.window import Window

    staged = docs.select(
        F.col(group_col).alias("grp"), "doc_id",
        _norm_words(text_col).alias("_ws"), F.rand(0).alias("_bar"))
    stream = staged.select(
        "grp", "doc_id", F.explode("_ws").alias("term"))
    tf = stream.groupBy("grp", "term").agg(
        F.count(F.lit(1)).alias("tf"))
    df_ = (
        stream.select("doc_id", "term").distinct()
        .groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col("grp").alias(group_col), "term", "tf", "df",
            (F.col("tf") * F.log(F.col("n_docs") / F.col("df")))
            .alias("tfidf"),
        )
    )
    w = Window.partitionBy(group_col).orderBy(
        F.desc(F.round("tfidf", 6)), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def bm25_topk(
    docs: DataFrame, query_terms: list[str], k: int = 10,
    k1: float = 1.2, b: float = 0.75, round_dp: int = 6,
    text_col: str = "text", id_col: str = "doc_id",
    cache: bool = True,
) -> DataFrame:
    """Okapi BM25 top-k document retrieval for a fixed bag of query
    terms (the Lucene/Elasticsearch scoring formula):

        idf(t)   = ln(1 + (N - df_t + 0.5) / (df_t + 0.5))
        score(d) = sum_t idf(t) * tf_td*(k1+1)
                              / (tf_td + k1*(1 - b + b*dl_d/avgdl))

    Returns (id, dl, n_hit_terms, score, rank) for the top-k matching
    documents; rank is deterministic (round(score, round_dp) desc, id
    asc) and every float is engine-reproducible: tf/df/dl are exact
    integers, avgdl is an exact integer sum divided once, the per-term
    scores are added in the listed query_terms order (a fixed
    left-fold, not an agg), and ranking happens on the ROUNDED score so
    a last-ulp ln() difference between libms cannot flip row_number.

    Scale shape: the exploded word stream is filtered to the (tiny)
    query-term literal list BEFORE any aggregation, so the per-doc tf
    aggregate only sees matching rows; dl is a partial-aggregated
    map-side count; corpus stats (N, df per term, sum dl) are one-row
    broadcast frames; the tail is an ordered limit
    (TakeOrderedAndProject) — nothing downstream of the scan is
    corpus-sized, and no executor holds more than k scored rows."""
    from pyspark.sql.window import Window

    terms = list(dict.fromkeys(query_terms))
    if not terms:
        raise ValueError("bm25_topk: query_terms must be non-empty")
    staged = docs.select(
        F.col(id_col).alias("_id"), _norm_words(text_col).alias("_ws"),
        F.rand(0).alias("_bar"))
    lens = staged.select("_id", F.size("_ws").alias("dl"))
    # the filtered term stream is tiny (query-term matches only) and
    # feeds two aggregates — cache it so the corpus tokenize+explode
    # runs once, not per consumer (the lazy-reuse re-scan trap)
    stream = staged.select("_id", F.explode("_ws").alias("term")).where(
        F.col("term").isin(terms))
    if cache:
        # NOTE: pinned until unpersist/clearCache — pass cache=False in
        # long-lived sessions that call this repeatedly (costs one extra
        # corpus scan instead)
        stream = stream.cache()
    tf = stream.groupBy("_id").agg(*[
        F.sum(F.when(F.col("term") == t, 1).otherwise(0)).alias(f"_tf{i}")
        for i, t in enumerate(terms)])
    dfs = stream.select("_id", "term").distinct().agg(*[
        F.coalesce(F.sum(F.when(F.col("term") == t, 1)), F.lit(0))
        .alias(f"_df{i}") for i, t in enumerate(terms)])
    # N and sum(dl) in ONE pass over the doc-length frame (every doc has
    # a lens row, so count(lens) == count(docs))
    stats = lens.agg(F.count(F.lit(1)).alias("_n"),
                     F.sum("dl").alias("_sumdl"))
    scored = (
        tf.join(lens, "_id")
        .crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(dfs))
    )
    avgdl = F.col("_sumdl").cast("double") / F.col("_n").cast("double")
    norm = F.lit(1.0) - F.lit(b) + F.lit(b) * (
        F.col("dl").cast("double") / avgdl)
    score = None
    for i in range(len(terms)):
        tf_i = F.col(f"_tf{i}").cast("double")
        idf_i = F.log(
            F.lit(1.0)
            + (F.col("_n").cast("double") - F.col(f"_df{i}") + F.lit(0.5))
            / (F.col(f"_df{i}") + F.lit(0.5)))
        s_i = idf_i * tf_i * F.lit(k1 + 1.0) / (tf_i + F.lit(k1) * norm)
        score = s_i if score is None else score + s_i
    n_hit = None
    for i in range(len(terms)):
        h_i = (F.col(f"_tf{i}") > 0).cast("int")
        n_hit = h_i if n_hit is None else n_hit + h_i
    return (
        scored.select(
            F.col("_id").alias(id_col), "dl",
            n_hit.alias("n_hit_terms"),
            F.round(score, round_dp).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
        .select(
            id_col, "dl", "n_hit_terms", "score",
            F.row_number().over(
                Window.orderBy(F.desc("score"), F.asc(id_col))
            ).alias("rank"),
        )
    )


def top_ngrams(docs: DataFrame, n_words: int = 2, k: int = 20,
               text_col: str = "text") -> DataFrame:
    """Corpus-level top-k word n-grams: (gram, cnt), deterministic order
    (cnt desc, gram asc).  explode -> partial-agg groupBy -> ordered
    limit; Catalyst compiles the tail to TakeOrderedAndProject, so no
    executor ever holds more than k rows post-aggregation and there is
    no global sort — the canonical corpus-vocabulary census at scale."""
    grams = _staged_words(docs, text_col).select(
        F.explode(_gram_array(F.col("_ws"), n_words)).alias("gram"))
    return (
        grams.groupBy("gram").agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("gram"))
        .limit(k)
    )


def chunk_documents(
    docs: DataFrame,
    chunk_size: int = 256,
    stride: int = 192,
    min_tokens: int = 32,
    key_cols: list[str] = ("doc_id",),
    text_col: str = "text",
) -> DataFrame:
    """Sliding-window document chunking for training/RAG pipelines:
    split each doc's whitespace token stream into windows of
    `chunk_size` tokens starting every `stride` tokens (overlap =
    chunk_size - stride).

    Contract: chunk c covers word positions [c*stride,
    c*stride + chunk_size) clipped to the doc.  A non-first chunk is
    kept only if it has >= `min_tokens` tokens AND extends past the
    previous chunk's coverage (strictly more than chunk_size - stride
    tokens — a fully-contained tail adds no new text).  The first chunk
    is always kept; docs whose trimmed text is empty produce no rows.

    Output: key cols + chunk_id, start_word, n_tokens, chunk_text
    (space-rejoined window).

    Scale shape: map-only — one split per doc behind a projection-
    collapse barrier (_staged_words), one explode with O(n_words /
    stride) fan-out, slice/concat inside codegen.  No shuffle at all.
    """
    if not 0 < stride <= chunk_size:
        raise ValueError(
            f"chunk_documents: need 0 < stride <= chunk_size, got "
            f"stride={stride} chunk_size={chunk_size}")
    if not 1 <= min_tokens <= chunk_size:
        raise ValueError(
            f"chunk_documents: need 1 <= min_tokens <= chunk_size, "
            f"got {min_tokens}")
    staged = _staged_words(
        docs.where(F.length(F.trim(F.col(text_col))) > 0), text_col)
    n = F.size("_ws")
    ex = staged.select(
        *key_cols, F.col("_ws"), n.alias("_n"),
        F.explode(F.sequence(
            F.lit(0), F.floor((n - 1) / stride).cast("long"))).alias("_c"),
    )
    s = F.col("_c") * stride
    size = F.least(F.lit(chunk_size), F.col("_n") - s)
    keep = (F.col("_c") == 0) | (
        (size >= min_tokens) & (size > chunk_size - stride))
    return ex.where(keep).select(
        *key_cols,
        F.col("_c").alias("chunk_id"),
        s.cast("long").alias("start_word"),
        size.cast("long").alias("n_tokens"),
        F.concat_ws(" ", F.slice(
            "_ws", (s + 1).cast("int"), F.lit(chunk_size))
        ).alias("chunk_text"),
    )


def build_vocab(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 1,
) -> DataFrame:
    """Frequency-ranked vocabulary over the whitespace token stream:
    (word, cnt, id) with dense 0-based ids ordered by (cnt desc, word
    asc), keeping words with cnt >= min_count.  Docs whose trimmed
    text is empty are excluded (their split would otherwise contribute
    a spurious empty-string token).

    The dense rank is computed WITHOUT a global single-partition sort
    over the vocabulary: per-word row_number partitions by cnt (fully
    parallel), and the per-cnt base offset is a running sum over the
    count-of-counts frame — #distinct frequencies rows, thousands at
    most even for web-scale corpora (Zipf), so its single-partition
    window is a non-issue.
    """
    from pyspark.sql import Window

    counts = (
        _staged_words(
            docs.where(F.length(F.trim(F.col(text_col))) > 0), text_col)
        .select(F.explode("_ws").alias("word"))
        .groupBy("word").agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") >= min_count)
    )
    cc = counts.groupBy("cnt").agg(F.count("*").alias("_nw"))
    w_off = (Window.orderBy(F.desc("cnt"))
             .rowsBetween(Window.unboundedPreceding, -1))
    offsets = cc.select(
        "cnt", F.coalesce(F.sum("_nw").over(w_off), F.lit(0)).alias("_off"))
    w_in = Window.partitionBy("cnt").orderBy(F.asc("word"))
    return (
        counts.join(F.broadcast(offsets), "cnt")
        .select("word", "cnt",
                (F.col("_off") + F.row_number().over(w_in) - 1)
                .cast("long").alias("id"))
    )


def dict_encode(
    docs: DataFrame,
    vocab: DataFrame | None = None,
    key_cols: list[str] = ("doc_id",),
    text_col: str = "text",
    min_count: int = 1,
) -> DataFrame:
    """Dictionary-encode each doc's whitespace token stream against a
    frequency-ranked vocabulary (build_vocab): out-of-vocabulary words
    (below min_count, or absent from a supplied `vocab`) encode as -1.
    Docs whose trimmed text is empty produce no rows.

    Output: key cols + n_tokens, ids (array<long> in document order).

    Scale shape: posexplode -> equi-join on word (AQE picks broadcast
    when the vocab fits, sort-merge otherwise; hot-word skew is benign
    because the vocab side has one row per word) -> one groupBy per doc
    re-assembling order via array_sort over (pos, id) structs.  The
    collected array is bounded by doc length — the same per-row bound
    as the input text itself.
    """
    if vocab is None:
        vocab = build_vocab(docs, text_col=text_col, min_count=min_count)
    src = docs.where(F.length(F.trim(F.col(text_col))) > 0)
    toks = _staged_words(src, text_col).select(
        *key_cols, F.posexplode("_ws").alias("pos", "word"))
    enc = (
        toks.join(vocab.select("word", "id"), "word", "left")
        .select(*key_cols, "pos",
                F.coalesce("id", F.lit(-1)).alias("_id"))
    )
    return (
        enc.groupBy(*key_cols)
        .agg(F.count("*").alias("n_tokens"),
             F.array_sort(F.collect_list(
                 F.struct("pos", "_id"))).alias("_pairs"))
        .select(*key_cols, "n_tokens",
                F.transform("_pairs", lambda x: x["_id"]).alias("ids"))
    )


def logodds_score(
    docs: DataFrame,
    target,
    text_col: str = "text",
    alpha: float = 1.0,
    round_dp: int = 6,
) -> DataFrame:
    """CCNet/fastText-style corpus quality scoring with a NB log-odds
    model learned from the corpus itself: per-word Laplace-smoothed
    log-odds between the ``target`` subcorpus (a boolean Column
    predicate over the doc frame — e.g. a trusted source set) and the
    rest, doc score = mean log-odds over the doc's word OCCURRENCES.
    Positive scores read "looks like the target class" — the standard
    quality-filter signal scored entirely relationally (no model file,
    deterministic, any SQL engine replays it).

    weight(w) = ln((n_t(w)+a) / (T_t+a*V)) - ln((n_r(w)+a) / (T_r+a*V))
    with class occurrence counts n, class totals T, vocab size V and
    Laplace alpha.  Output: (doc_id, n_words, score) for every input
    doc; empty/whitespace-only docs keep n_words=0, score=0.0.

    Scale shape: the exploded word stream feeds a (word x class) count
    aggregate (one equi-keyed exchange, partial agg) whose result is
    the weights table; scoring equi-joins words to weights on the word
    key (the weights side is vocab-sized — usually broadcastable, but
    the join stays a plain equi-join so AQE picks the strategy and a
    10^8-word web vocab still works), then one per-doc aggregate.  Sum
    rounds to `round_dp` (the float-sum association grid, same recipe
    as tf-idf / the bigram LM)."""
    staged = _staged_words(
        docs.where(F.col(text_col).rlike(_HAS_INK))
        .withColumn("_is_t", target), text_col)
    words = staged.select(
        "doc_id", F.col("_is_t").alias("is_t"),
        F.explode("_ws").alias("w"))
    cnt = (
        words.groupBy("w")
        .agg(F.sum(F.col("is_t").cast("long")).alias("nt"),
             F.sum((~F.col("is_t")).cast("long")).alias("nr"))
    )
    tot = cnt.agg(
        F.sum("nt").alias("tt"), F.sum("nr").alias("tr"),
        F.count(F.lit(1)).alias("v"))
    weights = cnt.crossJoin(F.broadcast(tot)).select(
        "w",
        (F.log((F.col("nt") + F.lit(alpha))
               / (F.col("tt") + F.lit(alpha) * F.col("v")))
         - F.log((F.col("nr") + F.lit(alpha))
                 / (F.col("tr") + F.lit(alpha) * F.col("v"))))
        .alias("wt"))
    scored = (
        words.join(weights, "w")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_words"),
             (F.round(F.sum("wt") / F.count(F.lit(1)), round_dp)
              + F.lit(0.0)).alias("score"))
    )
    return docs.select("doc_id").join(scored, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_words", F.lit(0)).alias("n_words"),
        F.coalesce("score", F.lit(0.0)).alias("score"),
    )


# ---------------------------------------------------------------------------
# Gopher quality rules (Rae et al. 2021, "Scaling Language Models", §A1.1)
# ---------------------------------------------------------------------------

GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")

# Bullet glyphs the line-start rule recognizes (the paper's bullet set plus
# the plain ASCII markers real corpora use).
_BULLET_CLASS = r"^[ \t]*[-*•‣▪]"


def gopher_columns(
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stop_hits: int = 2,
    stop_words: tuple[str, ...] = GOPHER_STOPWORDS,
) -> dict[str, Column]:
    """Column builders for the seven Gopher document-quality rules.

    DETERMINISM CONTRACT: every count is an integer computed from
    RE2-safe string ops (the `_WS` class, literal `replace`), and every
    ratio comparison is a single IEEE-double multiply/divide of those
    integers against a double literal — bit-identical in any IEEE
    engine, so a SQL oracle casting its literals to DOUBLE reproduces
    each boolean exactly.  Word-based rules are defined FALSE on docs
    with zero words (the word-count rule already fails them).

    The seven rules (pass = keep):
      1. word count in [min_words, max_words]
      2. mean word length in [min_mean_word_len, max_mean_word_len]
         (mean = non-whitespace chars / words)
      3. '#'-to-word ratio <= max_symbol_word_ratio AND ellipsis
         ('...' or U+2026) to-word ratio <= max_symbol_word_ratio
      4. fraction of lines starting with a bullet < max_bullet_line_frac
      5. fraction of lines ending with an ellipsis
         < max_ellipsis_line_frac
      6. fraction of words containing an alphabetic char
         >= min_alpha_word_frac
      7. at least min_stop_hits DISTINCT stop_words present as exact
         lowercase whitespace-tokens (punctuation-attached words do not
         count — a documented simplification of the paper's tokenizer)
    """
    t = F.col(text_col)
    words = F.split(F.trim(t), _SPLIT_WS)
    n_words = F.when(t.rlike(_HAS_INK), F.size(words)) \
        .otherwise(F.lit(0)).cast("long")
    has_words = n_words > 0
    nonws = F.length(F.regexp_replace(t, _SPLIT_WS, "")).cast("long")
    hash_cnt = (F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
                ).cast("long")
    ell_cnt = (
        (F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))) / 3
        + (F.length(t) - F.length(F.replace(t, F.lit("…"), F.lit(""))))
    ).cast("long")
    lines = F.split(t, "\n")
    n_lines = F.size(lines).cast("long")
    bullet_cnt = F.size(
        F.filter(lines, lambda x: x.rlike(_BULLET_CLASS))).cast("long")
    ell_line_cnt = F.size(F.filter(
        lines,
        lambda x: F.rtrim(x).endswith("...")
        | F.rtrim(x).endswith("…"))).cast("long")
    alpha_cnt = F.size(
        F.filter(words, lambda w: w.rlike("[A-Za-z]"))).cast("long")
    lw = F.transform(words, F.lower)
    stop_hits = None
    for w in stop_words:
        hit = F.array_contains(lw, w).cast("int")
        stop_hits = hit if stop_hits is None else stop_hits + hit
    dbl = F.lit  # double literals; SQL oracles must cast theirs to DOUBLE
    flags = {
        "pass_word_count": (n_words >= min_words) & (n_words <= max_words),
        # greatest(n_words, 1): ANSI mode evaluates the division even
        # when the has_words guard is false — a zero-word doc must not
        # raise DIVIDE_BY_ZERO (the flag is already forced false).
        "pass_mean_word_len": has_words
        & (nonws / F.greatest(n_words, F.lit(1))
           >= dbl(float(min_mean_word_len)))
        & (nonws / F.greatest(n_words, F.lit(1))
           <= dbl(float(max_mean_word_len))),
        "pass_symbol_ratio": has_words
        & (hash_cnt <= dbl(float(max_symbol_word_ratio)) * n_words)
        & (ell_cnt <= dbl(float(max_symbol_word_ratio)) * n_words),
        "pass_bullet_lines":
            bullet_cnt < dbl(float(max_bullet_line_frac)) * n_lines,
        "pass_ellipsis_lines":
            ell_line_cnt < dbl(float(max_ellipsis_line_frac)) * n_lines,
        "pass_alpha_words": has_words
        & (alpha_cnt >= dbl(float(min_alpha_word_frac)) * n_words),
        "pass_stop_words": has_words & (stop_hits >= F.lit(min_stop_hits)),
    }
    n_failed = None
    for c in flags.values():
        miss = (~c).cast("int")
        n_failed = miss if n_failed is None else n_failed + miss
    return {
        "n_words": n_words,
        "n_lines": n_lines,
        **flags,
        "n_rules_failed": n_failed,
        "keep": n_failed == 0,
    }


def gopher_quality(docs: DataFrame, text_col: str = "text",
                   **kwargs) -> DataFrame:
    """Gopher-rules document filter (Rae et al. 2021 §A1.1): the seven
    repetition-independent quality rules as one map-only Catalyst
    projection — (doc_id, n_words, n_lines, seven pass_* booleans,
    n_rules_failed, keep).  Pair with `repetition_signals` for the
    paper's repetition rules.

    Scale shape: zero exchanges — a single whole-stage-codegen'd
    projection over the scan; filters on `keep` push down to the
    parquet scan's row-group pruning like any other predicate.
    """
    cols = gopher_columns(text_col, **kwargs)
    return docs.select(
        "doc_id", *[c.alias(name) for name, c in cols.items()])


def dsir_weights(
    docs: DataFrame,
    target,
    text_col: str = "text",
    n_buckets: int = 16384,
    alpha: float = 1.0,
    round_dp: int = 6,
    gram_hash: str = "xxhash64",
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    via Importance Resampling"): hashed-n-gram bag-of-features unigram
    models for the `target` subcorpus (a boolean Column predicate) vs
    the RAW corpus (all docs — DSIR's raw distribution includes the
    target), doc log-importance = sum over the doc's gram OCCURRENCES of
    ln p_target(bucket) - ln p_raw(bucket).  High logw = "looks like
    the target distribution"; feed the ranked output to per_key_cap /
    split samplers for the resampling step.

    Features: unigrams + bigrams hashed into `n_buckets` buckets
    (pmod of the gram hash) — the fixed feature space is what makes the
    two models comparable and the smoothing denominator a constant:
    p(b) = (count_b + alpha) / (total + alpha * n_buckets).

    gram_hash: "xxhash64" (default — JVM intrinsic, the hot path) or
    "md5" (the h64 prefix — bit-replayable in any SQL oracle, same
    convention as dedup's word_hash).

    Output: (doc_id, n_feats, logw) for every input doc; empty docs
    keep n_feats=0, logw=0.0.  logw rounds to `round_dp` (the float-sum
    association grid, same recipe as logodds_score) and +0.0
    canonicalizes the -0.0 a negative sum rounding to zero would leave.

    Scale shape: identical to logodds_score — one (bucket x class)
    partial-agg'd exchange builds the model (at most `n_buckets` rows —
    always broadcastable, by construction), a broadcast equi-join scores
    the gram stream map-side, one per-doc aggregate.  The gram arrays
    build behind the _staged_words projection barrier (the
    CollapseProject HOF trap)."""
    from ts2g2_spark.functions.hashing import h64

    if gram_hash == "xxhash64":
        hfn = F.xxhash64
    elif gram_hash == "md5":
        hfn = h64
    else:
        raise ValueError(f"dsir_weights: gram_hash must be xxhash64|md5,"
                         f" got {gram_hash}")
    live = docs.where(F.col(text_col).rlike(_HAS_INK)) \
        .withColumn("_is_t", target)
    staged = _staged_words(live, text_col)
    grams = staged.select(
        "doc_id", F.col("_is_t").alias("is_t"),
        F.explode(F.concat(F.col("_ws"), _gram_array(F.col("_ws"), 2)))
        .alias("g"))
    feats = grams.select(
        "doc_id", "is_t",
        F.pmod(hfn(F.col("g")), F.lit(n_buckets)).alias("b"))
    cnt = feats.groupBy("b").agg(
        F.sum(F.col("is_t").cast("long")).alias("ct"),
        F.count(F.lit(1)).alias("cr"))
    tot = cnt.agg(F.sum("ct").alias("tt"), F.sum("cr").alias("tr"))
    a, bn = float(alpha), n_buckets
    weights = cnt.crossJoin(F.broadcast(tot)).select(
        "b",
        (F.log((F.col("ct") + F.lit(a)) / (F.col("tt") + F.lit(a) * bn))
         - F.log((F.col("cr") + F.lit(a))
                 / (F.col("tr") + F.lit(a) * bn))).alias("wt"))
    scored = (
        feats.join(F.broadcast(weights), "b")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_feats"),
             (F.round(F.sum("wt"), round_dp) + F.lit(0.0)).alias("logw"))
    )
    return docs.select("doc_id").join(scored, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_feats", F.lit(0)).alias("n_feats"),
        F.coalesce("logw", F.lit(0.0)).alias("logw"),
    )


def collocations(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 20,
    min_count: int = 3,
    round_dp: int = 6,
) -> DataFrame:
    """Top-k word-pair collocations by pointwise mutual information:
    PMI(a,b) = ln( p(a,b) / (p(a) p(b)) ) over adjacent word pairs,
    the classic collocation extractor (Church & Hanks 1990).  Pairs
    with bigram count < `min_count` are dropped (PMI's low-frequency
    pathology).

    DETERMINISM: the ratio is ONE ln of a fixed-shape double product of
    integer counts — ln((c_ab * nu * nu) / (nb * c_a * c_b)) — so any
    IEEE engine computes the identical double; the output rounds to
    `round_dp` and ranks on the ROUNDED value with an (w1, w2)
    tie-break, so the top-k set is engine-independent.

    Output: (w1, w2, pair_count, pmi), the k highest-PMI pairs.

    Scale shape: two partial-agg'd count aggregates (bigram key, word
    key), two equi-joins of the bigram counts to the word counts (the
    word-count side is vocab-sized; AQE broadcasts when it fits), one
    crossJoin of the 1-row totals, and a final
    TakeOrderedAndProject — no global sort materializes."""
    staged = _staged_words(
        docs.where(F.col(text_col).rlike(_HAS_INK)), text_col)
    pairs = staged.select(
        F.explode(
            F.arrays_zip(
                F.slice("_ws", 1, F.size("_ws") - 1).alias("w1"),
                F.slice("_ws", 2, F.size("_ws") - 1).alias("w2"))
        ).alias("_p")
    ).select(F.col("_p.w1").alias("w1"), F.col("_p.w2").alias("w2"))
    uni = staged.select(F.explode("_ws").alias("w")) \
        .groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    bi = pairs.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("c_ab"))
    tot = uni.agg(F.sum("c").alias("nu")).crossJoin(
        bi.agg(F.sum("c_ab").alias("nb")))
    scored = (
        bi.where(F.col("c_ab") >= min_count)
        .join(uni.withColumnRenamed("w", "w1")
                 .withColumnRenamed("c", "c_a"), "w1")
        .join(uni.withColumnRenamed("w", "w2")
                 .withColumnRenamed("c", "c_b"), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1", "w2", F.col("c_ab").alias("pair_count"),
            F.round(
                F.log((F.col("c_ab").cast("double") * F.col("nu")
                       * F.col("nu"))
                      / (F.col("nb").cast("double") * F.col("c_a")
                         * F.col("c_b"))),
                round_dp).alias("pmi"))
    )
    return scored.orderBy(
        F.col("pmi").desc(), "w1", "w2").limit(k)


# --- unicode normalization (CCNet-style cleanup stage) ---------------------

# C0 controls + DEL, KEEPING the whitespace controls tab/newline/CR (those
# are whitespace, handled by the collapse step) — \f (\x0C) and \x0B are
# stripped as controls.  Explicit ranges: RE2 (DuckDB oracle) has no Java
# char-class intersection syntax.
CONTROL_CHARS_RE = r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]"
_COLLAPSE_WS_RE = "[ \t\n\r]+"


def normalize_unicode(
    docs: DataFrame,
    text_col: str = "text",
    out_col: str = "norm_text",
) -> DataFrame:
    """Canonical text cleanup, the stage every web pipeline runs BEFORE
    dedup/quality so byte-level variants of the same text (decomposed
    accents, stray controls, ragged whitespace) hash identically:

      1. strip C0 control chars + DEL (keeping tab/newline/CR),
      2. Unicode NFC (composed canonical form),
      3. collapse whitespace runs to one space, trim.

    Steps 1 and 3 are Catalyst regexp_replace (codegen'd, map-only).
    NFC has no Spark built-in, so step 2 is the documented slow-path
    exception: an Arrow-batched pandas UDF over pandas
    ``.str.normalize('NFC')`` (stdlib unicodedata) — which agrees with
    DuckDB's utf8proc ``nfc_normalize`` (pyarrow 16's utf8_normalize
    does NOT compose and is deliberately not used; parity verified in
    tests).  Zero shuffles: the whole operator is a projection."""
    # no type-hint form: `from __future__ import annotations` stringifies
    # hints, which pandas_udf's signature inference rejects
    _nfc = F.pandas_udf(lambda s: s.str.normalize("NFC"), "string")

    stripped = F.regexp_replace(F.col(text_col), CONTROL_CHARS_RE, "")
    collapsed = F.trim(
        F.regexp_replace(_nfc(stripped), _COLLAPSE_WS_RE, " "))
    return docs.withColumn(out_col, collapsed)


# --- URL / domain census + blocklist (web-pipeline source hygiene) ---------

# host capture of an http(s) URL: an optional userinfo part
# ("user:pass@") is skipped so "https://foo@evil.com" yields the HOST,
# not the userinfo — otherwise a blocked host is trivially evadable.
# The text is lowercased first, so the class needs no A-Z.  Explicit
# whitespace chars (never \s — Java's also matches \x0B, RE2's does
# not); identical semantics in Java regex and RE2.
# raw string: the \t\n\f\r ESCAPES reach both regex engines (Java and
# RE2 parse them identically), keeping the SQL-interpolated oracle twin
# printable
URL_HOST_RE = r"https?://(?:[^/@ \t\n\f\r]*@)?([a-z0-9.-]+)"


def url_hosts(docs: DataFrame, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """(id, host) — one row per http(s) URL occurrence in each doc
    (host = authority chars up to the first '/', ':' or whitespace).
    Map-only: lower + regexp_extract_all + posexplode stay in codegen."""
    return docs.select(
        F.col(id_col),
        F.explode(F.regexp_extract_all(
            F.lower(F.col(text_col)), F.lit(URL_HOST_RE), F.lit(1))
        ).alias("host"),
    )


def domain_stats(
    docs: DataFrame,
    blocked_hosts: list[str] | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-host URL census over the corpus: (host, n_docs, n_hits,
    blocked) — the diagnostic behind domain-level source filtering
    (spam/SEO blocklists, crawler allow-lists).  One extraction scan,
    one hash agg on host; n_docs is an exact distinct (two-level
    partial agg).  `blocked_hosts` (a small driver-side list by
    contract — blocklists are dimension-sized) marks membership via an
    isin literal, never a join; entries are lowercased on entry to
    match the lowercased extracted hosts (a mixed-case blocklist entry
    would otherwise silently never match)."""
    h = url_hosts(docs, text_col=text_col, id_col=id_col)
    out = h.groupBy("host").agg(
        F.countDistinct(id_col).alias("n_docs"),
        F.count(F.lit(1)).alias("n_hits"),
    )
    blocked = (F.col("host").isin([b.lower() for b in blocked_hosts])
               if blocked_hosts else F.lit(False))
    return out.withColumn("blocked", blocked)


# URL canonicalization contract (crawl-dedup hygiene).  Every regex is a
# module constant so the SQL oracle interpolates the SAME pattern — the
# two engines can't drift (the URL_HOST_RE posture).  All patterns are
# RE2-safe (no backrefs/lookaround) and anchored where order matters.
URL_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.\-]*)://"
URL_USERINFO_RE = r"^[^@/]*@"
URL_TRACKING_PARAM_RE = (
    r"^(?i)(utm_[a-z0-9]+|gclid|fbclid|msclkid|mc_cid|mc_eid|ref|igshid)=")


def canonical_url_columns(url_col: str = "url") -> dict[str, "Column"]:
    """Staged canonicalization columns; `canonical_url` is the result.
    NULL for anything that is not http(s)://... — callers filter.

    Steps (each a codegen string op, map-only, float-free):
      1. trim, strip the #fragment
      2. lowercase the scheme; NULL out non-http(s)
      3. authority: drop userinfo, lowercase, strip the scheme-default
         port (:80 for http, :443 for https)
      4. path: strip trailing slashes
      5. query: drop tracking params (URL_TRACKING_PARAM_RE), SORT the
         survivors (param order never distinguishes resources), drop
         the '?' when none survive
    """
    u = F.regexp_replace(F.trim(F.col(url_col)), "#.*$", "")
    scheme = F.lower(F.regexp_extract(u, URL_SCHEME_RE, 1))
    rest = F.regexp_replace(u, URL_SCHEME_RE, "")
    auth_raw = F.regexp_extract(rest, r"^([^/?#]*)", 1)
    auth = F.lower(F.regexp_replace(auth_raw, URL_USERINFO_RE, ""))
    auth = (
        F.when(scheme == "http", F.regexp_replace(auth, ":80$", ""))
        .when(scheme == "https", F.regexp_replace(auth, ":443$", ""))
        .otherwise(auth)
    )
    path_q = F.substr(rest, F.length(auth_raw) + F.lit(1))
    path = F.regexp_replace(
        F.regexp_extract(path_q, r"^([^?]*)", 1), "/+$", "")
    query = F.regexp_extract(path_q, r"^[^?]*\?(.*)$", 1)
    kept = F.array_sort(F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~p.rlike(URL_TRACKING_PARAM_RE),
    ))
    qcanon = F.when(
        F.size(kept) > 0, F.concat(F.lit("?"), F.array_join(kept, "&")),
    ).otherwise(F.lit(""))
    canonical = F.when(
        scheme.isin("http", "https"),
        F.concat(scheme, F.lit("://"), auth, path, qcanon),
    )
    return {"canonical_url": canonical}


def canonicalize_urls(
    df: DataFrame, url_col: str = "url",
) -> DataFrame:
    """Append `canonical_url` (see canonical_url_columns) — map-only,
    zero exchanges; NULL where `url_col` is not an http(s) URL."""
    return df.withColumn(
        "canonical_url", canonical_url_columns(url_col)["canonical_url"])


def url_dedup(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """Canonical-URL exact dedup, the first pass of every crawl
    pipeline (the same page is fetched as http/HTTPS, with and without
    :80/:443, fragments, trailing slashes, reordered or tracking-laden
    query strings): (canonical_url, n_docs, survivor_id = min id).
    Non-URL rows (NULL canonical) are dropped.  One hash aggregate on
    the canonical string — map-side combine bounds the exchange at one
    row per (partition, canonical); no window, no join, scale-safe at
    any corpus size."""
    return (
        canonicalize_urls(df, url_col)
        .where(F.col("canonical_url").isNotNull())
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("survivor_id"),
        )
    )


def span_corruption(
    docs: DataFrame,
    span_every: int = 7,
    max_span: int = 3,
    key_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "sc",
) -> DataFrame:
    """T5-style span-corruption denoising pairs (Raffel et al. 2020),
    RNG-free: every masking decision is md5-h64-derived from
    (salt, doc, position), so the SAME (input, target) pair comes out
    of any engine, any partitioning, any rerun — the property that
    makes a 100 TB pretraining corpus reproducible and resumable.

    Contract over the whitespace token stream (the chunk_documents
    split): position p STARTS a span iff h64('{salt}:'||id||':'||p) %
    span_every == 0, with length 1 + h64('{salt}l:'||id||':'||p) %
    max_span; overlapping/adjacent spans merge.  input_text replaces
    each merged span with one sentinel '<extra_id_k>' (k = span index
    in document order); target_text is the T5 decoder string: each
    sentinel followed by the tokens it hides.  Expected mask rate ~
    (max_span+1) / (2 * span_every).

    Output: (key_col, n_tokens, n_spans, n_masked, input_text,
    target_text).  Docs whose trimmed text is empty produce no rows.

    Scale shape: map-only split/explode, then ONE window partitioned by
    doc (the masked flag needs max_span-1 lags — spans never cross
    docs, so per-partition state is one doc's tokens) and one hash agg
    on the same key; the sorted-collect rebuild is bounded by doc
    length.  No joins, no floats anywhere — pure integer/string ops,
    which is why the oracle replays it exactly."""
    from pyspark.sql.window import Window

    from ts2g2_spark.functions.hashing import h64

    if span_every < 2 or not 1 <= max_span <= 16:
        raise ValueError(
            f"span_corruption: need span_every >= 2 and 1 <= max_span "
            f"<= 16, got {span_every=} {max_span=}")
    staged = _staged_words(
        docs.where(F.length(F.trim(F.col(text_col))) > 0), text_col)
    tok = staged.select(
        key_col, F.posexplode("_ws").alias("pos", "w"))
    kid = F.col(key_col).cast("string")
    pid = F.col("pos").cast("string")
    tok = tok.select(
        key_col, "pos", "w",
        (F.pmod(h64(F.concat_ws(":", F.lit(salt), kid, pid)),
                F.lit(span_every)) == 0).alias("is_start"),
        (F.lit(1) + F.pmod(
            h64(F.concat_ws(":", F.lit(salt + "l"), kid, pid)),
            F.lit(max_span))).alias("slen"),
    )
    w = Window.partitionBy(key_col).orderBy("pos")
    masked = F.col("is_start")
    for j in range(1, max_span):
        masked = masked | (
            F.coalesce(F.lag("is_start", j).over(w), F.lit(False))
            & (F.coalesce(F.lag("slen", j).over(w), F.lit(0)) > j))
    t = tok.withColumn("masked", masked)
    t = t.withColumn(
        "island_start",
        F.col("masked")
        & ~F.coalesce(F.lag("masked").over(w), F.lit(False)))
    t = t.withColumn(
        "sent_k",
        F.sum(F.col("island_start").cast("long")).over(
            w.rowsBetween(Window.unboundedPreceding, 0)) - 1)
    sentinel = F.concat(
        F.lit("<extra_id_"), F.col("sent_k").cast("string"), F.lit(">"))
    input_piece = (
        F.when(~F.col("masked"), F.col("w"))
        .when(F.col("island_start"), sentinel))
    # target pieces: sentinel sorts before the first hidden word at the
    # same pos via the sub field (struct sort is field-order lexicographic)
    tgt_pair = F.filter(
        F.array(
            F.struct(F.col("pos"), F.lit(0).alias("sub"),
                     F.when(F.col("island_start"), sentinel).alias("p")),
            F.struct(F.col("pos"), F.lit(1).alias("sub"),
                     F.when(F.col("masked"), F.col("w")).alias("p")),
        ),
        lambda s: s["p"].isNotNull(),
    )
    return t.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.col("island_start").cast("long")).alias("n_spans"),
        F.sum(F.col("masked").cast("long")).alias("n_masked"),
        F.array_join(F.transform(
            F.array_sort(F.collect_list(
                F.when(input_piece.isNotNull(),
                       F.struct(F.col("pos"),
                                input_piece.alias("p"))))),
            lambda s: s["p"]), " ").alias("input_text"),
        F.array_join(F.transform(
            F.array_sort(F.flatten(F.collect_list(tgt_pair))),
            lambda s: s["p"]), " ").alias("target_text"),
    )


def vocab_coverage(
    docs: DataFrame,
    vocab_size: int,
    text_col: str = "text",
    group_cols: tuple[str, ...] = ("source",),
    round_dp: int = 6,
) -> DataFrame:
    """Vocabulary-coverage / OOV report: rank the corpus vocabulary by
    frequency (build_vocab's (cnt desc, word asc) dense ids — no global
    sort), keep the top `vocab_size` words, and measure per group what
    a tokenizer with that closed vocabulary would miss: n_tokens,
    n_oov_tokens, n_distinct_words, n_distinct_oov, and
    oov_rate = n_oov_tokens / n_tokens.  The report that sizes a
    vocabulary before committing to it — the flat tail of
    oov_rate(vocab_size) is where the next thousand entries stop
    paying.

    Scale shape: the vocabulary is dimension-sized by contract and
    BROADCAST onto the token stream (a left join at scan parallelism,
    the big side never shuffles for membership); the per-group stats
    are one hash aggregate (the two exact distincts add one expand
    exchange, still keyed on (group, word), never raw rows x columns).
    Counts are exact integers, oov_rate one rounded IEEE division."""
    if vocab_size < 1:
        raise ValueError(
            f"vocab_coverage: need vocab_size >= 1, got {vocab_size=}")
    vocab = (
        build_vocab(docs, text_col)
        .where(F.col("id") < vocab_size)
        .select("word", F.lit(1).alias("_in"))
    )
    words = (
        _staged_words(
            docs.where(F.length(F.trim(F.col(text_col))) > 0), text_col)
        .select(*[F.col(c) for c in group_cols],
                F.explode("_ws").alias("word"))
    )
    j = words.join(F.broadcast(vocab), "word", "left")
    oov = F.col("_in").isNull()
    agg = j.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(oov.cast("long")).alias("n_oov_tokens"),
        F.countDistinct("word").alias("n_distinct_words"),
        F.countDistinct(F.when(oov, F.col("word")))
        .alias("n_distinct_oov"),
    )
    return agg.select(
        *group_cols, "n_tokens", "n_oov_tokens", "n_distinct_words",
        "n_distinct_oov",
        F.when(F.col("n_tokens") > 0,
               F.round(F.col("n_oov_tokens").cast("double")
                       / F.col("n_tokens"), round_dp))
        .alias("oov_rate"),
    )
