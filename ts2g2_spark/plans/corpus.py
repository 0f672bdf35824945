"""End-to-end training-corpus build pipeline with checkpoint/resume.

The corpus-side twin of plans/pipeline.RollupPipeline — the stage DAG a
100 TB training-data build actually runs, composed from the operator
families (text / dedup / sampling), each stage committed + lineage'd
before the next:

  documents (doc_id, text, lang, source)
    -> clean          [exact-dedup survivors + quality/lang/repetition
                       gates in ONE projection pass]
    -> decontaminated [drop docs overlapping the deterministic eval
                       split above a 3-gram contamination threshold;
                       the eval split itself never enters the corpus]
    -> near_dedup     [MinHash -> LSH bands -> exact-Jaccard verify ->
                       connected components -> keep component min]
    -> splits         [deterministic train/val assignment]
    -> packed         [token-budget sequence-packing plan on train]

Every gate writes its per-stage doc counts into the lineage table, so a
dataset card ("started with N, quality dropped X, dedup dropped Y...")
is one lineage query.  Resume semantics are inherited: re-submitting a
killed job skips committed stages by input fingerprint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ts2g2_spark.operators import dedup
from ts2g2_spark.operators import sampling
from ts2g2_spark.operators import text as text_ops
from ts2g2_spark.plans.lineage import read_lineage
from ts2g2_spark.plans.pipeline import StagedPipeline, _fingerprint


def quality_gate(
    docs: DataFrame,
    min_words: int = 20,
    max_mean_word_len: float = 12.0,
    lang: str = "en",
    max_dup_2gram_frac: float | None = None,
) -> DataFrame:
    """The STATELESS half of corpus cleaning: quality + language (+
    optional repetition) gates as ONE projection pass — no joins, no
    state, so the identical expression tree would run on a batch frame
    or a readStream alike.  Deriving gates as separate
    frames and joining back re-expands the scan subtree once per join
    (the audited anti-pattern: 25 exchanges in the first cut of
    datamix_report)."""
    qc = text_ops.quality_columns("text")
    lc = text_ops.lang_columns("text")
    tc = text_ops.token_count_columns("text")
    gate_cols = [
        qc["n_words"].alias("n_words"),
        qc["mean_word_len"].alias("mean_word_len"),
        lc["lang_pred"].alias("lang_pred"),
        tc["n_ws_tokens"].alias("n_ws_tokens"),
    ]
    base_gate = (
        (F.col("n_words") >= min_words)
        & (F.col("mean_word_len") < max_mean_word_len)
        & (F.col("lang_pred") == lang)
    )
    if max_dup_2gram_frac is None:
        return docs.select("*", *gate_cols).where(base_gate)
    staged = text_ops._staged_words(docs, "text")
    rep = text_ops.repetition_columns("_ws", pre_split=True)
    return (
        staged.select(
            "*", *gate_cols,
            rep["dup_2gram_frac"].alias("dup_2gram_frac"),
            rep["dup_3gram_frac"].alias("dup_3gram_frac"))
        .where(base_gate
               & (F.col("dup_2gram_frac") <= max_dup_2gram_frac))
        .drop("_ws", "_bar")
    )


def clean_corpus(
    docs: DataFrame,
    min_words: int = 20,
    max_mean_word_len: float = 12.0,
    lang: str = "en",
    max_dup_2gram_frac: float | None = None,
) -> DataFrame:
    """The standard cleaning composite: exact-dedup survivors (keep min
    doc_id) -> quality_gate, in one pass over the survivors.

    ONE implementation shared by the oracled `corpus_clean` contract
    query (max_dup_2gram_frac=None — its DuckDB oracle has no
    repetition gate) and CorpusPipeline's clean stage, so the two can
    never drift.  Join strategies are left to AQE: the dup-group and
    loser sides are usually tiny but corpus-proportional in the worst
    case, so no forced broadcast."""
    dups = dedup.exact_duplicates(docs)
    losers = (
        docs.select("doc_id", F.md5("text").alias("content_hash"))
        .join(dups, "content_hash")
        .where(F.col("doc_id") != F.col("keep_id"))
        .select("doc_id")
    )
    survivors = docs.join(losers, "doc_id", "left_anti")
    return quality_gate(survivors, min_words, max_mean_word_len, lang,
                        max_dup_2gram_frac)


class CorpusPipeline(StagedPipeline):
    def __init__(
        self,
        spark: SparkSession,
        catalog_root: str,
        run_id: str | None = None,
        # clean-stage policy (matches the oracled corpus_clean query
        # defaults, plus the repetition gates)
        min_words: int = 20,
        max_mean_word_len: float = 12.0,
        lang: str = "en",
        max_dup_2gram_frac: float = 0.5,
        # decontamination
        bench_fraction: float = 0.05,
        bench_salt: str = "bench",
        contamination_max: float = 0.5,
        contamination_ngram: int = 3,
        # near-dedup
        n_hashes: int = 64,
        lsh_bands: int = 8,
        shingle_words: int = 3,
        jaccard_threshold: float = 0.85,
        # splits + packing
        val_fraction: float = 0.1,
        pack_budget: int = 2048,
        pack_buckets: int = 64,
    ):
        super().__init__(spark, catalog_root, run_id)
        self.min_words = min_words
        self.max_mean_word_len = max_mean_word_len
        self.lang = lang
        self.max_dup_2gram_frac = max_dup_2gram_frac
        self.bench_fraction = bench_fraction
        self.bench_salt = bench_salt
        self.contamination_max = contamination_max
        self.contamination_ngram = contamination_ngram
        self.n_hashes = n_hashes
        self.lsh_bands = lsh_bands
        self.shingle_words = shingle_words
        self.jaccard_threshold = jaccard_threshold
        self.val_fraction = val_fraction
        self.pack_budget = pack_budget
        self.pack_buckets = pack_buckets

    # -- stage builders (lazy frames; _run_stage materializes) --------

    def _clean(self, docs: DataFrame) -> DataFrame:
        return clean_corpus(
            docs, min_words=self.min_words,
            max_mean_word_len=self.max_mean_word_len, lang=self.lang,
            max_dup_2gram_frac=self.max_dup_2gram_frac)

    def _decontaminate(self, docs: DataFrame,
                       clean: DataFrame) -> DataFrame:
        """Drop the eval split itself AND training docs whose distinct
        n-gram overlap with it exceeds contamination_max.

        The BENCH gram set comes from the RAW corpus: an eval doc the
        quality gates would discard still poisons a training doc that
        copies it (bench-side gating would silently re-open the exact
        leak this stage closes).  The TRAIN side is scored over `clean`
        only — shingling raw docs the gates already dropped would be
        pure waste at scale."""
        report = dedup.contamination_report(
            clean, n_words=self.contamination_ngram,
            bench_fraction=self.bench_fraction, salt=self.bench_salt,
            bench_source=docs)
        tainted = report.where(
            F.col("contamination") > self.contamination_max
        ).select("doc_id")
        is_bench = sampling.hash_partition_pred(
            "doc_id", self.bench_fraction, self.bench_salt)
        # tainted is corpus-proportional in the worst case — no forced
        # broadcast, AQE picks the strategy from its measured size
        return clean.where(~is_bench).join(tainted, "doc_id", "left_anti")

    def _near_dedup(self, decon: DataFrame) -> DataFrame:
        """LSH candidates -> exact-Jaccard verify -> components ->
        keep the min doc of each duplicate group.  ONE cached shingle
        frame feeds both the signature build and the Jaccard verify
        (the shingle projection is the dominant cost at scale);
        connected_components is eager, so the cache is released before
        the stage output is written."""
        sh = dedup.shingles_hashed(
            decon, n_words=self.shingle_words).cache()
        try:
            sigs = dedup.minhash_signatures(
                decon, n_words=self.shingle_words,
                n_hashes=self.n_hashes, shingle_frame=sh)
            cands = dedup.lsh_candidate_pairs(
                sigs, bands=self.lsh_bands, n_hashes=self.n_hashes)
            pairs = dedup.ngram_jaccard_pairs(
                decon, n_words=self.shingle_words,
                threshold=self.jaccard_threshold, candidates=cands,
                shingle_frame=sh)
            comps = dedup.connected_components(
                pairs.select("doc_a", "doc_b"))
        finally:
            sh.unpersist()
        near_losers = comps.where(
            F.col("doc_id") != F.col("component")).select("doc_id")
        return decon.join(near_losers, "doc_id", "left_anti")

    def run(self, docs: DataFrame, input_desc: str,
            stop_after: str | None = None) -> dict[str, DataFrame]:
        fp = _fingerprint(
            f"{input_desc}|mw={self.min_words}|mwl={self.max_mean_word_len}"
            f"|lang={self.lang}|d2={self.max_dup_2gram_frac}"
            f"|bf={self.bench_fraction}:{self.bench_salt}"
            f"|cmax={self.contamination_max}:{self.contamination_ngram}"
            f"|mh={self.n_hashes}:{self.lsh_bands}:{self.shingle_words}"
            f"|j={self.jaccard_threshold}|val={self.val_fraction}"
            f"|pack={self.pack_budget}:{self.pack_buckets}")
        out: dict[str, DataFrame] = {}

        out["clean"] = self._run_stage(
            "clean", fp, lambda: self._clean(docs))
        if stop_after == "clean":
            return out
        out["decontaminated"] = self._run_stage(
            "decontaminated", fp,
            lambda: self._decontaminate(docs, out["clean"]))
        if stop_after == "decontaminated":
            return out
        out["near_dedup"] = self._run_stage(
            "near_dedup", fp,
            lambda: self._near_dedup(out["decontaminated"]))
        if stop_after == "near_dedup":
            return out
        out["splits"] = self._run_stage(
            "splits", fp,
            lambda: sampling.split_assignment(
                out["near_dedup"], self.val_fraction))
        if stop_after == "splits":
            return out
        out["packed"] = self._run_stage(
            "packed", fp,
            lambda: sampling.pack_sequences(
                out["splits"].where(F.col("split") == "train"),
                budget=self.pack_budget, n_buckets=self.pack_buckets))
        out["lineage"] = read_lineage(self.spark,
                                      self.cat.table_path("lineage"))
        return out

    def datamix(self) -> DataFrame:
        """Dataset-card aggregate over the final train/val corpus: docs
        + whitespace tokens per (source, lang_pred, split)."""
        return (
            self.cat.read("splits")
            .groupBy("source", "lang_pred", "split")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_ws_tokens").alias("total_tokens"))
        )
