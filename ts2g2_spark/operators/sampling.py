"""Deterministic sampling and splitting for training-data pipelines.

RNG-free by design: membership = h64(salt + ":" + key) mod 1e6 <
fraction * 1e6.  This is what a 100 TB pipeline actually wants:
  * stable under retries, partition changes, and cluster resizes
    (`rand()`-based sampling is none of these — a re-executed task
    resamples);
  * reproducible in any engine with md5 (so the driver's DuckDB oracle
    replays the exact membership);
  * composable — the same (salt, key) always lands in the same bucket,
    so a doc's train/val assignment survives pipeline re-runs and
    incremental ingestion.
All expressions are JVM-side Catalyst (md5 + conv + pmod); the sample
predicate sits directly above the scan, so column pruning and filter
pipelining apply.

The trade vs `df.sample()`: the realized fraction is exact only in
expectation (hash buckets, not a countdown), +-O(1/sqrt(n)) — the same
property rand() sampling has, without its instability.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ts2g2_spark.functions.hashing import h64

_M = 1_000_000


def _thr(fraction: float) -> int:
    """fraction -> bucket threshold.  round(), not int(): truncation
    makes fractions whose float product lands just below an integer
    (0.29 * 1e6 = 289999.99999999994) one bucket stingier than the
    literal `fraction * 1e6` constant a hand-written SQL oracle uses —
    the engine and any literal-constant oracle must agree for ALL
    fractions, not just ones that multiply exactly."""
    return int(round(fraction * _M))


def _bucket(key_col: str, salt: str) -> F.Column:
    return F.pmod(
        h64(F.concat_ws(":", F.lit(salt), F.col(key_col).cast("string"))),
        F.lit(_M),
    )


def hash_sample(
    df: DataFrame, fraction: float, key_col: str = "doc_id",
    salt: str = "sample",
) -> DataFrame:
    """Deterministic `fraction` sample keyed on key_col."""
    return df.where(_bucket(key_col, salt) < _thr(fraction))


def stratified_hash_sample(
    df: DataFrame,
    fractions: dict[str, float],
    strata_col: str,
    key_col: str = "doc_id",
    salt: str = "sample",
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. per-language or
    per-source mixing weights for a training datamix).  Strata absent
    from `fractions` get default_fraction."""
    thr = F.lit(_thr(default_fraction))
    for stratum, frac in sorted(fractions.items()):
        thr = F.when(
            F.col(strata_col) == stratum, F.lit(_thr(frac))
        ).otherwise(thr)
    return df.where(_bucket(key_col, salt) < thr)


def split_assignment(
    df: DataFrame,
    val_fraction: float,
    key_col: str = "doc_id",
    salt: str = "split",
) -> DataFrame:
    """Adds a `split` column ('val' iff the key's bucket falls under
    val_fraction, else 'train') — the assignment is a pure function of
    (salt, key), so it is stable across runs and incremental loads."""
    return df.withColumn(
        "split",
        F.when(_bucket(key_col, salt) < _thr(val_fraction),
               F.lit("val")).otherwise(F.lit("train")),
    )


def datamix_rebalance(
    docs: DataFrame,
    targets: dict[str, float],
    strata_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Solve the per-source sampling fractions that realize a target
    token mix: given target shares (source -> weight), the largest
    total token budget T keeps every source within its supply
    (T = min_s tokens_s / share_s, shares normalized), and
    fraction_s = T * share_s / tokens_s.  Sources absent from
    `targets` get share 0 (dropped).

    Output (source, n_docs, tokens, share, fraction) — the mixing plan
    a dataset card records.  The only wide op is the per-source
    aggregate (partial-agg'd); the min-over-sources window runs on the
    #sources-row result, single-partition BY CONTRACT (a corpus has
    thousands of sources, not billions)."""
    from pyspark.sql import Window

    from ts2g2_spark.operators.text import token_count_columns

    total = sum(targets.values())
    # share references the post-alias "source" column — the aggregate
    # frame no longer carries strata_col under its original name
    share = F.lit(0.0)
    for s, w in sorted(targets.items()):
        share = F.when(F.col("source") == s,
                       F.lit(w / total)).otherwise(share)
    toks = token_count_columns(text_col)["n_ws_tokens"]
    per_src = (
        docs.select(F.col(strata_col).alias("source"), toks.alias("t"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("t").alias("tokens"))
        .select("*", share.alias("share"))
    )
    w_all = Window.rowsBetween(Window.unboundedPreceding,
                               Window.unboundedFollowing)
    budget = F.min(
        F.when(F.col("share") > 0, F.col("tokens") / F.col("share"))
    ).over(w_all)
    return per_src.select(
        "source", "n_docs", "tokens",
        F.round("share", 9).alias("share"),
        F.when(F.col("share") > 0,
               F.round(budget * F.col("share") / F.col("tokens"), 9))
        .otherwise(F.lit(0.0)).alias("fraction"),
    )


def datamix_apply(
    docs: DataFrame,
    targets: dict[str, float],
    strata_col: str = "source",
    text_col: str = "text",
    key_col: str = "doc_id",
    salt: str = "datamix",
) -> DataFrame:
    """Apply the rebalancing plan: deterministic hash-bucket membership
    per doc under its source's solved fraction (same md5 bucketing as
    every sampler here — stable under retries/resizes and replayable by
    a SQL oracle).  The plan side is #sources rows — broadcast join
    against the corpus."""
    plan = datamix_rebalance(docs, targets, strata_col, text_col)
    thr = F.round(F.col("fraction") * _M).cast("long")
    return (
        docs.join(
            F.broadcast(plan.select(
                F.col("source").alias(strata_col), thr.alias("_thr"))),
            strata_col)
        .where(_bucket(key_col, salt) < F.col("_thr"))
        .select(key_col, strata_col)
    )


def hash_partition_pred(key_col: str, fraction: float,
                        salt: str) -> F.Column:
    """The membership predicate itself (bucket < round(fraction*1e6)) —
    exposed so two sides of a pipeline (e.g. benchmark vs train in a
    decontamination pass) can split on the EXACT same deterministic
    boundary and stay provably disjoint."""
    return _bucket(key_col, salt) < F.lit(_thr(fraction))


def pack_sequences(
    docs: DataFrame,
    budget: int = 512,
    n_buckets: int = 8,
    key_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "pack",
) -> DataFrame:
    """Token-budget sequence-packing PLAN for training-data assembly:
    assigns every doc a (bucket, seq_id, seq_offset) so a writer can
    stream docs into fixed-`budget` training sequences without a global
    sort.

    Semantics (deterministic, engine-reproducible): docs are hash-routed
    to `n_buckets` independent packing lanes (same md5 bucketing as the
    samplers — stable under retries/resizes); within a lane docs pack in
    `key_col` order by exclusive cumulative token count, and a doc
    belongs to the sequence containing its FIRST token (long docs may
    straddle a boundary — the writer splits, the plan stays 1 row/doc).

    Scale: the only shuffle is the hash partition by `bucket`; each
    lane's running sum is a window inside its own partition, so lanes
    pack in parallel.  At 100 TB you raise n_buckets to ~cores so every
    lane's cumsum stays a single-executor stream — packing is inherently
    sequential per lane, and the lane count IS the parallelism knob.
    """
    from pyspark.sql import Window

    from ts2g2_spark.operators.text import token_count_columns

    n_tokens = token_count_columns(text_col)["n_ws_tokens"]
    bucket = F.pmod(
        h64(F.concat_ws(":", F.lit(salt), F.col(key_col).cast("string"))),
        F.lit(n_buckets),
    )
    base = docs.select(
        F.col(key_col), bucket.alias("bucket"),
        n_tokens.alias("n_tokens"))
    w = (
        Window.partitionBy("bucket").orderBy(key_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return base.select(
        key_col, "bucket", "n_tokens",
        F.floor(cum / budget).cast("long").alias("seq_id"),
        F.pmod(cum, F.lit(budget)).cast("long").alias("seq_offset"),
    )


def per_key_cap(
    df: DataFrame, k: int, group_cols: list[str] = ("source",),
    key_col: str = "doc_id", salt: str = "cap",
) -> DataFrame:
    """Deterministic at-most-k rows per group — the per-source document
    cap a datamix applies before training (bound any one source's
    contribution without RNG): rows rank inside their group by the
    salted hash bucket (ties broken by the key itself, so the order is
    total) and only rank <= k survives.

    Like every sampler here the choice is REPLAYABLE and
    RESIZE-STABLE: the kept set for k is a prefix of the kept set for
    k+1, so growing a cap never churns previously selected documents
    (hash_sample's fraction-monotonicity, in rank form).

    Scale shape: one window shuffle on the group key.  A skewed giant
    group serializes its own rank walk — pre-filter with
    `hash_sample(k / |group|-estimate)` first when a single group is
    billions of rows, then cap exactly."""
    if k < 1:
        raise ValueError(f"per_key_cap: need k >= 1, got {k=}")
    from pyspark.sql.window import Window

    w = Window.partitionBy(*[F.col(c) for c in group_cols]).orderBy(
        _bucket(key_col, salt), F.col(key_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )


def weighted_sample_k(
    df: DataFrame,
    k: int,
    weight_col: str,
    group_cols: list[str] = (),
    key_col: str = "doc_id",
    salt: str = "wsample",
    round_dp: int = 9,
) -> DataFrame:
    """Deterministic weight-proportional sampling WITHOUT replacement —
    at most k rows per group, each row's inclusion probability rising
    with `weight_col` (Efraimidis–Spirakis 2006 A-ES): draw
    u = (h64(salt:key) + 1) / 2**60 in (0, 1], score
    e = -ln(u) / w, keep the k SMALLEST e per group (equivalent to the
    classic top-k by u**(1/w)).  An exponential race: e is an
    Exp(rate=w) draw, so heavier rows win proportionally more often —
    true weighted sampling, not weighted shuffling.

    RNG-free like every sampler here: u comes from the salted md5
    bucket, so the selection is stable under retries/resizes and
    replayable in any engine with md5 + ln (the division by 2**60 is a
    power-of-two scale — exact in IEEE doubles, bit-identical across
    engines).  Rank compares round(e, round_dp) with a key tie-break —
    the repo's round-before-rank cross-engine contract (near-ulp ln
    differences cannot flip membership).  Rows with weight <= 0 or
    null never sample (documented A-ES domain; filter precedes the
    window so they also don't occupy ranks).

    Scale shape: one window shuffle on the group key (global top-k when
    ungrouped collapses to TakeOrderedAndProject under Catalyst when
    followed by a limit; the grouped form is the datamix use).  Output:
    input columns + samp_key (the rounded e, kept so the choice is
    auditable and value-verifiable)."""
    if k < 1:
        raise ValueError(f"weighted_sample_k: need k >= 1, got {k=}")
    from pyspark.sql.window import Window

    u = (_bucket_u60(key_col, salt) + F.lit(1)).cast("double") \
        / F.lit(float(1 << 60))
    e = F.round(-F.log(u) / F.col(weight_col).cast("double"), round_dp)
    w = Window.partitionBy(*[F.col(c) for c in group_cols]).orderBy(
        F.col("samp_key"), F.col(key_col))
    return (
        df.where(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
        .withColumn("samp_key", e)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )


def _bucket_u60(key_col: str, salt: str) -> F.Column:
    """Full 60-bit salted hash (not reduced mod 1e6 like `_bucket`):
    the A-ES uniform needs the whole width so ln(u) has real entropy."""
    return h64(
        F.concat_ws(":", F.lit(salt), F.col(key_col).cast("string")))


def top_fraction_by_score(
    df: DataFrame,
    score_col: str,
    fraction: float,
    id_col: str,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Keep the top `fraction` of rows per group ranked by `score_col`
    descending — the quality-gating step ("keep the best 25% per
    source") a filtering pipeline applies after scoring, applied
    FAIRLY per group so one source's score distribution never starves
    another.  Exactly ceil(fraction * n) rows survive per group,
    deterministically: rows strictly above the cut score all survive,
    and the cut's tie class is broken by `id_col` ascending (must be
    unique within its group for a total order).

    Scale shape — this is exact top-k selection WITHOUT a global sort:
    rows collapse to one per (group, distinct score) in a partial agg;
    the ordered window runs over that bounded frame only, yielding a
    per-group (cut score, rows-still-needed-at-the-cut) table that is
    dimension-sized and BROADCAST back; survivors above the cut are a
    map-only filter, and the only per-row window is over the cut's
    tie class alone.  With rounded scores (this repo's contract) the
    tie class is a tiny slice; a pathological everyone-tied score
    degrades to one group-sized rank walk — re-round or add a salted
    jitter column first if that is your data.

    k = ceil(fraction * n_group) with one IEEE multiply + exact ceil —
    the same arithmetic in any engine, so kept sets replay
    identically.  Like every selector here the choice is RNG-free and
    resize-stable."""
    if not 0.0 < fraction <= 1.0:
        raise ValueError(
            f"top_fraction_by_score: need 0 < fraction <= 1, "
            f"got {fraction=}")
    from pyspark.sql.window import Window

    g = list(group_cols)
    s = F.col(score_col)
    counts = (
        df.groupBy(*g, s.alias("_s"))
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    w_prev = (Window.partitionBy(*g).orderBy(F.col("_s").desc())
              .rowsBetween(Window.unboundedPreceding, -1))
    w_all = Window.partitionBy(*g)
    staged = counts.select(
        *g, "_s", "_n",
        F.coalesce(F.sum("_n").over(w_prev), F.lit(0)).alias("_above"),
        F.sum("_n").over(w_all).alias("_ntot"),
    )
    k = F.ceil(F.lit(float(fraction)) * F.col("_ntot"))
    cut = (
        staged.where((F.col("_above") < k)
                     & (F.col("_above") + F.col("_n") >= k))
        .select(*g, F.col("_s").alias("_thr"),
                (k - F.col("_above")).alias("_need"))
    )
    joined = (df.join(F.broadcast(cut), g) if g
              else df.crossJoin(F.broadcast(cut)))
    kept_above = joined.where(s > F.col("_thr"))
    boundary = joined.where(s == F.col("_thr"))
    w_tie = Window.partitionBy(*g).orderBy(F.col(id_col))
    kept_tie = (
        boundary.withColumn("_rn", F.row_number().over(w_tie))
        .where(F.col("_rn") <= F.col("_need"))
        .drop("_rn")
    )
    return kept_above.unionByName(kept_tie).drop("_thr", "_need")
