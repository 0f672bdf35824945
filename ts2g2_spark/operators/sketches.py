"""Mergeable cardinality sketches (HyperLogLog) with exact cross-engine
replay.

Why a sketch when `count(distinct)` exists: at 100 TB, exact distinct is
a full shuffle of every key; the HLL register frame is at most
`m = 2**p` rows per group NO MATTER the input size, the per-register
`max` is a partial aggregate (map-side combine collapses each input
partition to <= m rows before the exchange), and registers MERGE by
max — so per-day/per-tier partials roll up to any coarser grain without
touching the raw data again, exactly like the rollup tiers.

Why this one is value-oracle-able when approx_count_distinct is not:
Spark's HLL++ and DuckDB's HLL hash differently and are opaque.  Here
every choice is pinned to the repo's portable-hash contract
(functions/hashing.h64: first 15 md5 hex chars as a non-negative 60-bit
int64):

  idx  = h >> (60 - p)                      (top p bits -> register)
  rest = h & (2**(60-p) - 1)                (low w = 60-p bits)
  rho  = w + 1 if rest == 0 else w - length(bin(rest)) + 1
                                            (leading-zero count + 1)

`length(bin(x))` is the integer-exact bit length in BOTH engines
(minimal-width binary string, Spark `bin` = DuckDB `bin`), so rho never
touches floating point.  The estimator's harmonic sum is kept in
INTEGER space: sum(2**-rho) over all m registers is accumulated as
`sum_units` in units of 2**-Q (Q = w + 1, the max rho), i.e.
2**(Q - rho) per occupied register and 2**Q per empty one — an int64
(max m * 2**Q = 2**61), so the only floating-point steps are ONE
division (numerator embedded as a single double literal) and the
standard linear-counting branch's ln().  Both replay bit-identically in
any engine with md5 + bin + IEEE doubles; the final estimate is rounded
(round_dp) per the repo's cross-engine contract.

Accuracy: standard HLL relative error ~= 1.04 / sqrt(m) (1.6% at
p = 12).  The 60-bit hash makes the 32-bit large-range correction
unnecessary at any realistic cardinality (collision pressure starts
around 2**30 distincts per group; at that point raise p, not patch the
estimator).

Reference scope note: the ts2g2 reference has no sketching surface —
this is an engine-native addition for the 100 TB tier, same family as
the rollup/gap-fill/retention operators (SURVEY §2.7).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ts2g2_spark.functions.hashing import h64

_HASH_BITS = 60  # h64 width: 15 md5 hex chars


def _alpha(m: int) -> float:
    """Standard HLL bias constant (Flajolet et al. 2007, Fig. 3)."""
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def _check_p(p: int) -> None:
    if not 4 <= p <= 16:
        raise ValueError(f"hll: p must be in [4, 16], got {p}")


def register_cols(value_col: str, p: int) -> tuple[F.Column, F.Column]:
    """The Catalyst (reg_idx, reg_rho) expression pair — shared by the
    batch register agg and the streaming fold (which extracts registers
    JVM-side so no Python ever hashes a row)."""
    w = _HASH_BITS - p
    mask = (1 << w) - 1
    h = h64(F.col(value_col).cast("string"))
    rest = h.bitwiseAND(F.lit(mask))
    rho = F.when(rest == 0, F.lit(w + 1)).otherwise(
        F.lit(w + 1) - F.length(F.bin(rest)))
    return F.shiftright(h, w), rho.cast("int")


def hll_registers(
    df: DataFrame,
    value_col: str,
    group_cols: tuple[str, ...] = (),
    p: int = 12,
) -> DataFrame:
    """Per-group HLL register frame: (group_cols..., reg_idx, reg_rho).

    One hash-aggregate on (group, reg_idx) with a max — the partial agg
    bounds every map task's output at m rows per group before the
    exchange, so the shuffle volume is O(groups * m) regardless of
    input size.  Null values are skipped (SQL count-distinct
    semantics).  The output is the MERGEABLE partial: union frames of
    the same p and re-max (`hll_merge`) to coarsen grain."""
    _check_p(p)
    idx, rho = register_cols(value_col, p)
    return (
        df.where(F.col(value_col).isNotNull())
        .select(
            *[F.col(c) for c in group_cols],
            idx.alias("reg_idx"),
            rho.alias("reg_rho"),
        )
        .groupBy(*group_cols, "reg_idx")
        .agg(F.max("reg_rho").alias("reg_rho"))
    )


def hll_merge(
    regs: DataFrame,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Merge register partials to the (possibly coarser) `group_cols`
    grain: group and re-max.  Exact — max is associative/commutative,
    so merged partials are row-identical to registers computed from
    the union of the raw inputs (pinned by test and by the
    `hll_tiers_up` oracle, whose SQL twin skips the intermediate
    grain entirely)."""
    return (
        regs.groupBy(*group_cols, "reg_idx")
        .agg(F.max("reg_rho").alias("reg_rho"))
    )


def hll_estimate(
    regs: DataFrame,
    group_cols: tuple[str, ...] = (),
    p: int = 12,
    round_dp: int = 6,
) -> DataFrame:
    """Estimate from a register frame.  Output per group:
    (group_cols..., n_occupied, sum_units, est_distinct).

    sum_units is the harmonic sum in exact integer units of 2**-Q
    (Q = 60 - p + 1): occupied registers contribute 2**(Q - rho),
    the (m - n_occupied) empty ones 2**Q each.  raw estimate =
    (alpha * m**2 * 2**Q) / sum_units — the numerator is ONE embedded
    double literal, so the division is the only float op and replays
    bit-identically.  Linear-counting branch (raw <= 2.5m and empty
    registers exist): m * ln(m / zeros).  est_distinct is rounded to
    `round_dp`; n_occupied / sum_units are exact integers, making the
    value-hash comparison razor-exact on everything but the one
    rounded double."""
    _check_p(p)
    m = 1 << p
    q = _HASH_BITS - p + 1
    numerator = _alpha(m) * (m ** 2) * float(1 << q)
    agg = (
        regs.groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("n_occupied"),
            # coalesce: the global (no group cols) agg of an EMPTY
            # register frame yields one row with sum = null; 0 keeps
            # sum_units = m * 2**q there, so the linear-counting branch
            # correctly reads est = m * ln(m/m) = 0
            F.coalesce(
                F.sum(F.expr(
                    f"shiftleft(CAST(1 AS BIGINT), {q} - reg_rho)")),
                F.lit(0).cast("long"),
            ).alias("_occ_units"),
        )
        .select(
            *[F.col(c) for c in group_cols],
            "n_occupied",
            (F.col("_occ_units")
             + (F.lit(m) - F.col("n_occupied")) * F.lit(1 << q))
            .alias("sum_units"),
        )
    )
    raw = F.lit(numerator) / F.col("sum_units").cast("double")
    zeros = (F.lit(m) - F.col("n_occupied")).cast("double")
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (F.col("n_occupied") < m),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros),
    ).otherwise(raw)
    return agg.select(
        *[F.col(c) for c in group_cols],
        "n_occupied",
        "sum_units",
        F.round(est, round_dp).alias("est_distinct"),
    )


def hll_distinct(
    df: DataFrame,
    value_col: str,
    group_cols: tuple[str, ...] = (),
    p: int = 12,
    round_dp: int = 6,
) -> DataFrame:
    """End-to-end per-group distinct estimate (registers + estimate)."""
    return hll_estimate(
        hll_registers(df, value_col, group_cols, p),
        group_cols, p, round_dp,
    )


def hll_finalize_py(n_occ: int, sum_units: int, p: int) -> float:
    """Driver/worker-side twin of hll_estimate's final expression —
    IDENTICAL float ops (one division by the same embedded numerator,
    linear-counting ln branch), so a Python consumer (streaming state
    fold, tests) produces the bit-same unrounded estimate as the
    Catalyst/DuckDB replay."""
    m = 1 << p
    q = _HASH_BITS - p + 1
    raw = (_alpha(m) * (m ** 2) * float(1 << q)) / float(sum_units)
    if raw <= 2.5 * m and n_occ < m:
        return m * math.log(m / float(m - n_occ))
    return raw


def hll_py(values, p: int = 12) -> tuple[int, int, float]:
    """Pure-Python twin of hll_distinct for one group — same md5 math,
    same integer-space estimator.  Returns (n_occupied, sum_units,
    est_distinct unrounded).  Test oracle only (driver-side, small
    inputs)."""
    import hashlib

    _check_p(p)
    m = 1 << p
    w = _HASH_BITS - p
    q = w + 1
    regs: dict[int, int] = {}
    for v in values:
        if v is None:
            continue
        h = int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)
        idx, rest = h >> w, h & ((1 << w) - 1)
        rho = q if rest == 0 else q - rest.bit_length()
        if regs.get(idx, 0) < rho:
            regs[idx] = rho
    n_occ = len(regs)
    sum_units = sum(1 << (q - r) for r in regs.values()) \
        + (m - n_occ) * (1 << q)
    return n_occ, sum_units, hll_finalize_py(n_occ, sum_units, p)


def hll_intersect_estimate(
    regs_a: DataFrame,
    regs_b: DataFrame,
    group_cols: tuple[str, ...] = (),
    p: int = 12,
    round_dp: int = 6,
) -> DataFrame:
    """Distinct-set overlap from two register frames (same p) by
    inclusion-exclusion: |A ∩ B| ~= est(A) + est(B) - est(A ∪ B), where
    the union sketch is the exact register merge (re-max) — the
    standard HLL set-operation trade (union is lossless, intersection
    inherits ~1.04/sqrt(m) error on EACH term, so small overlaps of
    large sets are noisy; use a higher p there).

    Replay contract: each term is the ALREADY-ROUNDED `hll_estimate`
    output, so the final arithmetic is three identical doubles in both
    engines; the result is clamped at 0 (inclusion-exclusion of
    estimates can go slightly negative on disjoint sets) and re-rounded.
    Groups present on one side only estimate the missing side as 0.0
    (empty sketch).  Output: group_cols..., est_a, est_b, est_union,
    est_intersect."""
    def _est(regs: DataFrame, name: str) -> DataFrame:
        return hll_estimate(regs, group_cols, p, round_dp).select(
            *group_cols, F.col("est_distinct").alias(name))

    ea = _est(regs_a, "est_a")
    eb = _est(regs_b, "est_b")
    eu = _est(
        hll_merge(regs_a.unionByName(regs_b), group_cols), "est_union")
    if group_cols:
        joined = (
            ea.join(eb, list(group_cols), "full")
            .join(eu, list(group_cols), "full")
        )
    else:
        joined = ea.crossJoin(eb).crossJoin(eu)
    a = F.coalesce(F.col("est_a"), F.lit(0.0))
    b = F.coalesce(F.col("est_b"), F.lit(0.0))
    u = F.coalesce(F.col("est_union"), F.lit(0.0))
    return joined.select(
        *group_cols,
        a.alias("est_a"), b.alias("est_b"), u.alias("est_union"),
        F.greatest(
            F.lit(0.0), F.round(a + b - u, round_dp)
        ).alias("est_intersect"),
    )


def _cms_probe(value_col: str, d: int, w_buckets: int) -> F.Column:
    """The d salted bucket positions of a value — shared by sketch
    build and lookup so both sides land in identical cells."""
    return F.array(*[
        F.pmod(
            h64(F.concat_ws(
                ":", F.lit(f"cms{i}"), F.col(value_col).cast("string"))),
            F.lit(w_buckets),
        )
        for i in range(d)
    ])


def _check_cms(d: int, w_buckets: int) -> None:
    if d < 1 or w_buckets < 2:
        raise ValueError(
            f"cms: need d >= 1 and w_buckets >= 2, got {d=} {w_buckets=}")


def cms_sketch(
    df: DataFrame,
    value_col: str,
    group_cols: tuple[str, ...] = (),
    d: int = 4,
    w_buckets: int = 2048,
) -> DataFrame:
    """Count-min sketch (Cormode-Muthukrishnan 2005) of a value stream:
    d salted-md5 hash rows x w buckets of exact integer counts.  Output
    (group_cols..., cms_row, bucket, cnt) — at most d * w_buckets rows
    per group NO MATTER the input size, and the count agg is
    partial-aggregatable (map-side combine), so the exchange carries
    bounded state like the HLL register frame.  Sketches merge by
    summing cnt cell-wise (linearity).

    Estimate guarantee: lookup >= true count always (only overcounts,
    by hash collisions); error <= 2N/w_buckets with probability
    1 - 2^-d.  Entirely INTEGER arithmetic on the portable md5 hash —
    the one sketch whose every cell and every estimate replays exactly
    in any engine, no rounding contract needed."""
    _check_cms(d, w_buckets)
    return (
        df.where(F.col(value_col).isNotNull())
        .select(
            *[F.col(c) for c in group_cols],
            F.posexplode(_cms_probe(value_col, d, w_buckets))
            .alias("cms_row", "bucket"),
        )
        .groupBy(*group_cols, "cms_row", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_lookup(
    sketch: DataFrame,
    items: DataFrame,
    value_col: str,
    group_cols: tuple[str, ...] = (),
    d: int = 4,
    w_buckets: int = 2048,
    broadcast_items: bool | None = None,
    broadcast_max_rows: int = 500_000,
) -> DataFrame:
    """Point-query the sketch for each row of `items` (which carries
    `value_col` and any group cols): est_cnt = min over the d rows of
    the probed cell (absent cell = 0).  The probe frame is
    O(items x d); one small agg back to one row per item.  Same
    (d, w_buckets, salts) as the build or the cells won't line up
    (enforced nowhere but by the shared `_cms_probe` — pass the same
    params).

    Join shape: an INNER probe-cell join (Spark cannot broadcast the
    preserved side of an outer join, so a left join would silently
    drop the hint) followed by a tiny left join back onto the item
    set — an item whose d probes matched fewer than d cells has at
    least one empty cell, so its estimate is 0 (min over cells).

    `broadcast_items=None` (default) auto-gates the broadcast hint the
    same way incremental_lsh_candidates gates its batch side: one
    count() of `items` at construction, broadcast iff |items| x d <=
    broadcast_max_rows — an items frame that is itself corpus-sized
    must NOT bypass autoBroadcastJoinThreshold via a forced hint (it
    falls back to the equi-keyed shuffle join on the bounded sketch).
    Pass True/False to skip the count and force either path."""
    _check_cms(d, w_buckets)
    if broadcast_items is None:
        broadcast_items = items.count() * d <= broadcast_max_rows
    base = items.select(
        *[F.col(c) for c in group_cols], F.col(value_col)).distinct()
    probes = base.select(
        *[F.col(c) for c in group_cols],
        F.col(value_col),
        F.posexplode(_cms_probe(value_col, d, w_buckets))
        .alias("cms_row", "bucket"),
    )
    if broadcast_items:
        probes = F.broadcast(probes)
    hits = (
        probes
        .join(sketch, [*group_cols, "cms_row", "bucket"], "inner")
        .groupBy(*group_cols, value_col)
        .agg(F.count(F.lit(1)).alias("_n_hit"),
             F.min("cnt").alias("_min_cnt"))
    )
    return (
        base.join(F.broadcast(hits) if broadcast_items else hits,
                  [*group_cols, value_col], "left")
        .select(
            *[F.col(c) for c in group_cols],
            F.col(value_col),
            F.when(F.col("_n_hit") == d, F.col("_min_cnt"))
            .otherwise(F.lit(0)).cast("long").alias("est_cnt"),
        )
    )


def cms_py(values, queries, d: int = 4, w_buckets: int = 2048) -> dict:
    """Pure-Python twin (same md5 salts/cells) — test oracle only."""
    import hashlib

    _check_cms(d, w_buckets)
    cells: dict[tuple[int, int], int] = {}
    for v in values:
        if v is None:
            continue
        for i in range(d):
            h = int(hashlib.md5(
                f"cms{i}:{v}".encode()).hexdigest()[:15], 16)
            key = (i, h % w_buckets)
            cells[key] = cells.get(key, 0) + 1
    out = {}
    for qv in queries:
        out[qv] = min(
            cells.get((i, int(hashlib.md5(
                f"cms{i}:{qv}".encode()).hexdigest()[:15], 16)
                % w_buckets), 0)
            for i in range(d))
    return out

# ---------------------------------------------------------------------------
# Bloom filter: set-membership sketch + map-only join pruning
# ---------------------------------------------------------------------------

def _check_bloom(k: int, n_bits: int) -> None:
    if k < 1 or n_bits < 64:
        raise ValueError(
            f"bloom: need k >= 1 and n_bits >= 64, got {k=} {n_bits=}")


def _bloom_positions(value_col: str, k: int, n_bits: int) -> F.Column:
    """The k probe bit positions of a value — Kirsch-Mitzenmacher
    double hashing pos_i = (h1 + i*h2) mod m over the portable md5
    hash: TWO md5 evaluations per row regardless of k (the CMS probe
    pays d md5s), and exact-integer so any engine replays it.  Both
    hashes are reduced mod m BEFORE the i*h2 multiply — congruent to
    (h1 + i*h2) mod m, and i*(h2 mod m) stays far below 2^63 for any
    sane k, where i*h2 on the raw 60-bit hash would overflow."""
    v = F.col(value_col).cast("string")
    h1 = F.pmod(h64(F.concat_ws(":", F.lit("bl1"), v)), F.lit(n_bits))
    h2 = F.pmod(h64(F.concat_ws(":", F.lit("bl2"), v)), F.lit(n_bits))
    return F.array(*[
        F.pmod(h1 + F.lit(i) * h2, F.lit(n_bits)) for i in range(k)])


def bloom_bits(
    df: DataFrame,
    value_col: str,
    group_cols: tuple[str, ...] = (),
    k: int = 7,
    n_bits: int = 1 << 20,
) -> DataFrame:
    """Bloom filter (Bloom 1970) of a key set as a relational bitset:
    output (group_cols..., bit_pos) — the DISTINCT set bit positions,
    at most n_bits rows per group no matter the input size, built with
    one partial-aggregatable exchange (distinct = hash agg).  Sketches
    merge by unioning rows and re-distincting (bloom OR).  Guarantee: membership of every inserted key tests true (no
    false negatives); false-positive rate ~ (1 - e^(-kn/m))^k."""
    _check_bloom(k, n_bits)
    return (
        df.where(F.col(value_col).isNotNull())
        .select(
            *[F.col(c) for c in group_cols],
            F.explode(_bloom_positions(value_col, k, n_bits))
            .alias("bit_pos"),
        )
        .distinct()
    )


def bloom_words(
    bits: DataFrame,
    n_bits: int,
    max_bits: int = 1 << 26,
) -> list[int]:
    """Driver-side packed bitset: n_bits/64 int64 words (LSB-first
    within a word: bit b lives in word b>>6 at offset b&63).  Packing
    is DISTRIBUTED (per-word bit_or partial agg) — the driver receives
    at most n_bits/64 rows, size-guarded by max_bits (default 2^26
    bits = 8 MiB of words) so a fat filter can't flood the driver."""
    if n_bits > max_bits:
        raise ValueError(
            f"bloom_words: n_bits={n_bits} exceeds the driver-collect "
            f"guard max_bits={max_bits}; raise max_bits explicitly")
    packed = (
        bits.groupBy(F.shiftright("bit_pos", 6).alias("_w"))
        .agg(F.bit_or(F.expr(
            "shiftleft(CAST(1 AS BIGINT), CAST(pmod(bit_pos, 64) AS INT))"
        )).alias("_word"))
        .collect()
    )
    words = [0] * ((n_bits + 63) >> 6)
    for r in packed:
        words[r._w] = r._word
    return words


def bloom_prune(
    df: DataFrame,
    value_col: str,
    keys: DataFrame,
    key_col: str,
    k: int = 7,
    n_bits: int = 1 << 20,
    max_bits: int = 1 << 26,
) -> DataFrame:
    """Bloom-pruned semi-join, the 100-TB shape: build the filter on
    the (small) key side, pack it into n_bits/64 longs on the driver
    (guarded), and filter the (huge) fact side with a MAP-ONLY
    predicate — zero shuffle, zero join, zero exchange on the big
    side; the bitset rides into executors as a plan literal (16 K
    longs at the default 2^20 bits).  Never drops a true match (bloom
    has no false negatives); survivors still need the real join if
    exact semantics are required — this is the scan-side prefilter
    that makes that join cheap.

    Eager-API class (like dedup_components / ivf_topk): building the
    packed words runs one job at construction time."""
    _check_bloom(k, n_bits)
    words = bloom_words(
        bloom_bits(keys, key_col, (), k, n_bits), n_bits, max_bits)
    # explicit element type: an all-zero word list (empty key set) would
    # otherwise infer array<int> and shrink getbit's legal bit range
    wcol = F.lit(words).cast("array<bigint>")
    v = F.col(value_col).cast("string")
    h1 = F.pmod(h64(F.concat_ws(":", F.lit("bl1"), v)), F.lit(n_bits))
    h2 = F.pmod(h64(F.concat_ws(":", F.lit("bl2"), v)), F.lit(n_bits))
    cond = F.col(value_col).isNotNull()
    for i in range(k):
        pos = F.pmod(h1 + F.lit(i) * h2, F.lit(n_bits))
        word = F.get(wcol, F.shiftright(pos, 6).cast("int"))
        cond = cond & (F.getbit(word, F.pmod(pos, F.lit(64))) == 1)
    return df.where(cond)


def bloom_py(values, k: int = 7, n_bits: int = 1 << 20) -> set:
    """Pure-Python twin (same md5 double hashing) — test oracle only.
    Returns the set of set bit positions; membership via
    bloom_py_contains."""
    import hashlib

    _check_bloom(k, n_bits)
    bits: set[int] = set()
    for v in values:
        if v is None:
            continue
        h1 = int(hashlib.md5(
            f"bl1:{v}".encode()).hexdigest()[:15], 16) % n_bits
        h2 = int(hashlib.md5(
            f"bl2:{v}".encode()).hexdigest()[:15], 16) % n_bits
        for i in range(k):
            bits.add((h1 + i * h2) % n_bits)
    return bits


def bloom_py_contains(bits: set, v, k: int = 7, n_bits: int = 1 << 20) -> bool:
    import hashlib

    h1 = int(hashlib.md5(
        f"bl1:{v}".encode()).hexdigest()[:15], 16) % n_bits
    h2 = int(hashlib.md5(
        f"bl2:{v}".encode()).hexdigest()[:15], 16) % n_bits
    return all((h1 + i * h2) % n_bits in bits for i in range(k))


# ---------------------------------------------------------------------------
# KMV (k-minimum-values / bottom-k) distinct sketch
# ---------------------------------------------------------------------------

def _check_kmv(k: int, buckets: int) -> None:
    if k < 2 or buckets < 1:
        raise ValueError(f"kmv: need k >= 2 and buckets >= 1, "
                         f"got {k=} {buckets=}")


def kmv_sketch(
    df: DataFrame,
    value_col: str,
    group_cols: tuple[str, ...] = (),
    k: int = 256,
    buckets: int = 64,
) -> DataFrame:
    """Per-group bottom-k sketch: the k SMALLEST distinct h64 hashes of
    `value_col` (Bar-Yossef et al. 2002's KMV estimator).  Output
    (group_cols..., kh, kmv_rank) with kmv_rank in [1, k] ascending by
    hash.

    Where HLL gives a fixed-size register frame, KMV keeps actual hash
    values, which buys two things HLL can't do: (a) when a group has
    fewer than k distincts the sketch IS the exact distinct set (the
    estimator returns the exact count), and (b) sketch intersection
    supports Jaccard-style overlap on the kept hashes.  Cost: k rows
    per group instead of m registers.

    Scale shape: one hash-aggregate distinct on (group, hash) —
    map-side combine collapses duplicates before the exchange — then
    the shared `exact_topk` bucket tournament (corpusstats.exact_topk)
    bounds every window sort at k rows per hash bucket, so no
    whole-group sort ever materializes.  Deterministic: hashes are
    md5-derived and distinct within a group, so the ascending order is
    total with no tie column needed (the hash is its own tie-break).
    """
    _check_kmv(k, buckets)
    from ts2g2_spark.operators.corpusstats import exact_topk

    hashed = (
        df.where(F.col(value_col).isNotNull())
        .select(
            *[F.col(c) for c in group_cols],
            h64(F.col(value_col).cast("string")).alias("kh"),
        )
        .distinct()
    )
    # bottom-k via the shared DESC tournament on the negated hash
    # (h64 < 2**60, so negation is overflow-safe in int64)
    return (
        exact_topk(
            hashed.withColumn("_negh", -F.col("kh")),
            "_negh", k, "kh", group_cols, buckets, rank_name="kmv_rank")
        .drop("_negh")
    )


def kmv_merge(
    sketches: DataFrame,
    group_cols: tuple[str, ...] = (),
    k: int = 256,
    buckets: int = 64,
) -> DataFrame:
    """Merge sketch partials to a coarser grain: union the kept hashes,
    de-duplicate, and re-take the bottom k.  EXACT — every one of the k
    smallest distinct hashes of a union is among the k smallest of the
    partial it came from, so merged partials are row-identical to a
    sketch computed from the raw union (the oracle of the merged query
    skips the fine grain entirely and still value-hash-matches)."""
    _check_kmv(k, buckets)
    from ts2g2_spark.operators.corpusstats import exact_topk

    deduped = (
        sketches.select(*[F.col(c) for c in group_cols], "kh").distinct()
    )
    return (
        exact_topk(
            deduped.withColumn("_negh", -F.col("kh")),
            "_negh", k, "kh", group_cols, buckets, rank_name="kmv_rank")
        .drop("_negh")
    )


def kmv_estimate(
    sketch: DataFrame,
    group_cols: tuple[str, ...] = (),
    k: int = 256,
    round_dp: int = 6,
) -> DataFrame:
    """Distinct estimate from a bottom-k sketch.  Output per group:
    (group_cols..., n_kept, kth_h, est_distinct).

    n_kept < k  ->  the sketch saw every distinct value: est = n_kept
                    exactly (an integer-valued double).
    n_kept = k  ->  est = (k - 1) * 2**60 / kth_h, the unbiased KMV
                    estimator: the k-th smallest of n uniform draws on
                    [0, 2**60) sits near k/n of the range.

    Replay contract: n_kept and kth_h are exact integers; the
    numerator (k - 1) * 2**60 is embedded as ONE double literal (exact
    for any k - 1 below 2**53 — it is (k - 1) scaled by a power of
    two), so the only float op is a single division, rounded to
    `round_dp` identically in any IEEE engine.  Relative error
    ~ 1/sqrt(k - 2) (~6.3% at k = 256; quadruple k to halve it)."""
    _check_kmv(k, buckets=1)
    numerator = float((k - 1) << _HASH_BITS)
    agg = sketch.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.max("kh").alias("kth_h"),
    )
    est = F.when(
        F.col("n_kept") < k, F.col("n_kept").cast("double"),
    ).otherwise(F.lit(numerator) / F.col("kth_h").cast("double"))
    return agg.select(
        *[F.col(c) for c in group_cols],
        "n_kept",
        "kth_h",
        F.round(est, round_dp).alias("est_distinct"),
    )


def kmv_distinct(
    df: DataFrame,
    value_col: str,
    group_cols: tuple[str, ...] = (),
    k: int = 256,
    buckets: int = 64,
    round_dp: int = 6,
) -> DataFrame:
    """End-to-end per-group KMV distinct estimate (sketch + estimate)."""
    return kmv_estimate(
        kmv_sketch(df, value_col, group_cols, k, buckets),
        group_cols, k, round_dp)


def kmv_py(values, k: int = 256) -> tuple[int, int, float]:
    """Pure-Python twin for one group — same md5 hash, same estimator
    float ops.  Returns (n_kept, kth_h, est_distinct unrounded).  Test
    oracle only."""
    import hashlib

    _check_kmv(k, buckets=1)
    hs = sorted({
        int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)
        for v in values if v is not None
    })[:k]
    if not hs:
        raise ValueError("kmv_py: no non-null values")
    n_kept, kth = len(hs), hs[-1]
    if n_kept < k:
        return n_kept, kth, float(n_kept)
    return n_kept, kth, float((k - 1) << _HASH_BITS) / float(kth)


# ---------------------------------------------------------------------------
# HDR-style base-2 quantile sketch
# ---------------------------------------------------------------------------


def _check_hdr(sub_bits: int) -> None:
    if not 0 <= sub_bits <= 20:
        raise ValueError(
            f"hdr: need 0 <= sub_bits <= 20, got {sub_bits=}")


def hdr_bucket_cols(value_col: str, sub_bits: int) -> tuple[F.Column,
                                                            F.Column]:
    """(b_lo, b_hi) bucket-bound column builders over a NON-NEGATIVE
    int64 value (HdrHistogram's base-2 exponent/sub-bucket scheme,
    Tene's public HdrHistogram design — no code shared).

    Values with bit length <= sub_bits + 1 are EXACT singleton buckets
    (b_lo = b_hi = v); larger values keep their top `sub_bits + 1`
    bits: shift = bit_len - 1 - sub_bits, b_lo = (v >> shift) << shift,
    b_hi = b_lo + 2**shift - 1.  Bucket width / b_lo <= 2**-sub_bits,
    so any in-bucket answer is within that relative error.  The two
    regimes can never collide on b_lo (exact values < 2**(sub_bits+1),
    aligned lower bounds >= 2**(sub_bits+1)), so b_lo is a total bucket
    key.

    Everything is integer bit arithmetic on the portable-hash
    contract's primitives: `length(bin(v))` is the minimal-width bit
    length and `<< / >>` are plain shifts in BOTH Spark and DuckDB —
    no float ever enters bucket assignment, so sketches replay
    bit-identically cross-engine.  Negative input raises at execution
    (fail-loud, like temporal's bucket guard) rather than binning
    garbage two's-complement bit lengths: the guard is inlined into
    EVERY value reference, so both bucket regimes hit it.

    `value_col` is interpolated as SQL, so any bigint-valued SQL
    expression works (e.g. a fixed-point `floor(value * 1000)`)."""
    v = (f"(CASE WHEN CAST(({value_col}) AS BIGINT) < 0 THEN "
         f"CAST(raise_error('hdr_sketch: value_col must be "
         f"non-negative (fixed-point encode signed data first)') "
         f"AS BIGINT) ELSE CAST(({value_col}) AS BIGINT) END)")
    sh = f"(length(bin({v})) - 1 - {sub_bits})"
    lo_big = f"shiftleft(shiftright({v}, {sh}), {sh})"
    width = f"shiftleft(CAST(1 AS BIGINT), {sh})"
    b_lo = F.expr(f"CASE WHEN {sh} <= 0 THEN {v} ELSE {lo_big} END")
    b_hi = F.expr(
        f"CASE WHEN {sh} <= 0 THEN {v} "
        f"ELSE {lo_big} + {width} - 1 END")
    return b_lo, b_hi


def hdr_sketch(
    df: DataFrame,
    value_col: str,
    group_cols: tuple[str, ...] = (),
    sub_bits: int = 5,
) -> DataFrame:
    """Per-group base-2 bucket histogram: (group_cols..., b_lo, b_hi,
    n) — the MERGEABLE quantile partial the rollup tiers need.

    Quantiles do not merge (a p95-of-p95s is meaningless), which is
    why tier-up rollups cannot carry them the way sums/counts carry;
    this sketch fixes that: counts merge by addition (`hdr_merge`), so
    per-minute sketches roll to hours/days without re-reading raw
    data, and any quantile of the merged sketch is within
    2**-sub_bits relative error of the true quantile (b_hi is the
    upper bound the estimator reports).

    Scale shape: one hash-aggregate on (group, b_lo) with map-side
    combine; the frame is bounded at ~(64 - sub_bits) * 2**sub_bits
    buckets per group (2048 at sub_bits=5) regardless of input size.
    Null values are skipped.  All-integer — no rounding contract at
    all, every downstream number but the caller's own fixed-point
    scale is exact."""
    _check_hdr(sub_bits)
    b_lo, b_hi = hdr_bucket_cols(value_col, sub_bits)
    return (
        df.where(F.expr(value_col).isNotNull())
        .select(*[F.col(c) for c in group_cols],
                b_lo.alias("b_lo"), b_hi.alias("b_hi"))
        .groupBy(*group_cols, "b_lo", "b_hi")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def hdr_merge(
    sketches: DataFrame,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Merge sketch partials to a coarser grain: group and re-sum.
    Exact by linearity of counts — merged partials are row-identical
    to a sketch built from the union of the raw inputs (pinned by test
    and by the merged contract query, whose oracle computes the coarse
    grain directly from raw rows)."""
    return (
        sketches.groupBy(*group_cols, "b_lo", "b_hi")
        .agg(F.sum("n").alias("n"))
    )


def hdr_quantiles(
    sketches: DataFrame,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Quantile estimates from a sketch frame.  Output per (group, q):
    (group_cols..., q, n_total, rank, q_lo, q_hi) where rank =
    max(1, ceil(q * n_total)) (the 1-indexed order statistic) and
    [q_lo, q_hi] is the bucket holding it — q_hi is the guaranteed
    upper bound within 2**-sub_bits relative error.

    The ordered window runs over the BOUNDED bucket frame only (never
    the raw rows), partitioned per group; b_lo is a total key so the
    cumulative is deterministic.  The single float op is q * n_total
    (one IEEE multiply on a literal, then an exact ceil), so the
    output is engine-exact without any rounding contract."""
    if not qs:
        raise ValueError("hdr_quantiles: need at least one q")
    if any(not 0.0 < q <= 1.0 for q in qs):
        raise ValueError(f"hdr_quantiles: each q must be in (0, 1], "
                         f"got {list(qs)}")
    from pyspark.sql import Window

    g = list(group_cols)
    w_cum = (Window.partitionBy(*g).orderBy("b_lo")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    w_all = Window.partitionBy(*g)
    c = sketches.select(
        *g, "b_lo", "b_hi", "n",
        F.sum("n").over(w_cum).alias("_cum"),
        F.sum("n").over(w_all).alias("n_total"),
    )
    out = c.select(
        *g, "b_lo", "b_hi", "n", "_cum", "n_total",
        F.explode(F.array([F.lit(float(q)) for q in qs])).alias("q"),
    )
    rank = F.greatest(F.lit(1).cast("long"),
                      F.ceil(F.col("q") * F.col("n_total")))
    return (
        out.where((F.col("_cum") >= rank)
                  & (F.col("_cum") - F.col("n") < rank))
        .select(*g, "q", "n_total", rank.alias("rank"),
                F.col("b_lo").alias("q_lo"), F.col("b_hi").alias("q_hi"))
    )


def hdr_value_quantiles(
    df: DataFrame,
    value_col: str,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    group_cols: tuple[str, ...] = (),
    sub_bits: int = 5,
) -> DataFrame:
    """End-to-end per-group quantile estimates (sketch + quantiles)."""
    return hdr_quantiles(
        hdr_sketch(df, value_col, group_cols, sub_bits), qs, group_cols)


def hdr_py(values, qs=(0.5, 0.9, 0.99), sub_bits: int = 5):
    """Pure-Python twin of sketch + quantiles for bit-parity tests.
    Returns ({b_lo: (b_hi, n)}, {q: (rank, q_lo, q_hi)})."""
    import math as _math

    buckets: dict[int, list[int]] = {}
    for v in values:
        if v is None:
            continue
        v = int(v)
        if v < 0:
            raise ValueError("hdr_py: negative value")
        bl = v.bit_length() if v else 1
        shift = bl - 1 - sub_bits
        if shift <= 0:
            lo = hi = v
        else:
            lo = (v >> shift) << shift
            hi = lo + (1 << shift) - 1
        cell = buckets.setdefault(lo, [hi, 0])
        cell[1] += 1
    n_total = sum(n for _, n in buckets.values())
    quants = {}
    for q in qs:
        rank = max(1, _math.ceil(q * n_total)) if n_total else None
        cum = 0
        for lo in sorted(buckets):
            hi, n = buckets[lo]
            cum += n
            if rank is not None and cum >= rank:
                quants[q] = (rank, lo, hi)
                break
    return {lo: tuple(c) for lo, c in buckets.items()}, quants
