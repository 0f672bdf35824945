"""Distributed byte-pair-encoding over pre-tokenized sequences.

The tokens-native vocabulary-induction operator: given the input_hint
table shape (doc_id, tokens:array<int32>, ...), learn the classic BPE
merge table (Sennrich et al. 2016, "Neural Machine Translation of Rare
Words with Subword Units" — public algorithm) distributedly, and apply
a learned merge table map-only.  The reference repo has no tokenizer
surface; this is a brief-native training-data-pipeline operator.

Determinism contract (what makes the DuckDB oracle replayable):
  * pair counting counts every ADJACENT position, overlapping included
    ("a a a" contributes (a,a) twice) — plain lead/slice semantics;
  * the merge chosen each round is argmax by (count desc, tok_a asc,
    tok_b asc) — integer counts, no float tie ambiguity;
  * applying a merge is greedy left-to-right.  For tok_a != tok_b the
    occurrences cannot overlap (an occurrence at i+1 would need
    t[i+1] == tok_a, but t[i+1] == tok_b), so greedy == "merge every
    occurrence".  For tok_a == tok_b, occurrences inside a run of k
    equal tokens overlap; greedy keeps those at EVEN offset within the
    run (floor(k/2) merges, odd leftover survives);
  * new ids are allocated new_id_start + rank (the caller pins the
    base so the oracle can embed the same literal).

Scale shape (the 100 TB story):
  * `pair_counts` is explode + map-side partial hash agg — the exchange
    carries one row per DISTINCT pair per partition (vocab^2-bounded,
    in practice Zipf-tiny), never one row per token.
  * `learn_bpe` is an eager driver loop (documented, like
    `dedup.connected_components`): per merge, ONE fused job — a
    mapInPandas kernel re-applies the merges learned so far to each
    Arrow batch and emits numpy-partial pair counts directly, so no
    merged working set is ever materialized for small merge counts;
    every `materialize_every` merges the prefix folds into a
    localCheckpoint so lineage and re-apply cost stay bounded at large
    merge counts.  Production BPE learners train
    the vocabulary on a SAMPLE of the corpus (the merge ranking is a
    frequency estimate — a hash sample is unbiased for it); pass
    `sample_fraction` to learn on sampling.hash_sample of the corpus,
    then `apply_bpe` to the full table.  The known faster path at huge
    merge counts is incremental pair-delta maintenance (each merge
    only perturbs counts adjacent to its occurrences); out of scope
    here, noted for parity with single-node learners.
  * `apply_bpe` is ONE map-only mapInPandas pass (zero shuffles): the
    merge table (tiny — vocab-sized) ships as a plain Python list in
    the closure, and each merge is applied as a vectorized numpy pass
    over the batch's flattened token stream — never per-row Python.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MERGE_SCHEMA = ("rank int, tok_a int, tok_b int, new_id int, "
                "pair_count long")


def pair_counts(seqs: DataFrame, tokens_col: str = "tokens") -> DataFrame:
    """(tok_a, tok_b, cnt): frequency of every adjacent token pair.

    transform/sequence builds the per-row pair structs inside the task
    (no posexplode + window-lead shuffle), then explode + hash agg with
    map-side combine.  Rows with < 2 tokens contribute nothing."""
    t = tokens_col
    pairs = F.expr(
        f"transform(sequence(1, size({t}) - 1),"
        f" i -> struct({t}[i-1] as a, {t}[i] as b))")
    return (
        seqs.where(F.size(t) >= 2)
        .select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.a").alias("tok_a"), F.col("p.b").alias("tok_b"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _merge_flat(flat: np.ndarray, row: np.ndarray, a: int, b: int,
                c: int) -> tuple[np.ndarray, np.ndarray]:
    """One greedy left-to-right merge (a,b)->c over a flattened token
    stream.  `row` marks each position's row id (pairs never straddle
    rows).  Returns (new_flat, merges_per_row_counts_by_row_id).
    Fully vectorized; the a==b case resolves run overlap by keeping
    candidates at even offset within each run of a's."""
    n = flat.shape[0]
    if n < 2:
        return flat, np.zeros(0, dtype=np.int64)
    cand = np.zeros(n, dtype=bool)
    cand[:-1] = (flat[:-1] == a) & (flat[1:] == b) & (row[:-1] == row[1:])
    if a == b and cand.any():
        idx = np.arange(n, dtype=np.int64)
        is_a = (flat == a)
        # run start: an 'a' whose predecessor is not an 'a' in the same
        # row; propagate the latest start index forward, offset = idx -
        # start (only consulted where cand, which implies is_a, so the
        # zero-fill before the first run never leaks into a decision)
        start = is_a.copy()
        start[1:] &= ~(is_a[:-1] & (row[:-1] == row[1:]))
        run_start = np.maximum.accumulate(np.where(start, idx, 0))
        cand &= ((idx - run_start) % 2) == 0
        # even-offset candidates in one run are 2 apart -> disjoint
    keep = cand
    if not keep.any():
        return flat, np.zeros(0, dtype=np.int64)
    out = flat.copy()
    out[keep] = c
    consumed = np.zeros(n, dtype=bool)
    consumed[1:] = keep[:-1]
    per_row = np.bincount(row[keep])
    return out[~consumed], per_row


def _seq_batches(tokens: pd.Series) -> tuple[np.ndarray, np.ndarray,
                                             np.ndarray]:
    """Flatten a pandas column of token arrays: (flat, row_ids, lens)."""
    arrs = [np.asarray(s, dtype=np.int64) for s in tokens]
    lens = np.fromiter((a.shape[0] for a in arrs), dtype=np.int64,
                       count=len(arrs))
    flat = (np.concatenate(arrs) if arrs else
            np.zeros(0, dtype=np.int64))
    row = np.repeat(np.arange(len(arrs), dtype=np.int64), lens)
    return flat, row, lens


def _pair_counts_after_merges_kernel(merges: Sequence[tuple[int, int, int]],
                                     tokens_col: str):
    """mapInPandas kernel: re-apply `merges` in rank order to each batch
    (vectorized, exactly `_merge_flat`), then emit PARTIAL pair counts
    (tok_a, tok_b, cnt) via one np.unique over the packed int64 pair
    keys — the numpy twin of `pair_counts` fused with the merge pass.
    One row per distinct pair per batch reaches the exchange; no JVM
    struct explode, no materialized merged working set."""
    def kern(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            flat, row, lens = _seq_batches(pdf[tokens_col])
            for a, b, c in merges:
                flat, per_row = _merge_flat(flat, row, a, b, c)
                if per_row.shape[0]:
                    lens = lens.copy()
                    lens[:per_row.shape[0]] -= per_row
                    row = np.repeat(
                        np.arange(lens.shape[0], dtype=np.int64), lens)
            if flat.shape[0] < 2:
                continue
            mask = row[:-1] == row[1:]
            if not mask.any():
                continue
            # pack the int32 pair (a, b) into one int64 key: a in the high
            # half, b's 32-bit pattern in the low half (masked, so a
            # negative b cannot set the high bits); unpacking reads the
            # low half back through int32
            low32 = np.int64(0xFFFFFFFF)
            key = ((flat[:-1][mask] << np.int64(32))
                   | (flat[1:][mask] & low32))
            uniq, cnt = np.unique(key, return_counts=True)
            yield pd.DataFrame({
                "tok_a": (uniq >> np.int64(32)).astype(np.int64),
                "tok_b": (uniq & low32).astype(np.int32).astype(np.int64),
                "cnt": cnt.astype(np.int64),
            })
    return kern


def _apply_merges_kernel(merges: Sequence[tuple[int, int, int]],
                         id_col: str, tokens_col: str):
    """mapInPandas kernel applying `merges` in rank order: per merge one
    vectorized pass over the batch's flat stream."""
    def kern(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            flat, row, lens = _seq_batches(pdf[tokens_col])
            for a, b, c in merges:
                flat, per_row = _merge_flat(flat, row, a, b, c)
                if per_row.shape[0]:
                    lens = lens.copy()
                    lens[:per_row.shape[0]] -= per_row
                    row = np.repeat(
                        np.arange(lens.shape[0], dtype=np.int64), lens)
            bounds = np.cumsum(lens)[:-1]
            outs = [arr.astype(np.int32)
                    for arr in np.split(flat, bounds)]
            yield pd.DataFrame({
                id_col: pdf[id_col].to_numpy(),
                tokens_col: outs,
                "n_tok": lens.astype(np.int32),
            })
    return kern


def apply_bpe(
    seqs: DataFrame,
    merges: DataFrame | Sequence[tuple[int, int, int]],
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
) -> DataFrame:
    """Re-tokenize every sequence with a learned merge table — the op
    that actually runs at 100 TB (learning is sample-sized, applying is
    corpus-sized).  ONE map-only pass, zero exchanges: the merge table
    is vocab-bounded and ships in the task closure, each merge is one
    vectorized numpy pass over the Arrow batch.

    `merges` is `learn_bpe`'s output frame (collected here — it is tiny
    by construction) or an explicit [(tok_a, tok_b, new_id), ...] in
    rank order.  Output: (id_col, tokens_col, n_tok)."""
    if isinstance(merges, DataFrame):
        rows = merges.orderBy("rank").collect()
        merges = [(r.tok_a, r.tok_b, r.new_id) for r in rows]
    merges = [(int(a), int(b), int(c)) for a, b, c in merges]
    id_t = seqs.schema[id_col].dataType.simpleString()
    return seqs.select(id_col, tokens_col).mapInPandas(
        _apply_merges_kernel(merges, id_col, tokens_col),
        schema=f"{id_col} {id_t}, {tokens_col} array<int>, n_tok int",
    )


def learn_bpe(
    seqs: DataFrame,
    n_merges: int = 8,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    min_count: int = 2,
    new_id_start: int | None = None,
    sample_fraction: float | None = None,
    materialize_every: int = 16,
) -> DataFrame:
    """Learn `n_merges` BPE merges over the corpus.  EAGER: runs ONE
    job per merge at call time — a fused mapInPandas pass that
    re-applies the merges learned so far to each Arrow batch and emits
    numpy-partial pair counts directly (no JVM struct explode, no
    materialized merged working set) — same documented eager posture as
    `dedup.connected_components`.  Stops early when the best remaining
    pair's count falls below `min_count`.

    Re-applying an unbounded merge prefix each round would cost O(k^2)
    vectorized passes at large k, so every `materialize_every` merges
    the accumulated prefix is folded into a localCheckpoint-ed working
    set and the re-apply list resets — checkpoint writes stay
    O(k / materialize_every) while per-round re-apply passes stay
    < materialize_every.  At the default 16, a typical 8-merge contract
    call never checkpoints at all.

    Returns (rank, tok_a, tok_b, new_id, pair_count), new_id =
    new_id_start + rank.  Pass `new_id_start` explicitly to keep the
    call action-free of the extra max-token job (and to let an oracle
    embed the same literal); when omitted, one job reads
    max(token) + 1.  `sample_fraction` learns on a deterministic hash
    sample of the docs (sampling.hash_sample semantics) — the standard
    posture for web-scale corpora, since merge ranking only needs
    frequency estimates."""
    spark = seqs.sparkSession
    if n_merges < 0:
        raise ValueError("learn_bpe: n_merges must be >= 0")
    if min_count < 1:
        raise ValueError("learn_bpe: min_count must be >= 1")
    if materialize_every < 1:
        raise ValueError("learn_bpe: materialize_every must be >= 1")
    id_t = seqs.schema[id_col].dataType.simpleString()
    base = seqs.select(id_col, tokens_col).where(F.size(tokens_col) >= 2)
    if sample_fraction is not None:
        from ts2g2_spark.operators.sampling import hash_sample
        base = hash_sample(base, sample_fraction, key_col=id_col)
    if new_id_start is None:
        row = base.agg(F.max(F.array_max(tokens_col)).alias("m")).first()
        new_id_start = (int(row.m) + 1) if row.m is not None else 0
    merges: list[tuple[int, int, int, int, int]] = []
    pending: list[tuple[int, int, int]] = []  # merges not yet folded in
    prev_ckpt = None
    if n_merges > 1:
        # materialize the (possibly sampled) working set ONCE so the
        # per-round fused job reads tokens instead of re-deriving the
        # source lineage (tokenize/filter/sample) every round; strictly
        # cheaper than the pre-r5 posture of checkpointing every round
        base = base.localCheckpoint(eager=True)
        prev_ckpt = base
    for rank in range(n_merges):
        best = (
            base.mapInPandas(
                _pair_counts_after_merges_kernel(pending, tokens_col),
                schema="tok_a long, tok_b long, cnt long")
            .groupBy("tok_a", "tok_b")
            .agg(F.sum("cnt").alias("cnt"))
            .orderBy(F.desc("cnt"), "tok_a", "tok_b")
            .limit(1).collect())
        if not best or best[0].cnt < min_count:
            break
        a, b, cnt = int(best[0].tok_a), int(best[0].tok_b), int(best[0].cnt)
        c = new_id_start + rank
        merges.append((rank, a, b, c, cnt))
        pending.append((a, b, c))
        if len(pending) >= materialize_every:
            base = base.mapInPandas(
                _apply_merges_kernel(pending, id_col, tokens_col),
                schema=f"{id_col} {id_t}, {tokens_col} array<int>, "
                       f"n_tok int",
            ).drop("n_tok").localCheckpoint()  # eager: truncate lineage
            if prev_ckpt is not None:
                prev_ckpt.unpersist()
            prev_ckpt = base
            pending = []
    out = spark.createDataFrame(
        [tuple(m) for m in merges], schema=MERGE_SCHEMA)
    if prev_ckpt is not None:
        prev_ckpt.unpersist()
    return out
