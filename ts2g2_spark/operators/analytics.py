"""Embedding / analytics operators (SURVEY §2.6, E1 + E2 + E4).

E2 is closed dependency-free: the walk corpus bit-matches networkx, and
walk_pmi_embedding replaces the reference's gensim Doc2Vec with the
SGNS-equivalent SPPMI factorization (Levy & Goldberg 2014) — a
deterministic closed-form model over the same corpus; walk_hash_embedding
remains as the cheap streaming-friendly variant.  E3 (TS2Vec) stays out:
the reference's vendored ts2vec directory is empty upstream
(embeddings/ts2g2_embeddings.py:122 import fails there too, SURVEY §2.6).

The per-series kernels (the centralities, the walk corpus) and
kendall_tau_fast's one-row inversion count run map-only on the package's
one emitter (`emit._map_segments`, operators/emit.py), one kernel call
per packed row.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ts2g2_spark.operators import emit


# ------------------------------------------------------------------ E1
def eigenvector_centrality_kernel(
    n: int, src: np.ndarray, dst: np.ndarray
) -> np.ndarray:
    """Eigenvector centrality of an undirected graph, matching
    nx.eigenvector_centrality_numpy (ref core/model.py:433: the reference
    then takes `list(dict)` — the node KEYS, not the centralities; the
    engine implements the documented intent, the centrality VECTOR):
    dominant eigenvector of the adjacency matrix, L2-normalized, sign
    chosen so the sum is positive."""
    if n == 0:
        return np.empty(0)
    A = np.zeros((n, n))
    if len(src) and (src.max() >= n or dst.max() >= n
                     or src.min() < 0 or dst.min() < 0):
        raise ValueError(
            f"eigenvector_centrality: edge node ids outside [0, {n}) "
            f"(min {int(min(src.min(), dst.min()))}, "
            f"max {int(max(src.max(), dst.max()))}) — node ids must be "
            f"the 0-based insertion positions")
    A[src, dst] = 1.0
    A[dst, src] = 1.0
    vals, vecs = np.linalg.eigh(A)
    v = vecs[:, int(np.argmax(vals))]
    v = v * np.sign(v.sum() or 1.0)
    nrm = np.linalg.norm(v)
    return v / nrm if nrm else v


def eigenvector_centrality(
    edges: DataFrame, node_counts: DataFrame | None = None
) -> DataFrame:
    """Per-series eigenvector-centrality embedding from an edge frame
    (series_key, src, dst).  Per-series graphs are segment-sized, so one
    groupBy packs the adjacency and a map-only Arrow kernel solves each —
    no iterative join-agg rounds on the cluster (SURVEY §2.6 E1).

    Node-count semantics: without `node_counts`, n is inferred as
    max(src, dst)+1 from the edges — TRAILING isolated nodes are excluded
    from the embedding and series with zero edges produce no output row
    (fine for visibility graphs, whose consecutive-point edges touch every
    node).  For general graphs pass `node_counts` (series_key, n): the
    embedding is then sized to n (isolated nodes get their true zero-ish
    centrality) and edgeless series emit a DEGENERATE unit basis vector
    [0, ..., 0, 1] — eigh of the zero matrix returns the identity and
    the kernel takes its last column, NOT an all-equal vector;
    centrality is meaningless on an edgeless graph, so callers should
    filter edgeless series upstream rather than interpret that row.
    node_counts also DEFINES the output universe: series present in
    edges but absent from node_counts are excluded; a series whose
    edges reference nodes >= its declared n raises a ValueError naming
    the violation (not an opaque IndexError)."""
    packed = edges.groupBy("series_key").agg(
        F.collect_list("src").alias("srcs"),
        F.collect_list("dst").alias("dsts"),
        (F.greatest(F.max("src"), F.max("dst")) + 1).alias("n"),
    )
    if node_counts is not None:
        packed = (
            node_counts.select("series_key", F.col("n").alias("n_true"))
            .join(packed.drop("n"), "series_key", "left")
            .select(
                "series_key",
                F.coalesce("srcs", F.array().cast("array<long>"))
                .alias("srcs"),
                F.coalesce("dsts", F.array().cast("array<long>"))
                .alias("dsts"),
                F.col("n_true").alias("n"),
            )
        )

    def row(_key, srcs, dsts, n):
        return [eigenvector_centrality_kernel(int(n), srcs, dsts)],

    return emit._map_segments(
        packed.select("series_key", "srcs", "dsts", "n"),
        "series_key string, embedding array<double>",
        emit._row_kernel([("embedding", "array<double>")], row))


def power_centrality_kernel(
    n: int, src: np.ndarray, dst: np.ndarray, n_iter: int = 32
) -> np.ndarray:
    """Eigenvector centrality by FIXED-ITERATION power method with a
    pinned floating-point op order, so the result is REPLAYABLE in any
    engine (the eigh kernel above matches networkx but a dense
    eigensolver has no ANSI-SQL twin — this variant does):

      x_0[u] = 1.0
      y_i[u] = left fold starting from x_{i-1}[u] (the A+I shift
               networkx uses — plain A oscillates on bipartite graphs,
               and path-like visibility graphs can be bipartite), then
               adding x_{i-1}[v] over neighbors v in ASCENDING v order
               (sequential adds — np.add.accumulate, which is bit-exact
               sequential, pinned in tests; np.add.reduce / reduceat
               are PAIRWISE and must never touch these sums)
      x_i    = y_i / sqrt(left fold of y_i[u]^2 in ascending u order)

    Every operation is an IEEE double add/mul/div/sqrt in a total
    order, so a SQL twin folding with list_reduce over the same sorted
    lists ([x_u] || neighbor values) produces bit-identical doubles —
    no rounding contract needed.  The output is DEFINED as the
    n_iter-round iterate (a deterministic quantity); A+I shares A's
    eigenvectors with spectrum shifted to lambda+1, so the iterate
    converges to the eigh dominant eigenvector on connected graphs
    (visibility graphs always are: consecutive points share an edge),
    bipartite included.  Closeness to the eigensolver is pinned
    loosely in tests; the replay contract is exact.

    Isolated nodes decay geometrically toward their true centrality 0
    (networkx behaves identically); an edgeless graph fixes at the
    uniform vector — centrality is meaningless there, callers filter
    such series upstream."""
    if n == 0:
        return np.empty(0)
    if len(src) and (src.max() >= n or dst.max() >= n
                     or src.min() < 0 or dst.min() < 0):
        raise ValueError(
            f"power_centrality: edge node ids outside [0, {n})")
    nodes = np.concatenate([src, dst])
    nbrs = np.concatenate([dst, src])
    order = np.lexsort((nbrs, nodes))
    nodes_s, nbrs_s = nodes[order], nbrs[order]
    # segment bounds per node (possibly empty)
    starts = np.searchsorted(nodes_s, np.arange(n), side="left")
    ends = np.searchsorted(nodes_s, np.arange(n), side="right")
    x = np.ones(n)
    for _ in range(n_iter):
        y = np.empty(n)
        vals = x[nbrs_s]
        for u in range(n):
            s, e = starts[u], ends[u]
            # A+I: the fold STARTS from x[u], then adds neighbor
            # values in ascending-neighbor order — one accumulate over
            # the prepended segment keeps the op order total
            if e > s:
                y[u] = np.add.accumulate(
                    np.concatenate(([x[u]], vals[s:e])))[-1]
            else:
                y[u] = x[u]
        nsq = np.add.accumulate(y * y)[-1]
        x = y / np.sqrt(nsq)
    return x


def eigenvector_centrality_power(
    edges: DataFrame, n_iter: int = 32
) -> DataFrame:
    """Per-series eigenvector centrality via the replayable fixed-
    iteration power kernel (one row per (series_key, node)) — same
    packing shape as `eigenvector_centrality` (per-series graphs are
    segment-sized; one groupBy + a map-only Arrow kernel, no iterative
    join-agg rounds on the cluster), but every float op has a pinned
    order so a SQL oracle can replay the values bit-exactly.  n is
    inferred as max(src, dst)+1 (trailing isolated nodes excluded,
    fine for visibility graphs)."""
    packed = edges.groupBy("series_key").agg(
        F.collect_list("src").alias("srcs"),
        F.collect_list("dst").alias("dsts"),
        (F.greatest(F.max("src"), F.max("dst")) + 1).alias("n"),
    )

    def row(_key, srcs, dsts, n):
        v = power_centrality_kernel(int(n), srcs, dsts, n_iter=n_iter)
        return np.arange(len(v)), v

    return emit._map_segments(
        packed.select("series_key", "srcs", "dsts", "n"),
        "series_key string, node int, centrality double",
        emit._row_kernel([("node", "int"), ("centrality", "double")], row))


# ------------------------------------------------------------------ E2
def random_walk_paths_kernel(
    srcs, dsts, sample_size: int, path_length: int,
    rs: np.random.RandomState,
) -> list[list[int]]:
    """The Spark-substantive half of E2 Doc2Vec (ref
    embeddings/ts2g2_embeddings.py:132-141: nx.generate_random_paths with
    sample_size=15, path_length=45; the gensim model itself is out of
    scope — gensim absent).  Replicates networkx's exact algorithm and RNG
    call sequence (randint start + per-step choice over the row of the
    reciprocal-normalized adjacency), so a RandomState-seeded run is
    bit-identical to nx.generate_random_paths on the same node order
    (pinned in tests/test_analytics.py).

    Node order = first appearance scanning edge rows (src then dst) — the
    nx.from_pandas_edgelist insertion order for the same row order."""
    order: dict[int, int] = {}
    for s, d in zip(srcs, dsts):
        if s not in order:
            order[s] = len(order)
        if d not in order:
            order[d] = len(order)
    n = len(order)
    if n == 0:
        return []
    A = np.zeros((n, n))
    for s, d in zip(srcs, dsts):
        A[order[s], order[d]] = 1.0
        A[order[d], order[s]] = 1.0
    # nx uses adj * reciprocal(row_sums), not division — keep the literal
    # expression so the probability vectors are bit-identical
    P = A * np.reciprocal(A.sum(axis=1).reshape(-1, 1))
    node_map = list(order)
    paths = []
    for _ in range(sample_size):
        cur = int(rs.randint(n))
        path = [node_map[cur]]
        for _ in range(path_length):
            cur = int(rs.choice(n, p=P[cur]))
            path.append(node_map[cur])
        paths.append(path)
    return paths


def random_walk_corpus(
    edges: DataFrame,
    sample_size: int = 15,
    path_length: int = 45,
    run_seed: int = 42,
) -> DataFrame:
    """Per-series random-walk corpus for graph embeddings (E2): walks as
    string-token documents, one row per walk (series_key, walk_id,
    walk array<string>) — the TaggedDocument input the reference feeds
    gensim (ts2g2_embeddings.py:139-152).

    Seeding: deterministic per-series RandomState derived from
    (run_seed, series_key) via crc32 (the reference walks with the
    UNSEEDED numpy global — replayability here is an engine guarantee,
    SURVEY §4.3).  Edge rows are sorted (src, dst) before the kernel so
    the node insertion order — and therefore the walks — are independent
    of shuffle order."""
    from ts2g2_spark.operators.generate import _seeds

    e = F.array_sort(F.collect_list(F.struct("src", "dst")))
    packed = edges.groupBy("series_key").agg(
        F.transform(e, lambda s: s["src"]).alias("srcs"),
        F.transform(e, lambda s: s["dst"]).alias("dsts"))

    def row(key, srcs, dsts):
        _, np_seed = _seeds(run_seed, key)
        walks = random_walk_paths_kernel(
            srcs.tolist(), dsts.tolist(), sample_size, path_length,
            np.random.RandomState(np_seed))
        return (np.arange(len(walks)),
                [[str(x) for x in p] for p in walks])

    return emit._map_segments(
        packed, "series_key string, walk_id int, walk array<string>",
        emit._row_kernel([("walk_id", "int"), ("walk", "array<string>")],
                         row))


def walk_hash_embedding(
    walks: DataFrame, dim: int = 32
) -> DataFrame:
    """Graph embedding from the walk corpus WITHOUT gensim: feature-hashed
    bag-of-nodes — embedding[j] = L2-normalized count of walk tokens
    hashing (h64 mod dim) into bucket j.  The deterministic stand-in for
    the reference's Doc2Vec model (out of scope, gensim absent): same
    input corpus (random_walk_corpus), same downstream consumers
    (embedding_ranking / kendall_tau compose on top).

    Pure Catalyst after the walks: explode -> hash -> count per (series,
    bucket) -> dense vector via a map lookup — partial-agg'd, the
    exchange carries at most `dim` rows per series."""
    from ts2g2_spark.functions.hashing import h64

    counts = (
        walks.select("series_key", F.explode("walk").alias("tok"))
        .select("series_key",
                F.pmod(h64(F.col("tok")), F.lit(dim)).alias("bucket"))
        .groupBy("series_key", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    packed = counts.groupBy("series_key").agg(
        F.map_from_entries(
            F.collect_list(F.struct("bucket", "c"))).alias("m"))
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(
            F.element_at("m", i.cast("long")), F.lit(0)).cast("double"),
    )
    norm = F.sqrt(F.aggregate(
        vec, F.lit(0.0), lambda acc, x: acc + x * x))
    return packed.select(
        "series_key",
        F.transform(vec, lambda x: x / norm).alias("embedding"),
    )


def walk_pmi_embedding(
    walks: DataFrame,
    dim: int = 20,
    shift: float = 1.0,
    max_cells: int = 5_000_000,
    max_dense: int = 50_000_000,
) -> DataFrame:
    """SGNS-equivalent graph embedding from the walk corpus WITHOUT
    gensim — the principled completion of E2 (reference
    embeddings/ts2g2_embeddings.py:142-152 trains gensim
    Doc2Vec(vector_size=20, min_count=1) over the tagged walks): skip-
    gram with negative sampling implicitly factorizes the shifted PPMI
    matrix shifted by log(k_neg) (Levy & Goldberg, NeurIPS 2014), so we
    factorize the
    (series x walk-token) SPPMI matrix with a deterministic SVD
    (default shift=1 = plain PPMI = one negative sample, the right
    regime for small graph-walk vocabularies; raise it for web-scale
    corpora) —
    same input corpus (random_walk_corpus), same downstream consumers
    (embedding_ranking / kendall_tau), but a closed-form model with no
    SGD, no seeds, no dependency.

    Scale split: the corpus-proportional work — token co-occurrence
    counting — is ONE partial-agg'd groupBy (the exchange carries one
    row per distinct (series, token), not per token occurrence).  Only
    the nonzero count cells cross to the driver, behind TWO explicit
    guards (max_cells on the transfer, max_dense on the n_series x
    vocab SVD matrix) that raise loudly instead of OOMing — the same
    'vocab fits one machine' bound every word2vec trainer assumes.  At
    larger scale the factorization step swaps for block power iteration
    over the same cell frame; the counting stage is unchanged.

    Determinism: counts are exact; rows/columns are sorted by key
    before the matrix build (collection order independent); SVD signs
    are canonicalized (largest-magnitude loading positive per
    component).  embedding = L2-normalized U_k * sqrt(S_k), zero-padded
    to `dim` when the matrix rank is smaller."""
    spark = walks.sparkSession
    cells_df = (
        walks.select("series_key", F.explode("walk").alias("tok"))
        .groupBy("series_key", "tok")
        .agg(F.count(F.lit(1)).alias("n_dw"))
    )
    cells = cells_df.limit(max_cells + 1).toPandas()
    if len(cells) > max_cells:
        raise ValueError(
            f"walk_pmi_embedding: >{max_cells} nonzero (series, token) "
            "cells; raise max_cells or switch the factorization to the "
            "distributed block path")
    out_schema = "series_key string, embedding array<double>"
    if cells.empty:
        return spark.createDataFrame([], out_schema)

    keys = np.sort(cells["series_key"].unique())
    toks = np.sort(cells["tok"].unique())
    if len(keys) * len(toks) > max_dense:
        raise ValueError(
            f"walk_pmi_embedding: dense SPPMI matrix "
            f"{len(keys)}x{len(toks)} exceeds max_dense={max_dense}")
    ki = {k: i for i, k in enumerate(keys)}
    ti = {t: j for j, t in enumerate(toks)}
    M = np.zeros((len(keys), len(toks)))
    M[cells["series_key"].map(ki), cells["tok"].map(ti)] = (
        cells["n_dw"].to_numpy(dtype=np.float64))
    n_d = M.sum(axis=1, keepdims=True)
    n_w = M.sum(axis=0, keepdims=True)
    N = M.sum()
    with np.errstate(divide="ignore"):
        pmi = np.log(np.where(M > 0, M * N / (n_d * n_w), 1.0))
    # shift applies to OBSERVED cells only: a zero count has PMI -inf,
    # so its SPPMI is 0 for ANY shift — the where() keeps that true for
    # shift < 1 too (the placeholder 1.0 above would otherwise hand
    # zero cells a spurious -log(shift) > 0 weight)
    if shift <= 0:
        raise ValueError(f"walk_pmi_embedding: shift must be > 0, "
                         f"got {shift}")
    sppmi = np.where(M > 0, np.maximum(pmi - np.log(shift), 0.0), 0.0)

    U, S, _ = np.linalg.svd(sppmi, full_matrices=False)
    k = min(dim, len(S))
    U, S = U[:, :k], S[:k]
    flip = np.where(
        U[np.abs(U).argmax(axis=0), np.arange(k)] < 0, -1.0, 1.0)
    emb = (U * flip) * np.sqrt(S)
    norms = np.linalg.norm(emb, axis=1, keepdims=True)
    emb = np.where(norms > 0, emb / np.where(norms > 0, norms, 1.0), 0.0)
    if k < dim:
        emb = np.hstack([emb, np.zeros((len(keys), dim - k))])
    # Arrow-backed return (a real list<double> column built from the
    # flat ndarray), not boxed row tuples: near the max_cells guard the
    # row path would materialize millions of boxed floats on the driver
    # that the compact input transfer just avoided
    import pyarrow as pa

    n, d = emb.shape
    arr = pa.ListArray.from_arrays(
        pa.array(np.arange(0, (n + 1) * d, d, dtype=np.int32)),
        pa.array(emb.ravel()))
    return spark.createDataFrame(
        pa.table({"series_key": pa.array([str(k) for k in keys]),
                  "embedding": arr}),
        out_schema)


# ------------------------------------------------------------------ E4
def embedding_ranking(
    embeddings: DataFrame,
    id_col: str = "id",
    method_col: str = "method",
    vector_col: str = "vector",
    base_value: float = 0.5,
) -> DataFrame:
    """Cosine-distance-to-constant-base ranking per embedding method (ref
    embeddings/ts2g2_embeddings.py:65-88: distance = 1 - cos(v, [0.5]*d),
    sort by (distance, id) — the reference's `sorted(zip(distances, ids))`
    tie-breaks by id).  Pure DataFrame: the dot product against a constant
    vector reduces to base * sum(v), so distance = 1 - base*sum(v) /
    (|base_vec| * |v|) — no UDF, and rank() is a window over method."""
    d = F.size(F.col(vector_col))
    sum_v = F.aggregate(vector_col, F.lit(0.0), lambda a, x: a + x)
    norm_v = F.sqrt(F.aggregate(
        vector_col, F.lit(0.0), lambda a, x: a + x * x))
    norm_b = F.sqrt(d.cast("double")) * F.lit(base_value)
    # zero-norm guard: cosine of a degenerate vector is undefined — emit
    # NULL and sort it LAST (the reference's numpy cosine yields NaN; a
    # bare division would produce a null that Spark sorts FIRST, silently
    # handing rank 1 to the degenerate vector)
    dist = F.when(norm_v == 0, F.lit(None).cast("double")).otherwise(
        F.lit(1.0) - (F.lit(base_value) * sum_v) / (norm_b * norm_v))
    ranked = embeddings.select(
        F.col(method_col).alias("method"),
        F.col(id_col).alias("id"),
        dist.alias("distance"),
    ).withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy("method").orderBy(
                F.col("distance").asc_nulls_last(), "id")),
    )
    return ranked


def _count_inversions(arr: np.ndarray) -> int:
    """Divide-and-conquer inversion count, vectorized merges via
    searchsorted — O(n log^2 n) numpy ops, no Python inner loop.
    Assumes distinct values (ranks from row_number are)."""
    def rec(a: np.ndarray) -> tuple[np.ndarray, int]:
        if len(a) <= 1:
            return a, 0
        mid = len(a) // 2
        left, il = rec(a[:mid])
        right, ir = rec(a[mid:])
        # cross inversions: pairs (x in left-half, y in right-half, x > y)
        pos = np.searchsorted(left, right, side="left")
        cross = int((len(left) - pos).sum())
        return np.sort(np.concatenate([left, right])), il + ir + cross

    return rec(np.asarray(arr))[1]


def kendall_tau_fast(
    ranking_a: DataFrame, ranking_b: DataFrame
) -> DataFrame:
    """Exact Kendall tau in O(n log n): with distinct ranks,
    concordant - discordant = total_pairs - 2 * inversions of the
    rb-sequence ordered by ra.  The rank pairs for ONE ranking funnel
    into a single kernel row (array-sort aggregate), so this trades the
    pair self-join's O(n^2) shuffle rows for one task holding 2n longs —
    the right trade up to ~1e7-element rankings; beyond that use
    kendall_tau (fully distributed pair join, same result)."""
    a = ranking_a.select(F.col("id"), F.col("rank").alias("ra"))
    b = ranking_b.select(F.col("id"), F.col("rank").alias("rb"))
    packed = a.join(b, "id").agg(F.transform(
        F.array_sort(F.collect_list(F.struct("ra", "rb"))),
        lambda p: p["rb"]).alias("rb"))  # rb ordered by ra

    def row(_key, rb):
        n = len(rb)
        total = n * (n - 1) // 2
        if total == 0:
            return [float("nan")],
        inv = _count_inversions(rb.astype(np.int64))
        return [(total - 2 * inv) / total],

    # one row, keyed by a constant for the emitter
    return emit._map_segments(
        packed.select(F.lit("").alias("series_key"), "rb"),
        "series_key string, tau double",
        emit._row_kernel([("tau", "double")], row)).select("tau")


def kendall_tau(
    ranking_a: DataFrame, ranking_b: DataFrame
) -> DataFrame:
    """Exact Kendall tau between two rankings (id, rank) — the reference
    correlates the distance-ordered id sequences
    (embeddings/ts2g2_embeddings.py:91-95); with distinct ranks that
    equals tau over per-id rank pairs.  O(n^2) pair self-join + aggregate:
    Spark-native, partial-agg'd, no driver collect (SURVEY §2.6 E4)."""
    a = ranking_a.select(F.col("id").alias("id"),
                         F.col("rank").alias("ra"))
    b = ranking_b.select(F.col("id").alias("id"),
                         F.col("rank").alias("rb"))
    j = a.join(b, "id")
    p = (
        j.alias("x").join(j.alias("y"),
                          F.col("x.id") < F.col("y.id"))
        .select(
            (F.signum(F.col("x.ra") - F.col("y.ra"))
             * F.signum(F.col("x.rb") - F.col("y.rb"))).alias("s"))
    )
    return p.agg(
        (F.sum(F.when(F.col("s") > 0, 1).otherwise(0))
         - F.sum(F.when(F.col("s") < 0, 1).otherwise(0))).alias("cd"),
        F.count(F.lit(1)).alias("pairs"),
    ).select((F.col("cd") / F.col("pairs")).alias("tau"))
