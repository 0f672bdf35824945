"""Analytics operators (SURVEY §2.6 E1/E4) vs reference + networkx."""

from __future__ import annotations

import numpy as np
import pytest

from ts2g2_spark.operators import analytics


def test_eigenvector_centrality_matches_networkx():
    import networkx as nx

    rng = np.random.default_rng(4)
    for trial in range(5):
        n = int(rng.integers(4, 12))
        g = nx.gnp_random_graph(n, 0.5, seed=int(rng.integers(1e6)))
        if not nx.is_connected(g):
            g = nx.compose(g, nx.path_graph(n))
        # eigenvector_centrality_numpy needs scipy.sparse (absent here);
        # the pure-python power iteration converges to the same dominant
        # eigenvector (nx normalizes to L2 norm 1, like the kernel)
        ref = nx.eigenvector_centrality(g, max_iter=2000, tol=1e-12)
        e = np.array(g.edges(), dtype=np.int64)
        got = analytics.eigenvector_centrality_kernel(n, e[:, 0], e[:, 1])
        want = np.array([ref[i] for i in range(n)])
        assert np.allclose(np.abs(got), np.abs(want), atol=1e-6)


def test_eigenvector_centrality_spark(spark):
    import networkx as nx

    g = nx.path_graph(5)
    edges = spark.createDataFrame(
        [("s", int(a), int(b)) for a, b in g.edges()],
        "series_key string, src long, dst long")
    row = analytics.eigenvector_centrality(edges).collect()[0]
    ref = nx.eigenvector_centrality(g, max_iter=2000, tol=1e-12)
    assert np.allclose(row.embedding,
                       [ref[i] for i in range(5)], atol=1e-6)


def test_embedding_ranking_and_tau_parity(spark, reference):
    """Reference EmbeddingRanking with hand-set embedding dictionaries
    (embeddings/ts2g2_embeddings.py:65-95) vs the engine's DataFrame
    ranking + exact-pair Kendall tau.

    The reference module's TAIL imports gensim / torch / its own (empty
    upstream) vendored ts2vec (lines 108-126), so the module can't import
    anywhere; EmbeddingRanking itself (lines 28-102) only needs
    numpy + scipy.stats — exec just that prefix as the oracle."""
    src = open("/root/reference/embeddings/ts2g2_embeddings.py").read()
    prefix = src.split("import networkx as nx", 1)[0]
    prefix = prefix.replace("from core.model import TimeseriesView",
                            "TimeseriesView = object")
    ns: dict = {}
    exec(compile(prefix, "ts2g2_embeddings_prefix", "exec"), ns)
    EmbeddingRanking = ns["EmbeddingRanking"]

    rng = np.random.default_rng(8)
    ids = list("abcde")
    d = 6
    emb0 = {i: rng.uniform(0, 1, d) for i in ids}
    emb1 = {i: rng.uniform(0, 1, d) for i in ids}

    er = EmbeddingRanking(embedding_length=d)
    er.to_graph_methods = [object()]  # one graph method
    er.dictionaries = [emb0, emb1]
    er.embedding_ranking()
    ref_tau = er.kendall_tau_correlation()[0]

    rows = [(i, "m0", emb0[i].tolist()) for i in ids] + [
        (i, "m1", emb1[i].tolist()) for i in ids]
    df = spark.createDataFrame(rows, "id string, method string, "
                                     "vector array<double>")
    ranked = analytics.embedding_ranking(df)
    got_order = {
        m: [r.id for r in ranked.where(ranked.method == m)
            .orderBy("rank").collect()]
        for m in ("m0", "m1")
    }
    assert got_order["m0"] == er.ranking[0]
    assert got_order["m1"] == er.ranking[1]

    tau = analytics.kendall_tau(
        ranked.where(ranked.method == "m0"),
        ranked.where(ranked.method == "m1")).collect()[0].tau
    assert tau == pytest.approx(ref_tau, abs=1e-12)


def test_eigenvector_centrality_node_counts(spark):
    """With node_counts: trailing isolated nodes are kept (embedding sized
    to n) and edgeless series still emit a row."""
    import networkx as nx

    edges = spark.createDataFrame(
        [("s", 0, 1), ("s", 1, 2)],
        "series_key string, src long, dst long")
    counts = spark.createDataFrame(
        [("s", 5), ("empty", 3)], "series_key string, n long")
    rows = {r.series_key: r for r in analytics.eigenvector_centrality(
        edges, node_counts=counts).collect()}
    assert len(rows["s"].embedding) == 5  # nodes 3,4 isolated but present
    g = nx.path_graph(3)
    ref = nx.eigenvector_centrality(g, max_iter=2000, tol=1e-12)
    # path-graph part dominates; isolated nodes get ~0 centrality
    assert np.allclose(rows["s"].embedding[:3],
                       [ref[i] for i in range(3)], atol=1e-6)
    assert np.allclose(rows["s"].embedding[3:], 0.0, atol=1e-9)
    assert len(rows["empty"].embedding) == 3  # edgeless series emits a row


def test_embedding_ranking_zero_norm_sorts_last(spark):
    emb = spark.createDataFrame(
        [(1, "m", [1.0, 0.0]), (2, "m", [0.0, 0.0]), (3, "m", [0.0, 1.0])],
        "id long, method string, vector array<double>")
    rows = {r.id: r for r in analytics.embedding_ranking(emb).collect()}
    assert rows[2].distance is None
    assert rows[2].rank == 3  # degenerate vector cannot claim the top rank
    assert {rows[1].rank, rows[3].rank} == {1, 2}


# ------------------------------------------------------------------ E2
def test_random_walk_kernel_matches_networkx():
    """Bit-parity with nx.generate_random_paths (the reference's walk
    generator, embeddings/ts2g2_embeddings.py:132-141) on the same node
    order and RandomState."""
    import networkx as nx

    edges = [(0, 1), (1, 2), (2, 3), (3, 0), (1, 3)]
    g = nx.Graph()
    g.add_edges_from(edges)  # insertion order == edge-scan order
    for seed in (7, 42, 1234):
        ref = list(nx.generate_random_paths(
            g, sample_size=5, path_length=9,
            seed=np.random.RandomState(seed)))
        got = analytics.random_walk_paths_kernel(
            [e[0] for e in edges], [e[1] for e in edges],
            sample_size=5, path_length=9,
            rs=np.random.RandomState(seed))
        assert got == [list(p) for p in ref]


def test_random_walk_corpus_spark(spark):
    edges = spark.createDataFrame(
        [("s", 0, 1), ("s", 1, 2), ("s", 2, 0), ("t", 0, 1)],
        "series_key string, src long, dst long")
    out = analytics.random_walk_corpus(
        edges, sample_size=3, path_length=5, run_seed=9).collect()
    assert len(out) == 6  # 3 walks x 2 series
    by_series = {}
    for r in out:
        by_series.setdefault(r.series_key, []).append(r)
        assert len(r.walk) == 6  # start + path_length steps
    # single-edge graph "t": walks alternate between its two nodes
    for r in by_series["t"]:
        assert set(r.walk) <= {"0", "1"}
    # deterministic replay
    out2 = analytics.random_walk_corpus(
        edges, sample_size=3, path_length=5, run_seed=9).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_kendall_tau_fast_equals_pairjoin(spark):
    rng = np.random.default_rng(11)
    for n in (2, 3, 50, 200):
        ids = list(range(n))
        pa = rng.permutation(n) + 1
        pb = rng.permutation(n) + 1
        a = spark.createDataFrame(
            [(i, int(r)) for i, r in zip(ids, pa)], "id long, rank long")
        b = spark.createDataFrame(
            [(i, int(r)) for i, r in zip(ids, pb)], "id long, rank long")
        slow = analytics.kendall_tau(a, b).collect()[0].tau
        fast = analytics.kendall_tau_fast(a, b).collect()[0].tau
        assert abs(slow - fast) < 1e-12, (n, slow, fast)
    # no pair (an empty or 1-element ranking): tau is undefined, null
    one = spark.createDataFrame([(0, 1)], "id long, rank long")
    for x in (one, one.limit(0)):
        assert [tuple(r) for r in analytics.kendall_tau_fast(
            x, one).collect()] == [(None,)]


def test_count_inversions():
    assert analytics._count_inversions([1, 2, 3]) == 0
    assert analytics._count_inversions([3, 2, 1]) == 3
    rng = np.random.default_rng(3)
    x = rng.permutation(500)
    brute = sum(int(x[i] > x[j]) for i in range(len(x))
                for j in range(i + 1, len(x)))
    assert analytics._count_inversions(x) == brute


def test_walk_hash_embedding(spark):
    from ts2g2_spark.functions.hashing import h64_py

    walks = spark.createDataFrame(
        [("s", 0, ["0", "1", "0"]), ("s", 1, ["2", "0"]),
         ("t", 0, ["5"])],
        "series_key string, walk_id int, walk array<string>")
    out = {r.series_key: np.asarray(r.embedding) for r in
           analytics.walk_hash_embedding(walks, dim=8).collect()}
    # hand-compute series "s": tokens 0,1,0,2,0
    want = np.zeros(8)
    for tok in ["0", "1", "0", "2", "0"]:
        want[h64_py(tok) % 8] += 1
    want = want / np.linalg.norm(want)
    assert np.allclose(out["s"], want)
    assert np.isclose(np.linalg.norm(out["t"]), 1.0)
    # deterministic re-run
    out2 = {r.series_key: np.asarray(r.embedding) for r in
            analytics.walk_hash_embedding(walks, dim=8).collect()}
    assert np.allclose(out["s"], out2["s"])


def test_eigenvector_centrality_undersized_n_raises(spark):
    import pytest as _pytest

    edges = spark.createDataFrame(
        [("s", 0, 5)], "series_key string, src long, dst long")
    counts = spark.createDataFrame([("s", 3)], "series_key string, n long")
    with _pytest.raises(Exception, match="outside"):
        analytics.eigenvector_centrality(edges, node_counts=counts).collect()


def test_histogram_constant_series(spark):
    """np.histogram degenerate range: constant series expands to v±0.5
    with all mass in bin 5 (the oracle replicates this rule)."""
    from ts2g2_spark.operators import graphs

    s = spark.createDataFrame([("c", [2.0] * 7)],
                              "series_key string, values array<double>")
    r = graphs.histogram(s, 10).collect()[0]
    assert r.freqs[5] == 7 and sum(r.freqs) == 7
    assert r.bin_edges[0] == 1.5 and r.bin_edges[-1] == 2.5


def test_eigenvector_centrality_negative_id_raises():
    import pytest as _pytest

    with _pytest.raises(ValueError, match="outside"):
        analytics.eigenvector_centrality_kernel(
            3, np.array([-1]), np.array([0]))


def test_eigenvector_centrality_n_zero():
    assert len(analytics.eigenvector_centrality_kernel(
        0, np.array([], dtype=np.int64), np.array([], dtype=np.int64))) == 0


def _pmi_model(rows, dim, shift=1.0):
    """Independent SPPMI+SVD reference (Levy-Goldberg equivalence) built
    from raw (series_key, walk) rows with plain dict counting."""
    from collections import Counter

    cnt = Counter()
    for key, walk in rows:
        for tok in walk:
            cnt[(key, tok)] += 1
    keys = sorted({k for k, _ in cnt})
    toks = sorted({t for _, t in cnt})
    M = np.zeros((len(keys), len(toks)))
    for (k, t), c in cnt.items():
        M[keys.index(k), toks.index(t)] = c
    nd, nw, N = M.sum(1, keepdims=True), M.sum(0, keepdims=True), M.sum()
    with np.errstate(divide="ignore"):
        pmi = np.log(np.where(M > 0, M * N / (nd * nw), 1.0))
    sppmi = np.maximum(pmi - np.log(shift), 0.0)
    U, S, _ = np.linalg.svd(sppmi, full_matrices=False)
    k = min(dim, len(S))
    U, S = U[:, :k], S[:k]
    flip = np.where(U[np.abs(U).argmax(axis=0), np.arange(k)] < 0, -1, 1.0)
    emb = (U * flip) * np.sqrt(S)
    n = np.linalg.norm(emb, axis=1, keepdims=True)
    emb = np.where(n > 0, emb / np.where(n > 0, n, 1), 0.0)
    if k < dim:
        emb = np.hstack([emb, np.zeros((len(keys), dim - k))])
    return dict(zip(keys, emb))


def test_walk_pmi_embedding_matches_reference_model(spark):
    rng = np.random.default_rng(3)
    rows = []
    for key in ("a", "b", "c"):
        for w in range(4):
            rows.append((key, w, [str(int(x)) for x in
                                  rng.integers(0, 12, size=20)]))
    walks = spark.createDataFrame(
        rows, "series_key string, walk_id int, walk array<string>")
    got = {r["series_key"]: np.array(r["embedding"])
           for r in analytics.walk_pmi_embedding(walks, dim=4).collect()}
    want = _pmi_model([(k, w) for k, _, w in rows], dim=4)
    assert set(got) == set(want)
    for k in got:
        assert np.allclose(got[k], want[k], atol=1e-9)
    # L2-normalized rows (an all-zero SPPMI row stays zero by design)
    for v in got.values():
        assert abs(np.linalg.norm(v) - 1) < 1e-9 or np.linalg.norm(v) == 0
    assert any(np.linalg.norm(v) > 0 for v in got.values())


def test_walk_pmi_embedding_partitioning_invariant(spark):
    rng = np.random.default_rng(9)
    rows = [(f"s{i%5}", i, [str(int(x)) for x in
                            rng.integers(0, 30, size=15)])
            for i in range(40)]
    walks = spark.createDataFrame(
        rows, "series_key string, walk_id int, walk array<string>")
    a = {r["series_key"]: r["embedding"] for r in
         analytics.walk_pmi_embedding(walks.repartition(1), dim=6)
         .collect()}
    b = {r["series_key"]: r["embedding"] for r in
         analytics.walk_pmi_embedding(walks.repartition(7), dim=6)
         .collect()}
    assert a.keys() == b.keys()
    for k in a:
        assert np.allclose(a[k], b[k], atol=1e-12)


def test_walk_pmi_embedding_similarity_ordering(spark):
    # two series sharing a token distribution vs one disjoint: the
    # shared pair must be closer in cosine than either is to the outlier
    shared = [str(x) for x in (1, 2, 3, 4, 5)] * 6
    other = [str(x) for x in (90, 91, 92, 93)] * 8
    rows = [("x", 0, shared), ("y", 0, shared[::-1]),
            ("z", 0, other)]
    walks = spark.createDataFrame(
        rows, "series_key string, walk_id int, walk array<string>")
    emb = {r["series_key"]: np.array(r["embedding"]) for r in
           analytics.walk_pmi_embedding(walks, dim=3).collect()}
    cos = lambda u, v: float(u @ v)  # rows are L2-normalized
    assert cos(emb["x"], emb["y"]) > cos(emb["x"], emb["z"]) + 0.5
    assert cos(emb["x"], emb["y"]) > 0.99


def test_walk_pmi_embedding_shift_below_one_keeps_zeros_zero(spark):
    """shift < 1 must NOT hand zero-count cells a spurious positive
    SPPMI weight (-log shift): series with disjoint token sets stay
    orthogonal for any shift, and shift <= 0 raises."""
    rows = [("a", 0, ["1", "2", "3"] * 5), ("b", 0, ["8", "9"] * 7)]
    walks = spark.createDataFrame(
        rows, "series_key string, walk_id int, walk array<string>")
    emb = {r["series_key"]: np.array(r["embedding"]) for r in
           analytics.walk_pmi_embedding(walks, dim=2, shift=0.5)
           .collect()}
    assert abs(float(emb["a"] @ emb["b"])) < 1e-9
    with pytest.raises(ValueError, match="shift"):
        analytics.walk_pmi_embedding(walks, shift=0.0)


def test_walk_pmi_embedding_guards_and_empty(spark):
    empty = spark.createDataFrame(
        [], "series_key string, walk_id int, walk array<string>")
    assert analytics.walk_pmi_embedding(empty).count() == 0
    walks = spark.createDataFrame(
        [("a", 0, ["1", "2", "3"])],
        "series_key string, walk_id int, walk array<string>")
    with pytest.raises(ValueError, match="cells"):
        analytics.walk_pmi_embedding(walks, max_cells=2)
    with pytest.raises(ValueError, match="dense"):
        analytics.walk_pmi_embedding(walks, max_dense=2)


def test_accumulate_is_sequential_fold():
    """The power kernel's replay contract rests on np.add.accumulate
    performing SEQUENTIAL adds (pairwise summation would desync the SQL
    list_reduce twin); pin it on adversarial magnitude-mixed floats."""
    rng = np.random.default_rng(7)
    for _ in range(50):
        n = int(rng.integers(2, 500))
        a = rng.standard_normal(n) * 10.0 ** rng.integers(-8, 9, n)
        seq = a[0]
        for v in a[1:]:
            seq = seq + v
        assert np.add.accumulate(a)[-1] == seq


def test_power_centrality_converges_to_eigh():
    import networkx as nx

    rng = np.random.default_rng(11)
    for _ in range(5):
        n = int(rng.integers(4, 14))
        g = nx.gnp_random_graph(n, 0.5, seed=int(rng.integers(1e6)))
        if not nx.is_connected(g):
            g = nx.compose(g, nx.path_graph(n))
        e = np.array(g.edges(), dtype=np.int64)
        ref = analytics.eigenvector_centrality_kernel(n, e[:, 0], e[:, 1])
        got = analytics.power_centrality_kernel(
            n, e[:, 0], e[:, 1], n_iter=200)
        assert np.allclose(got, np.abs(ref), atol=1e-8)


def test_power_centrality_fold_order_matches_sql_semantics():
    """Bit-replay the kernel with a pure-Python left fold (the exact
    semantics DuckDB's list_reduce has) — equality must be EXACT, not
    approximate, since the SQL oracle hashes unrounded doubles."""
    rng = np.random.default_rng(3)
    for _ in range(10):
        n = int(rng.integers(3, 20))
        m = int(rng.integers(n - 1, n * 2))
        src = rng.integers(0, n - 1, m)
        dst = src + 1 + rng.integers(0, np.maximum(n - 1 - src, 1))
        dst = np.minimum(dst, n - 1)
        keep = src != dst
        src, dst = src[keep], dst[keep]
        # path backbone so the graph is connected
        bb = np.arange(n - 1)
        src = np.concatenate([src, bb])
        dst = np.concatenate([dst, bb + 1])
        pairs = sorted({(int(a), int(b)) if a < b else (int(b), int(a))
                        for a, b in zip(src, dst)})
        src = np.array([p[0] for p in pairs], np.int64)
        dst = np.array([p[1] for p in pairs], np.int64)
        n_iter = 5
        # pure-Python replay with explicit left folds
        adj = {u: [] for u in range(n)}
        for a, b in pairs:
            adj[a].append(b)
            adj[b].append(a)
        x = [1.0] * n
        for _i in range(n_iter):
            y = []
            for u in range(n):
                nb = sorted(adj[u])
                s = x[u]  # A+I: fold starts from the node's own value
                for v in nb:
                    s = s + x[v]
                y.append(s)
            nsq = y[0] * y[0]
            for u in range(1, n):
                nsq = nsq + y[u] * y[u]
            nrm = np.sqrt(nsq)
            x = [v / nrm for v in y]
        got = analytics.power_centrality_kernel(n, src, dst,
                                                n_iter=n_iter)
        assert list(got) == x


def test_power_centrality_edge_cases():
    # empty graph
    assert analytics.power_centrality_kernel(
        0, np.empty(0, np.int64), np.empty(0, np.int64)).size == 0
    # edgeless graph: A+I fixes at the uniform vector (no div-by-zero)
    out = analytics.power_centrality_kernel(
        3, np.empty(0, np.int64), np.empty(0, np.int64))
    assert np.allclose(out, 1.0 / np.sqrt(3.0))
    # isolated node (id 2, internal): decays geometrically toward its
    # true centrality 0 — (1/(lambda+1))^32 small, strictly dominated
    out = analytics.power_centrality_kernel(
        4, np.array([0, 0], np.int64), np.array([1, 3], np.int64))
    assert out[2] < 1e-4 and out[2] < out[1] and out[0] > 0.1
    # out-of-range ids raise
    with pytest.raises(ValueError, match="outside"):
        analytics.power_centrality_kernel(
            2, np.array([0], np.int64), np.array([5], np.int64))


def test_eigenvector_centrality_power_spark(spark):
    import networkx as nx

    g = nx.path_graph(6)
    edges = spark.createDataFrame(
        [("s", int(a), int(b)) for a, b in g.edges()],
        "series_key string, src long, dst long")
    rows = analytics.eigenvector_centrality_power(
        edges, n_iter=200).orderBy("node").collect()
    ref = nx.eigenvector_centrality(g, max_iter=2000, tol=1e-12)
    assert [r.node for r in rows] == list(range(6))
    assert np.allclose([r.centrality for r in rows],
                       [ref[i] for i in range(6)], atol=1e-8)


# series: a path, one self-loop node, one edge, a star; node_counts adds
# an edgeless 3-node and an edgeless 1-node series
PACK_EDGES = [("path", 0, 1), ("path", 1, 2), ("path", 2, 3),
              ("loop", 0, 0), ("pair", 1, 0),
              ("star", 0, 1), ("star", 0, 2), ("star", 3, 0)]
PACK_COUNTS = [("path", 6), ("loop", 1), ("pair", 2), ("star", 4),
               ("empty", 3), ("single", 1)]


def _by_series(edges):
    out = {}
    for k, s, d in sorted(edges):
        out.setdefault(k, ([], []))
        out[k][0].append(s)
        out[k][1].append(d)
    return {k: (np.asarray(s, np.int64), np.asarray(d, np.int64))
            for k, (s, d) in out.items()}


def test_packed_operators_match_kernels(spark):
    """The per-series analytics operators in 2-row Arrow batches, on
    1-node, edgeless and 1-edge graphs: rows equal their kernels run per
    series in-process."""
    from ts2g2_spark.operators.generate import _seeds

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        edges = spark.createDataFrame(
            PACK_EDGES, "series_key string, src long, dst long")
        counts = spark.createDataFrame(
            PACK_COUNTS, "series_key string, n long")
        g = _by_series(PACK_EDGES)
        nmax = {k: int(max(s.max(), d.max())) + 1 for k, (s, d) in g.items()}
        empty = (np.empty(0, np.int64), np.empty(0, np.int64))

        got = {r.series_key: r.embedding for r in
               analytics.eigenvector_centrality(edges).collect()}
        assert got == {k: analytics.eigenvector_centrality_kernel(
            nmax[k], *g[k]).tolist() for k in g}
        got = {r.series_key: r.embedding for r in
               analytics.eigenvector_centrality(edges, counts).collect()}
        assert got == {k: analytics.eigenvector_centrality_kernel(
            n, *g.get(k, empty)).tolist() for k, n in PACK_COUNTS}

        got = sorted(tuple(r) for r in analytics.eigenvector_centrality_power(
            edges, n_iter=7).collect())
        assert got == sorted(
            (k, i, c) for k in g for i, c in enumerate(
                analytics.power_centrality_kernel(
                    nmax[k], *g[k], n_iter=7).tolist()))

        got = sorted(tuple(r) for r in analytics.random_walk_corpus(
            edges, sample_size=2, path_length=4, run_seed=3).collect())
        want = []
        for k, (s, d) in g.items():
            walks = analytics.random_walk_paths_kernel(
                s.tolist(), d.tolist(), 2, 4,
                np.random.RandomState(_seeds(3, k)[1]))
            want += [(k, i, [str(x) for x in p])
                     for i, p in enumerate(walks)]
        assert got == sorted(want)
    finally:
        spark.conf.set(key, old)
