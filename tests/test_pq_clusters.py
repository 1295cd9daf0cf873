"""PQ (product-quantization ANN) and duplicate-cluster resolution vs
independent pure-Python/numpy oracles."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from geotiff_tiler_spark.operators import dedup, similarity

SF001 = "/root/testdata/sf0.001"


def _load_emb(spark):
    return spark.read.parquet(f"{SF001}/embeddings.parquet")


def test_pq_encode_codes_matches_bruteforce():
    """Per-subspace argmin with first-minimal tie rule, vs a naive
    per-row/per-centroid double loop."""
    rng = np.random.RandomState(7)
    X = rng.randn(40, 16)
    books = similarity.pq_fit_books(X, m=4, ksub=4, n_iter=4, seed=1)
    codes = similarity.pq_encode_codes(X, books)
    dsub = 4
    for i in range(len(X)):
        for j in range(4):
            xs = X[i, j * dsub : (j + 1) * dsub]
            d2 = [float(np.sum((xs - c) ** 2)) for c in books[j]]
            want = min(range(len(d2)), key=lambda ci: (d2[ci], ci))
            assert codes[i, j] == want


def test_pq_topk_matches_numpy_adc_oracle(spark):
    """End-to-end pq_topk vs a driver-side numpy ADC scan with the same
    (adc, neighbor_id) lexicographic selection — exact equality, no
    rounding, including under ADC ties from duplicate codes."""
    emb = _load_emb(spark)
    out = similarity.pq_topk(emb, k=3, query_mod=40).orderBy("query_id", "rank")
    got = [(r.query_id, r.rank, r.neighbor_id, r.adc) for r in out.collect()]

    pdf = emb.select("vec_id", "embedding").toPandas().sort_values("vec_id")
    ids = pdf["vec_id"].to_numpy(dtype=np.int64)
    X = np.asarray(np.stack(pdf["embedding"].to_numpy()), dtype=np.float64)
    books = similarity.pq_train_codebooks(emb)
    codes = similarity.pq_encode_codes(X, books)
    m = len(books)
    dsub = X.shape[1] // m
    want = []
    for qi in np.nonzero(ids % 40 == 0)[0]:
        lut = [
            similarity._pq_subspace_d2(
                X[qi : qi + 1, j * dsub : (j + 1) * dsub], books[j]
            )[0]
            for j in range(m)
        ]
        adc = np.zeros(len(ids))
        for j in range(m):
            adc = adc + lut[j][codes[:, j]]
        cand = sorted(
            ((float(adc[i]), int(ids[i])) for i in range(len(ids)) if ids[i] != ids[qi]),
        )[:3]
        want.extend(
            (int(ids[qi]), r + 1, nid, d) for r, (d, nid) in enumerate(cand)
        )
    assert got == want


def test_pq_topk_partition_invariant(spark):
    """Total-order selection makes the result independent of the corpus
    partitioning (the mapInPandas partial top-k must be exact)."""
    emb = _load_emb(spark)
    books = similarity.pq_train_codebooks(emb)
    a = similarity.pq_topk(emb, k=3, query_mod=40, books=books)
    b = similarity.pq_topk(emb.repartition(13), k=3, query_mod=40, books=books)
    ra = sorted(map(tuple, a.collect()))
    rb = sorted(map(tuple, b.collect()))
    assert ra == rb


def test_pq_encode_packs_codes(spark):
    """pq_encode packs the m sub-codes into one bigint, 8 bits each."""
    emb = _load_emb(spark).limit(50)
    books = similarity.pq_train_codebooks(_load_emb(spark))
    packed = {r.vec_id_pq: r.pq_code for r in similarity.pq_encode(emb, books).collect()}
    pdf = emb.select("vec_id", "embedding").toPandas().sort_values("vec_id")
    X = np.asarray(np.stack(pdf["embedding"].to_numpy()), dtype=np.float64)
    codes = similarity.pq_encode_codes(X, books)
    for row, vid in zip(codes, pdf["vec_id"].to_numpy()):
        want = 0
        for j, c in enumerate(row):
            want |= int(c) << (8 * j)
        assert packed[int(vid)] == want


def test_pq_topk_multichunk_ties_match_bruteforce(spark):
    """9,000 rows in ONE partition cross the 4096-row PQ_SCAN_CHUNK
    boundary twice, and 37 distinct vectors repeated ~240x each make
    ADC ties the norm — so the chunk-threshold merge (tie-inclusive
    partition + candidate lexsort) must carry tied candidates across
    chunk boundaries to stay exact. Verified against a whole-corpus
    numpy lexicographic oracle and against a different partitioning."""
    import pandas as pd

    rng = np.random.RandomState(11)
    base = rng.randn(37, 16)
    n = 9000
    ids = np.arange(n, dtype=np.int64)
    X = base[ids % 37]
    pdf = pd.DataFrame({"vec_id": ids, "embedding": list(X)})
    emb = spark.createDataFrame(pdf).coalesce(1)
    books = similarity.pq_fit_books(X, m=4, ksub=4, n_iter=4, seed=3)
    out = similarity.pq_topk(
        emb, k=5, query_mod=450, m=4, ksub=4, books=books
    ).orderBy("query_id", "rank")
    got = [(r.query_id, r.rank, r.neighbor_id, r.adc) for r in out.collect()]

    codes = similarity.pq_encode_codes(X, books)
    want = []
    for qi in np.nonzero(ids % 450 == 0)[0]:
        lut = [
            similarity._pq_subspace_d2(X[qi : qi + 1, j * 4 : (j + 1) * 4], books[j])[0]
            for j in range(4)
        ]
        adc = np.zeros(n)
        for j in range(4):
            adc = adc + lut[j][codes[:, j]]
        cand = sorted(
            ((float(adc[i]), int(ids[i])) for i in range(n) if i != qi)
        )[:5]
        want.extend((int(ids[qi]), r + 1, nid, d) for r, (d, nid) in enumerate(cand))
    assert got == want

    b = similarity.pq_topk(
        emb.repartition(7), k=5, query_mod=450, m=4, ksub=4, books=books
    )
    assert sorted(map(tuple, b.collect())) == sorted(
        (q, r, nid, d) for q, r, nid, d in got
    )


def _ivfpq_numpy_oracle(ids, X, cent, books, k, query_mod, nprobe):
    """Driver-side IVF-PQ oracle: sequential-fold coarse assignment with
    the (d2, ci) first-minimal rule, top-nprobe probes per query, ADC over
    the probed candidates' codes, (adc, neighbor_id) lexicographic top-k."""
    cd = similarity._pq_subspace_d2(X, cent)  # sequential fold, oracle order
    assign = cd.argmin(axis=1)  # first-minimal ties
    codes = similarity.pq_encode_codes(X, books)
    m = len(books)
    dsub = X.shape[1] // m
    want = []
    for qi in np.nonzero(ids % query_mod == 0)[0]:
        probes = sorted(range(len(cent)), key=lambda ci: (cd[qi, ci], ci))[:nprobe]
        lut = [
            similarity._pq_subspace_d2(
                X[qi : qi + 1, j * dsub : (j + 1) * dsub], books[j]
            )[0]
            for j in range(m)
        ]
        cand = []
        for i in np.nonzero(np.isin(assign, probes))[0]:
            if ids[i] == ids[qi]:
                continue
            adc = lut[0][codes[i, 0]]
            for j in range(1, m):
                adc = adc + lut[j][codes[i, j]]
            cand.append((float(adc), int(ids[i])))
        cand.sort()
        want.extend(
            (int(ids[qi]), r + 1, nid, d) for r, (d, nid) in enumerate(cand[:k])
        )
    return want


def test_ivfpq_topk_matches_numpy_oracle(spark):
    """End-to-end ivfpq_topk (coarse prune + ADC on packed codes) vs a
    driver-side numpy replay of assignment, probing, encoding, and the
    ADC fold — exact equality, no rounding."""
    emb = _load_emb(spark)
    out = similarity.ivfpq_topk(emb, k=3, query_mod=40, n_clusters=8, nprobe=3).orderBy(
        "query_id", "rank"
    )
    got = [(r.query_id, r.rank, r.neighbor_id, r.adc) for r in out.collect()]

    pdf = emb.select("vec_id", "embedding").toPandas().sort_values("vec_id")
    ids = pdf["vec_id"].to_numpy(dtype=np.int64)
    X = np.asarray(np.stack(pdf["embedding"].to_numpy()), dtype=np.float64)
    cent = similarity.train_ivf_centroids(emb, n_clusters=8)
    books = similarity.pq_train_codebooks(emb)
    want = _ivfpq_numpy_oracle(ids, X, cent, books, k=3, query_mod=40, nprobe=3)
    assert got == want


def test_ivfpq_topk_partition_invariant(spark):
    """Same trained quantizers, different corpus partitioning -> same rows
    (the total-order selection and the per-query window are exact)."""
    emb = _load_emb(spark)
    cent = similarity.train_ivf_centroids(emb, n_clusters=8)
    books = similarity.pq_train_codebooks(emb)
    a = similarity.ivfpq_topk(emb, k=3, query_mod=40, n_clusters=8, nprobe=3,
                              centroids=cent, books=books)
    b = similarity.ivfpq_topk(emb.repartition(13), k=3, query_mod=40, n_clusters=8,
                              nprobe=3, centroids=cent, books=books)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_ivfpq_duplicate_corpus_perfect_recall(spark):
    """On a corpus of exact duplicates (37 distinct vectors repeated
    ~14x), a query's true nearest neighbors are its own duplicates: they
    share its coarse cell (identical vector -> identical assignment) and
    its codes, so IVF-PQ must return them — recall 1.0 vs brute force by
    construction — and each returned adc is exactly the query's own
    quantization error (asymmetric distance: exact query vs its own
    reconstructed code), identical across all k duplicates."""
    import pandas as pd

    rng = np.random.RandomState(11)
    base = rng.randn(37, 16)
    n = 500
    ids = np.arange(n, dtype=np.int64)
    X = base[ids % 37]
    pdf = pd.DataFrame({"vec_id": ids, "embedding": list(X)})
    emb = spark.createDataFrame(pdf)
    cent = similarity.kmeans_fit(X, 6, n_iter=6, seed=2)
    books = similarity.pq_fit_books(X, m=4, ksub=4, n_iter=4, seed=3)
    out = similarity.ivfpq_topk(
        emb, k=5, query_mod=100, n_clusters=6, nprobe=1, m=4, ksub=4,
        centroids=cent, books=books,
    ).collect()
    codes = similarity.pq_encode_codes(X, books)
    by_q: dict[int, list] = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {int(i) for i in ids[ids % 100 == 0]}
    for qid, rows in by_q.items():
        # the query's own quantization error: ADC(q, code(q))
        qerr = None
        for j in range(4):
            sub = X[qid, j * 4 : (j + 1) * 4]
            d2 = similarity._pq_subspace_d2(sub[None, :], books[j])[0, codes[qid, j]]
            qerr = d2 if qerr is None else qerr + d2
        assert len(rows) == 5
        for r in rows:
            # 500/37 ~ 13 duplicates per vector > k: all top-5 are dups
            assert r.neighbor_id % 37 == qid % 37
            assert r.adc == qerr


def test_ivfpq_fused_index_matches_twostep(spark):
    """Past IVF_EXPR_MAX_LISTS the index build fuses assignment + packing
    into one Arrow UDF; below it the assignment is JVM expressions. Both
    paths must emit identical (id, cluster, code) rows — same corpus,
    96-list centroids driven through both branches explicitly."""
    emb = _load_emb(spark)
    pdf = emb.select("vec_id", "embedding").toPandas().sort_values("vec_id")
    X = np.asarray(np.stack(pdf["embedding"].to_numpy()), dtype=np.float64)
    cent = similarity.kmeans_fit(X, 96, n_iter=4, seed=5)
    books = similarity.pq_train_codebooks(emb)
    fused = similarity.ivfpq_build_index(emb, cent, books)  # 96 > 64: fused UDF
    ids = pdf["vec_id"].to_numpy(dtype=np.int64)
    codes = similarity.pq_encode_codes(X, books)
    cl = similarity._nearest_centroids(X, np.asarray(cent), p=1)[:, 0]
    want = {}
    for i in range(len(ids)):
        packed = 0
        for j in range(codes.shape[1]):
            packed |= int(codes[i, j]) << (8 * j)
        want[int(ids[i])] = (int(cl[i]), packed)
    got = {
        r.neighbor_id: (r.ivf_cluster, r.pq_code) for r in fused.collect()
    }
    assert got == want


def _py_components(edges):
    """Union-find oracle: {node: min id of its component}."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_duplicate_clusters_matches_union_find(spark):
    """Min-label propagation vs union-find on a graph with a chain (tests
    multi-round convergence), a clique, an isolated pair, and overlap."""
    edges = [
        (1, 2), (2, 3), (3, 4), (4, 5),  # 5-chain: needs >1 round
        (10, 11), (11, 12), (10, 12),    # triangle
        (20, 21),                        # pair
        (30, 5),                         # joins the chain late
    ]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {r.doc_id: r.cluster_id for r in dedup.duplicate_clusters(pairs).collect()}
    assert got == _py_components(edges)


def test_duplicate_clusters_ignores_edge_direction(spark):
    edges = [(5, 1), (2, 5), (9, 8)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {r.doc_id: r.cluster_id for r in dedup.duplicate_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 5: 1, 8: 8, 9: 8}


def _path_pairs(spark, n: int, first: int = 100):
    edges = [(first + i, first + i + 1) for i in range(n - 1)]
    return spark.createDataFrame(edges, "doc_a long, doc_b long")


def test_duplicate_clusters_path_within_round_cap_is_one_cluster(spark):
    """A 15-node path (diameter 14) converges inside the default 20 rounds
    into one cluster labelled with its minimum id."""
    got = dedup.duplicate_clusters(_path_pairs(spark, 15)).collect()
    assert len(got) == 15
    assert {r.cluster_id for r in got} == {100}


def test_duplicate_clusters_raises_at_round_cap(spark):
    """A 30-node path (diameter 29) cannot converge in 20 rounds: the call
    raises instead of returning the path split into partial clusters."""
    with pytest.raises(RuntimeError, match="max_rounds=20"):
        dedup.duplicate_clusters(_path_pairs(spark, 30))
