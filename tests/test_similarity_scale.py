"""Round-3 scale-path tests: hyperplane banded LSH cross-engine parity and
the broadcast-numpy IVF paths (assignment + probing) against the
plan-expression paths they replace past IVF_EXPR_MAX_LISTS."""

from __future__ import annotations

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from geotiff_tiler_spark.operators import similarity

SF001 = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


def test_hyperplane_buckets_cross_engine_parity(spark):
    """The (band, bucket) table the Spark pandas UDF produces must equal
    the DuckDB list_sum twin EXACTLY — guaranteed by the integer-exact
    quantized projection (floor(v * HP_QUANT) then +-1 integer sums)."""
    emb = spark.read.parquet(f"{SF01}/embeddings.parquet")
    bits = similarity.adaptive_sign_bits(emb.count())
    got = {
        (r.vec_id, r.band, r.bucket)
        for r in similarity._band_explode(emb, "embedding", bits, 4)
        .select("vec_id", "band", "bucket")
        .collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{SF01}/embeddings.parquet'"
    )
    want = {
        tuple(r)
        for r in con.execute(
            similarity.band_buckets_union_sql("vec_id", "embedding", "embeddings", bits)
        ).fetchall()
    }
    con.close()
    assert got == want and len(got) == 4 * emb.count()


def test_adaptive_bits_web_scale_uncapped():
    """10^12-doc corpora need 32 bits; the hyperplane scheme provides them
    (the old coordinate scheme capped at 16 = quadratic growth past ~17M)."""
    assert similarity.adaptive_sign_bits(10**12) == 32
    assert similarity.adaptive_sign_bits(256 * 2**42 * 4) == 42  # hi clamp
    assert similarity.adaptive_sign_bits(100) == 4  # lo floor


def test_hyperplane_signs_deterministic_and_balanced():
    a = similarity.hyperplane_signs(4, 8)
    b = similarity.hyperplane_signs(4, 8)
    assert a == b and len(a) == 32 and all(len(r) == similarity.EMB_DIM for r in a)
    # prefix property: band b's rows don't depend on the total band count
    assert similarity.hyperplane_signs(2, 8) == a[:16]
    flat = np.asarray(a)
    assert set(np.unique(flat)) == {-1, 1}
    # roughly balanced signs (md5 bits): no hyperplane is constant
    assert (np.abs(flat.sum(axis=1)) < similarity.EMB_DIM).all()


def test_neardup_banded_recovers_known_pair(spark):
    """The one true cosine>=0.5 pair at sf0.01 must survive the blocking at
    the near-dup default band count (NEARDUP_BANDS=8; 4 bands miss it —
    the recall-vs-cost tradeoff documented on NEARDUP_BANDS)."""
    emb = spark.read.parquet(f"{SF01}/embeddings.parquet")
    pairs = {
        (r.id_a, r.id_b)
        for r in similarity.neardup_pairs_banded(emb, threshold=0.5).collect()
    }
    assert (169, 466) in pairs


def test_ivf_assign_udf_path_matches_expression_path(spark):
    """Past IVF_EXPR_MAX_LISTS the assignment runs as a broadcast-numpy
    pandas UDF; on the same centroids it must agree with the plan-literal
    expression path (ties are measure-zero in this data, so exact
    agreement is required, not just recall parity)."""
    emb = spark.read.parquet(f"{SF01}/embeddings.parquet")
    cent = similarity.train_ivf_centroids(emb, n_clusters=16)
    expr = {
        (r.vec_id, r.ivf_cluster)
        for r in similarity.ivf_assign(emb, cent).select("vec_id", "ivf_cluster").collect()
    }
    udf = {
        (r.vec_id, r.ivf_cluster)
        for r in emb.withColumn(
            "ivf_cluster", similarity._centroid_argmin_udf(cent)(F.col("embedding"))
        )
        .select("vec_id", "ivf_cluster")
        .collect()
    }
    assert expr == udf


def test_ivf_topk_udf_path_matches_expression_path(spark, monkeypatch):
    """Full ivf_topk with the UDF paths forced (IVF_EXPR_MAX_LISTS=0) must
    reproduce the expression-path result row-for-row."""
    emb = spark.read.parquet(f"{SF01}/embeddings.parquet")
    want = sorted(
        map(tuple, similarity.ivf_topk(emb, k=5, query_mod=25, n_clusters=8, nprobe=3).collect())
    )
    monkeypatch.setattr(similarity, "IVF_EXPR_MAX_LISTS", 0)
    got = sorted(
        map(tuple, similarity.ivf_topk(emb, k=5, query_mod=25, n_clusters=8, nprobe=3).collect())
    )
    assert got == want


def test_chunked_d2_matmul_kernel():
    """The matmul-identity kernel is for argmin/argsort selection: it must
    be (a) deterministic per chunk size and selection-stable across chunk
    sizes, (b) numerically equal to the expanded-difference form, and
    (c) argmin-identical to it — including first-minimal-index ties on
    bit-identical (duplicated) centroids.

    NOT asserted: bit-equality across chunk SIZES. BLAS GEMM picks its
    blocking/kernel by matrix shape, so m=256 and m=700 can differ in the
    last ulps (measured 2.8e-14 max on this box) — which is exactly why
    the kernel is documented as selection-only."""
    rng = np.random.default_rng(7)
    X = rng.normal(size=(700, 64))
    C = rng.normal(size=(33, 64))
    expanded = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    got = similarity._chunked_d2(X, C, chunk=256)
    # same chunk size -> bit-identical (deterministic kernel) ...
    assert (got == similarity._chunked_d2(X, C, chunk=256)).all()
    # ... different chunk size -> ulp-close and selection-identical
    full = similarity._chunked_d2(X, C, chunk=10**9)
    assert np.allclose(got, full, rtol=0, atol=1e-10)
    assert (got.argmin(axis=1) == full.argmin(axis=1)).all()
    assert np.allclose(got, expanded, rtol=1e-9, atol=1e-9)
    assert (got.argmin(axis=1) == expanded.argmin(axis=1)).all()
    # duplicated centroid -> bit-equal d2 columns -> first index wins,
    # same as the expanded form
    Cdup = np.vstack([C, C[:1]])
    gd = similarity._chunked_d2(X, Cdup)
    assert (gd[:, 0] == gd[:, -1]).all()
    assert (gd.argmin(axis=1) == ((X[:, None, :] - Cdup[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)).all()


def test_kmeans_fit_unchanged_by_chunking():
    """Chunking must not move the centroids at all (the q36 oracle replays
    kmeans_fit, so any drift would break the contract)."""
    rng = np.random.default_rng(42)
    X = rng.normal(size=(512, 64))
    c1 = similarity.kmeans_fit(X.copy(), n_clusters=8)
    c2 = similarity.kmeans_fit(X.copy(), n_clusters=8)
    assert (c1 == c2).all()


def test_label_polygons_repair_is_noop_on_valid_layer(spark):
    """F2 load wiring: the synthetic layer is valid, so repair must keep
    every feature and every bbox."""
    from geotiff_tiler_spark.sources import labels

    raw = labels.label_polygons(spark, n=60, repair=False).collect()
    rep = labels.label_polygons(spark, n=60, repair=True).collect()
    assert len(raw) == len(rep) == 60
    want = {r.feature_id: (r.xmin, r.ymin, r.xmax, r.ymax) for r in raw}
    got = {r.feature_id: (r.xmin, r.ymin, r.xmax, r.ymax) for r in rep}
    assert got == want


def test_label_polygon_edges_match_wkb_roundtrip():
    """The q39 oracle's edge table must walk the same closed-ring point
    pairs the numpy kernel sees after the WKB roundtrip."""
    from geotiff_tiler_spark.operators import strtree as st
    from geotiff_tiler_spark.sources import labels

    edges = labels.label_polygon_edges(n=8)
    by_fid: dict[int, set] = {}
    for fid, cls, pi, x1, y1, x2, y2 in edges:
        by_fid.setdefault(fid, set()).add((pi, x1, y1, x2, y2))
    for fid, cls, polys in labels.label_polygon_geoms(n=8):
        if len(polys) == 1:
            wkb = st.wkb_polygon(polys[0])
        else:
            wkb = st.wkb_multipolygon(polys)
        want = set()
        for pi, rings in enumerate(st.parse_wkb(bytes(wkb))):
            for r in rings:
                for a, b in zip(r[:-1], r[1:]):
                    want.add((pi, float(a[0]), float(a[1]), float(b[0]), float(b[1])))
        assert by_fid[fid] == want, fid


def test_nearest_centroids_matches_argsort_oracle():
    """The selection kernel must agree with a naive full-argsort oracle on
    both regimes (<=64 lists: stable argsort; >64: argpartition+lexsort),
    for p=1 and p>1."""
    rng = np.random.default_rng(3)
    X = rng.normal(size=(333, 16))
    for nlist in (8, 200):
        C = rng.normal(size=(nlist, 16))
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        for p in (1, 3):
            want = np.argsort(d2, axis=1, kind="stable")[:, :p]
            got = similarity._nearest_centroids(X, C, p=p, chunk=100)
            assert (got == want).all(), (nlist, p)


def test_nearest_centroids_duplicate_rows_pick_first_index():
    """Bit-identical centroid rows (kmeans re-seeded duplicates) must tie
    exactly and resolve to the lowest index, as the expanded-difference
    oracle does: p=1 (argmin) and p>1 in both selection regimes (stable
    argsort <= IVF_EXPR_MAX_LISTS, argpartition above), with queries
    placed next to the duplicated rows so the ties straddle the p-th
    slot."""
    rng = np.random.default_rng(4)
    for nlist in (8, 200):
        C0 = rng.normal(size=(nlist, 16))
        C = np.vstack([C0] + [C0[:3]] * 6)
        C = C[rng.permutation(len(C))]
        X = np.vstack([
            rng.normal(size=(200, 16)),
            C[rng.integers(0, len(C), 300)] + rng.normal(scale=1e-3, size=(300, 16)),
        ])
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        for p in (1, 2, 5):
            want = np.argsort(d2, axis=1, kind="stable")[:, :p]
            got = similarity._nearest_centroids(X, C, p=p, chunk=100)
            assert (got == want).all(), (nlist, p)


def test_cosine_pair_kernel_null_vectors_match_fold(spark):
    """A pair with a null vector must not crash the Arrow pair kernel; it
    scores what the prenormed SQL fold gives (0.0), the other rows of the
    batch unchanged."""
    vec = [float(x) for x in np.random.default_rng(2).normal(size=64)]
    pairs = spark.createDataFrame(
        [(1, vec, None), (2, None, vec), (3, None, None), (4, vec, [v * 2 for v in vec]), (5, vec, [0.0] * 64)],
        "id long, va array<float>, vb array<float>",
    ).withColumn("na", similarity._norm(F.col("va"))).withColumn("nb", similarity._norm(F.col("vb")))
    old = {r.id: r.cosine for r in similarity._with_cosine_prenormed(pairs, "va", "vb", "na", "nb").collect()}
    new = {r.id: r.cosine for r in similarity._with_cosine_arrow(pairs, "va", "vb").collect()}
    assert new == old
    assert new[1] == new[2] == new[3] == 0.0 and new[4] == 1.0


def test_cosine_topk_scan_matches_allpairs_bitexact(spark):
    """r6 q16 rewrite: the mapInArrow scan (BLAS prune + exact-fold
    re-score + margin-superset candidates) must reproduce the pure-SQL
    broadcast-nested-loop plan BIT-FOR-BIT — ranks, ids, and every
    rounded cosine double — on real data and on a tie-heavy synthetic
    (exact duplicates, scaled copies, zero vectors: maximal rounded-tie
    pressure on the margin logic)."""
    import struct

    emb = spark.read.parquet(f"{SF01}/embeddings.parquet")
    new = sorted(tuple(r) for r in similarity.cosine_topk(emb, k=5, query_mod=25).collect())
    old = sorted(
        tuple(r) for r in similarity.cosine_topk_allpairs(emb, k=5, query_mod=25).collect()
    )
    assert len(new) == len(old) and len(new) > 0
    for x, y in zip(new, old):
        assert x[:3] == y[:3]
        assert struct.pack("d", x[3]) == struct.pack("d", y[3])

    rng = np.random.RandomState(7)
    base = rng.randn(40, 64).astype(np.float32)
    rows = [(i, [float(x) for x in base[i % 40]]) for i in range(300)]
    rows += [(i, [0.0] * 64) for i in range(300, 310)]
    rows += [(i, [float(x * 2.0) for x in base[i % 40]]) for i in range(310, 390)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>").repartition(7)
    new = sorted(tuple(r) for r in similarity.cosine_topk(df, k=5, query_mod=25).collect())
    old = sorted(
        tuple(r) for r in similarity.cosine_topk_allpairs(df, k=5, query_mod=25).collect()
    )
    assert len(new) == len(old) and len(new) > 0
    for x, y in zip(new, old):
        assert x[:3] == y[:3]
        assert struct.pack("d", x[3]) == struct.pack("d", y[3])


def test_cosine_pair_arrow_kernel_matches_prenormed_fold(spark):
    """r6 q17/q33 scoring swap: the Arrow pair kernel must produce the
    same rounded cosine doubles as the interpreted prenormed fold on a
    joined pair frame (incl. zero-norm rows)."""
    import struct

    emb = spark.read.parquet(f"{SF01}/embeddings.parquet")
    a = emb.select(F.col("vec_id").alias("ida"), F.col("embedding").alias("va"),
                   similarity._norm(F.col("embedding")).alias("na"))
    b = emb.select(F.col("vec_id").alias("idb"), F.col("embedding").alias("vb"),
                   similarity._norm(F.col("embedding")).alias("nb"))
    pairs = a.crossJoin(b).filter((F.col("ida") % 37 == 0) & (F.col("idb") % 11 == 0))
    zero = spark.createDataFrame(
        [(10_001, [0.0] * 64, 0.0)], "ida long, va array<float>, na double"
    )
    pairs = pairs.unionByName(
        zero.crossJoin(b.limit(3))
    )
    old = {
        (r.ida, r.idb): r.cosine
        for r in similarity._with_cosine_prenormed(pairs, "va", "vb", "na", "nb").collect()
    }
    new = {
        (r.ida, r.idb): r.cosine
        for r in similarity._with_cosine_arrow(pairs, "va", "vb").collect()
    }
    assert old.keys() == new.keys() and len(old) > 50
    for kk in old:
        assert struct.pack("d", old[kk]) == struct.pack("d", new[kk]), kk
