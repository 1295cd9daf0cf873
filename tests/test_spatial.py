"""Spatial operators vs independent pure-Python oracles.

The STRtree and ray-casting kernels are verified against a deliberately
naive reimplementation (per-point loops, no shared code path), and the
Spark joins against brute-force DataFrame computations.
"""

import numpy as np
import pytest

from geotiff_tiler_spark.operators import strtree as st


def naive_point_in_rings(x, y, rings):
    """Independent even-odd oracle: textbook scalar ray cast."""
    inside = False
    for r in rings:
        pts = r if np.array_equal(r[0], r[-1]) else np.vstack([r, r[:1]])
        for i in range(len(pts) - 1):
            x1, y1 = pts[i]
            x2, y2 = pts[i + 1]
            if (y1 <= y) != (y2 <= y):
                xint = x1 + (y - y1) / (y2 - y1) * (x2 - x1)
                if x < xint:
                    inside = not inside
    return inside


@pytest.fixture(scope="module")
def rng():
    return np.random.default_rng(7)


def test_strtree_query_matches_bruteforce(rng):
    for n in (0, 1, 5, 17, 100, 500):
        lo = rng.uniform(0, 90, size=(n, 2))
        wh = rng.uniform(0.1, 10, size=(n, 2))
        boxes = np.hstack([lo, lo + wh])
        tree = st.STRtree(boxes)
        for _ in range(20):
            q = rng.uniform(-5, 105, size=2)
            got = sorted(tree.query_point(q[0], q[1]).tolist())
            want = sorted(
                i
                for i in range(n)
                if boxes[i, 0] <= q[0] <= boxes[i, 2] and boxes[i, 1] <= q[1] <= boxes[i, 3]
            )
            assert got == want
        # box queries
        for _ in range(10):
            qb = np.sort(rng.uniform(0, 100, size=(2, 2)), axis=0)
            xmin, ymin, xmax, ymax = qb[0, 0], qb[0, 1], qb[1, 0], qb[1, 1]
            got = sorted(tree.query_box(xmin, ymin, xmax, ymax).tolist())
            want = sorted(
                i
                for i in range(n)
                if boxes[i, 0] <= xmax
                and boxes[i, 2] >= xmin
                and boxes[i, 1] <= ymax
                and boxes[i, 3] >= ymin
            )
            assert got == want


def test_ray_cast_matches_naive(rng):
    tri = np.array([[0.0, 0.0], [10.0, 0.0], [5.0, 10.0]])
    donut_outer = np.array([[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0]])
    donut_hole = np.array([[3.0, 3.0], [7.0, 3.0], [7.0, 7.0], [3.0, 7.0]])
    for rings in ([tri], [donut_outer, donut_hole]):
        xs = rng.uniform(-2, 12, size=200)
        ys = rng.uniform(-2, 12, size=200)
        got = st.points_in_rings(xs, ys, [np.vstack([r, r[:1]]) for r in rings])
        want = np.array([naive_point_in_rings(x, y, rings) for x, y in zip(xs, ys)])
        assert (got == want).all()
    # donut: center is a hole
    assert not st.points_in_rings(
        np.array([5.0]), np.array([5.0]), [np.vstack([donut_outer, donut_outer[:1]]), np.vstack([donut_hole, donut_hole[:1]])]
    )[0]


def test_wkb_roundtrip():
    tri = np.array([[0.0, 0.0], [4.0, 0.0], [2.0, 3.0]])
    sq = np.array([[10.0, 10.0], [12.0, 10.0], [12.0, 12.0], [10.0, 12.0]])
    poly = st.parse_wkb(st.wkb_polygon([tri]))
    assert len(poly) == 1 and len(poly[0]) == 1 and len(poly[0][0]) == 4  # closed
    multi = st.parse_wkb(st.wkb_multipolygon([[tri], [sq]]))
    assert len(multi) == 2
    assert st.polygon_bbox(multi) == (0.0, 0.0, 12.0, 12.0)


def test_point_in_polygon_join_vs_bruteforce(spark, docs):
    from geotiff_tiler_spark.operators import tiling
    from geotiff_tiler_spark.operators.spatial_join import point_in_polygon_join
    from geotiff_tiler_spark.operators.tiling import TilingParams
    from geotiff_tiler_spark.sources.labels import label_polygons

    pts = tiling.doc_points(docs, TilingParams()).select("doc_id", "lon", "lat")
    polys = label_polygons(spark, n=60)
    got = sorted(
        (r.doc_id, r.feature_id) for r in point_in_polygon_join(pts, polys, res=3).collect()
    )
    # brute force oracle: all pairs, naive scalar ray cast
    pl = polys.collect()
    want = []
    for p in pts.collect():
        for q in pl:
            geoms = st.parse_wkb(bytes(q.wkb))
            if any(naive_point_in_rings(p.lon, p.lat, rings) for rings in geoms):
                want.append((p.doc_id, q.feature_id))
    assert got == sorted(want)
    assert len(got) > 0  # fixture must actually exercise hits


def test_knn_matches_bruteforce(spark, docs):
    from pyspark.sql import functions as F

    from geotiff_tiler_spark.operators import knn, tiling
    from geotiff_tiler_spark.operators.tiling import TilingParams

    pts = tiling.doc_points(docs, TilingParams())
    queries = pts.filter(F.col("doc_id") % 100 == 0).select(
        F.col("doc_id").alias("query_id"),
        F.col("lon").alias("q_lon"),
        F.col("lat").alias("q_lat"),
    )
    points = pts.select(
        F.col("doc_id").alias("neighbor_id"),
        F.col("lon").alias("n_lon"),
        F.col("lat").alias("n_lat"),
    )
    ring = knn.knn_cell_ring(queries, points, k=3, res=4, max_ring=2)
    bf = knn.knn_bruteforce(queries, points, k=3)
    a = sorted((r.query_id, r.rank, r.neighbor_id) for r in ring.collect())
    b = sorted((r.query_id, r.rank, r.neighbor_id) for r in bf.collect())
    assert a == b


def test_ivf_ann_recall_vs_bruteforce(spark):
    from geotiff_tiler_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = similarity.cosine_topk(emb, k=5, query_mod=25)
    ivf = similarity.ivf_topk(emb, k=5, query_mod=25, n_clusters=8, nprobe=3)
    want = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    got = {(r.query_id, r.neighbor_id) for r in ivf.collect()}
    recall = len(want & got) / len(want)
    assert recall >= 0.5, recall  # ANN tradeoff: decent recall at nprobe=3/8
    # determinism
    got2 = {(r.query_id, r.neighbor_id) for r in similarity.ivf_topk(
        emb, k=5, query_mod=25, n_clusters=8, nprobe=3).collect()}
    assert got == got2


def _decorrelated_copies(emb, copies):
    """Deterministically synthesize `copies` sign-independent variants of
    each vector (per-copy pseudorandom sign flips via crc32), ids offset
    by copy * n. Used to measure candidate-pair growth of the banded
    LSH blocking without introducing planted near-dups."""
    from pyspark.sql import functions as F

    n = emb.count()
    parts = []
    for c in range(copies):
        flipped = emb.select(
            (F.col("vec_id") + F.lit(c * n)).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, i: x
                * F.when(
                    F.crc32(F.concat(F.lit(f"{c}:"), i.cast("string"))) % 2 == 0,
                    F.lit(1.0),
                ).otherwise(F.lit(-1.0)),
            ).alias("embedding"),
        )
        parts.append(flipped)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def test_banded_lsh_candidates_grow_linearly(spark):
    """VERDICT item 4 'done' criterion: candidate pairs must grow
    ~linearly (not quadratically) when the table is scaled 10x, because
    adaptive_sign_bits keeps bucket occupancy bounded."""
    from geotiff_tiler_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = _decorrelated_copies(emb, 1)
    big = _decorrelated_copies(emb, 10)
    n1, n10 = base.count(), big.count()
    assert n10 == 10 * n1
    # use a small rows_per_bucket so BOTH sizes sit in the adaptive regime
    # at test scale (the production default 256 only sets where the linear
    # regime starts; below it bits floor at lo=4 and growth is still
    # converging toward the occupancy cap)
    bits1 = similarity.adaptive_sign_bits(n1, rows_per_bucket=32)
    bits10 = similarity.adaptive_sign_bits(n10, rows_per_bucket=32)
    assert bits10 > bits1  # the bits actually adapt upward with n
    c1 = similarity.neardup_candidate_count(
        base, bits=bits1, bands=similarity.NEARDUP_BANDS
    )
    c10 = similarity.neardup_candidate_count(
        big, bits=bits10, bands=similarity.NEARDUP_BANDS
    )
    growth = c10 / max(c1, 1)
    # quadratic (fixed-bucket) growth would be ~100x; adaptive banding
    # must stay within ~2x of linear
    assert growth <= 20.0, (c1, c10, growth)


def test_banded_ann_recall_vs_bruteforce(spark):
    from geotiff_tiler_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = similarity.cosine_topk(emb, k=5, query_mod=25)
    ann = similarity.ann_topk_banded(emb, k=5, query_mod=25)
    want = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    got = {(r.query_id, r.neighbor_id) for r in ann.collect()}
    recall = len(want & got) / len(want)
    assert recall >= 0.3, recall  # union-of-bands candidates, bounded work


def test_hot_cell_salting_bounds_tasks_and_preserves_output(spark, docs):
    """VERDICT item 5 'done' criterion: one deliberately hot cell must be
    split into bounded point shards (salting) without changing the join
    output vs the unsalted path."""
    from pyspark.sql import functions as F

    from geotiff_tiler_spark.operators import tiling
    from geotiff_tiler_spark.operators.spatial_join import (
        boxes_to_cells,
        point_in_polygon_join,
    )
    from geotiff_tiler_spark.operators.tiling import TilingParams
    from geotiff_tiler_spark.functions import geo
    from geotiff_tiler_spark.sources.labels import label_polygons

    base = tiling.doc_points(docs, TilingParams()).select("doc_id", "lon", "lat")
    # make one cell deliberately hot: pile 400 extra points onto the
    # location of doc 0 with fresh ids
    anchor = base.filter(F.col("doc_id") == 0).select("lon", "lat").first()
    hot = spark.range(1_000_000, 1_000_400).select(
        F.col("id").alias("doc_id"),
        (F.lit(anchor.lon) + (F.col("id") % 20) * 1e-6).alias("lon"),
        (F.lit(anchor.lat) + (F.col("id") % 17) * 1e-6).alias("lat"),
    )
    pts = base.unionByName(hot)
    polys = label_polygons(spark, n=60)

    bound = 100  # force salting: hot cell has >= 400 points
    salted = point_in_polygon_join(pts, polys, res=3, max_points_per_task=bound)
    plain = point_in_polygon_join(pts, polys, res=3, max_points_per_task=10**9)
    got = sorted((r.doc_id, r.feature_id) for r in salted.collect())
    want = sorted((r.doc_id, r.feature_id) for r in plain.collect())
    assert got == want and len(got) > 0

    # per-task group size is bounded: replicate the operator's salting and
    # measure the largest (cell, salt) point group
    pc = pts.withColumn("cell", geo.cell_id("lon", "lat", 3))
    salt_map = (
        pc.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > bound)
        .select("cell", F.ceil(F.col("_n") / F.lit(bound)).cast("int").alias("_nsalt"))
    )
    shards = (
        pc.join(F.broadcast(salt_map), "cell", "left")
        .withColumn(
            "salt",
            F.when(
                F.col("_nsalt").isNotNull(),
                F.pmod(F.xxhash64("doc_id"), F.col("_nsalt")).cast("int"),
            ).otherwise(F.lit(0)),
        )
        .groupBy("cell", "salt")
        .count()
    )
    hot_cells = {r.cell for r in salt_map.collect()}
    assert hot_cells  # the synthetic pile-up actually exceeded the bound
    max_shard = max(r["count"] for r in shards.collect() if r.cell in hot_cells)
    # hash-split shards stay within ~2x of the ideal bound
    assert max_shard <= 2 * bound, max_shard


def test_choose_res_adapts_to_density(spark, docs):
    from pyspark.sql import functions as F

    from geotiff_tiler_spark.operators import tiling
    from geotiff_tiler_spark.operators.spatial_join import choose_res
    from geotiff_tiler_spark.operators.tiling import TilingParams

    pts = tiling.doc_points(docs, TilingParams()).select("doc_id", "lon", "lat")
    coarse = choose_res(pts, target_rows_per_cell=10_000)
    fine = choose_res(pts, target_rows_per_cell=5)
    assert coarse <= fine
    assert 2 <= coarse <= 8 and 2 <= fine <= 8


def test_adaptive_ivf_clusters_scale_and_default_path(spark):
    from geotiff_tiler_spark.operators import similarity

    assert similarity.adaptive_ivf_clusters(500) == 89       # 4*sqrt(500)
    assert similarity.adaptive_ivf_clusters(10**12) == 4096  # sample-capped
    assert similarity.adaptive_ivf_clusters(1) == 8          # floor
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    got = similarity.ivf_topk(emb, k=5, query_mod=25, n_clusters=None, nprobe=8)
    exact = similarity.cosine_topk(emb, k=5, query_mod=25)
    want = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    hit = {(r.query_id, r.neighbor_id) for r in got.collect()}
    assert len(want & hit) / len(want) >= 0.3  # many small lists, nprobe=8


def test_pip_chunked_probes_reduce_candidates_per_probe(rng):
    """VERDICT r3 item 4 'done' criterion: on a cell dense with polygons,
    probing the STRtree per spatially-sorted point chunk must (a) keep the
    hit set identical to the old whole-cell-bbox probe and (b) actually
    realize the tree — candidates PER PROBE must be a small fraction of
    the cell's polygon count, where the whole-cell probe returned nearly
    all of them."""
    import pandas as pd

    from geotiff_tiler_spark.operators.spatial_join import pip_probe_pandas

    n_polys, n_pts = 1500, 20000
    lo = rng.uniform(0.0, 9.5, size=(n_polys, 2))
    wh = rng.uniform(0.05, 0.5, size=(n_polys, 2))
    boxes = np.hstack([lo, lo + wh])
    wkbs = []
    for x0, y0, x1, y1 in boxes:
        ring = np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]])
        wkbs.append(st.wkb_polygon([ring]))
    polys_pdf = pd.DataFrame(
        {
            "feature_id": np.arange(n_polys, dtype=np.int64),
            "class": ["c"] * n_polys,
            "wkb": wkbs,
            "xmin": boxes[:, 0],
            "ymin": boxes[:, 1],
            "xmax": boxes[:, 2],
            "ymax": boxes[:, 3],
        }
    )
    pts = rng.uniform(0.0, 10.0, size=(n_pts, 2))
    pts_pdf = pd.DataFrame(
        {
            "doc_id": np.arange(n_pts, dtype=np.int64),
            "lon": pts[:, 0],
            "lat": pts[:, 1],
        }
    )

    whole_stats: dict = {}
    whole = pip_probe_pandas(pts_pdf, polys_pdf, chunk=10**9, stats=whole_stats)
    chunk_stats: dict = {}
    chunked = pip_probe_pandas(pts_pdf, polys_pdf, stats=chunk_stats)

    key = lambda df: set(zip(df["doc_id"], df["feature_id"]))
    assert key(chunked) == key(whole)  # identical hit set

    assert whole_stats["probes"] == 1
    # the whole-cell probe degenerates: points span the cell, so ~all
    # polygons come back as candidates
    assert whole_stats["candidates"] >= 0.95 * n_polys
    # chunked probes must each see only a strip's worth of polygons
    assert chunk_stats["probes"] >= 4
    per_probe = chunk_stats["candidates"] / chunk_stats["probes"]
    assert per_probe <= 0.5 * n_polys, (per_probe, chunk_stats)


def test_label_boxes_unique(spark):
    """point_in_box_join's no-dedup design rests on this invariant:
    the labels source emits exactly ONE row per feature_id (see the
    CONTRACT note in sources/labels.py:label_boxes). If a future source
    duplicates feature rows, fail here — not as a silent q23 divergence
    from its DISTINCT-based oracle."""
    from pyspark.sql import functions as F

    from geotiff_tiler_spark.sources.labels import label_boxes

    supplier = spark.read.parquet("/root/testdata/sf0.001/supplier.parquet")
    boxes = label_boxes(supplier)
    n_rows, n_features = boxes.agg(
        F.count(F.lit(1)), F.countDistinct("feature_id")
    ).first()
    assert n_rows == n_features and n_rows == supplier.count()


def _knn_frames(spark, pts, qs):
    """(queries, points) frames from (id, lon, lat) tuples."""
    import pandas as pd

    def frame(rows, names):
        pdf = pd.DataFrame(rows, columns=names).astype({names[0]: "int64", names[1]: "float64", names[2]: "float64"})
        return spark.createDataFrame(pdf, ", ".join(f"{c} {t}" for c, t in zip(names, ("long", "double", "double"))))

    return frame(qs, ["query_id", "q_lon", "q_lat"]), frame(pts, ["neighbor_id", "n_lon", "n_lat"])


def _knn_rows(df):
    return sorted((r.query_id, r.rank, r.neighbor_id, r.dist2) for r in df.collect())


def _knn_layouts(rng):
    """Adversarial (name, points, queries, k) layouts for the single-probe
    bound: each stresses one step of its exactness argument."""
    # a dense cluster beside sparse points: the cluster wants a fine
    # level, the sparse points a wide window
    dense = [(i, 10.0 + x, 20.0 + y) for i, (x, y) in enumerate(rng.uniform(0, 0.05, (300, 2)).tolist())]
    sparse = [(1000 + i, x, y) for i, (x, y) in enumerate(
        zip(rng.uniform(-180, 180, 60).tolist(), rng.uniform(-90, 90, 60).tolist()))]
    cluster = dense + sparse
    # plus queries in an empty region (no window within max_ring holds k+1
    # points, so they probe the whole grid) and query ids that are not
    # among the points (nothing to exclude)
    yield "dense_beside_sparse", cluster, [p for p in cluster if p[0] % 15 == 0] + [
        (5000, -150.0, -80.0), (5001, 170.0, 85.0), (5002, -179.9, 0.0),
    ] + [(10**6 + p[0], p[1], p[2]) for p in cluster[::20]], 5
    # duplicate coordinates and ties at the k-th distance: a lattice with
    # every site stacked three deep
    lattice = [(3 * (i * 9 + j) + s, -40.0 + 2.0 * i, 10.0 + 2.0 * j)
               for i in range(9) for j in range(9) for s in range(3)]
    yield "duplicates_and_ties", lattice, [(p[0], p[1], p[2]) for p in lattice[::7]], 7
    # points exactly on cell edges at every level 2..8, the world's edges
    # included (lon -180/180, lat -90/90)
    edges = []
    for i in range(0, 257, 4):
        for j in range(0, 257, 16):
            edges.append((len(edges), -180.0 + 360.0 * i / 256, -90.0 + 180.0 * j / 256))
    yield "cell_edges", edges, [p for p in edges if p[0] % 11 == 0], 4
    # k >= the number of points: every query ranks every other point, the
    # ones outside the lon/lat domain (which the histogram does not count)
    # included
    few = [(1, 0.0, 0.0), (2, 1.0, 1.0), (3, -1.0, 0.5), (4, 120.0, -45.0), (5, 200.0, 95.0)]
    yield "k_exceeds_points", few, [(1, 0.0, 0.0), (9, 0.5, 0.5)], 6
    # exactly k+1 points in the query's res-2 cell, the query among them:
    # a window of k points would miss the k-th neighbor just outside it
    cell = [(i, -45.0 + 0.1 * i, -22.5 + 0.05 * i) for i in range(4)]
    yield "k_plus_one_in_cell", cell + [(10, 10.0, -22.5), (11, 100.0, 60.0)], cell[:1], 4
    # the k-th neighbor exactly on the window's farthest corner (the lower
    # left corner of the query's res-2 cell), so D is tight
    yield "neighbor_on_far_corner", [(1, 89.0, 44.0), (2, 0.0, 0.0), (3, -170.0, -80.0)], [(1, 89.0, 44.0)], 1


def test_knn_single_probe_exact_on_adversarial_layouts(spark):
    """The up-front bound (each query's box from the cell histogram) must
    give exactly the brute-force top-k — same ranks, neighbors and dist2
    — on every layout, at the density-chosen level and at fixed ones."""
    from geotiff_tiler_spark.operators import knn

    for name, pts, qs, k in _knn_layouts(np.random.default_rng(11)):
        queries, points = _knn_frames(spark, pts, qs)
        want = _knn_rows(knn.knn_bruteforce(queries, points, k))
        assert want, name
        for res, max_ring in ((None, 4), (2, 1), (8, 2)):
            got = _knn_rows(knn.knn_cell_ring(queries, points, k, res=res, max_ring=max_ring))
            assert got == want, (name, res, max_ring)


def test_knn_single_probe_non_finite_queries(spark):
    """Queries with a null, NaN or infinite coordinate have no bounded box:
    they scan every point, ranked exactly as the brute force ranks them."""
    from pyspark.sql import functions as F

    from geotiff_tiler_spark.operators import knn

    pts = [(i, -170.0 + 7.0 * i, -80.0 + 3.0 * i) for i in range(50)]
    queries, points = _knn_frames(spark, pts, [(100, 0.0, 0.0), (101, 1.0, 1.0), (102, 2.0, 2.0), (3, -149.0, -71.0)])
    odd = F.col("query_id")
    queries = queries.withColumn(
        "q_lon",
        F.when(odd == 100, F.lit(float("nan"))).when(odd == 101, F.lit(float("inf"))).otherwise(F.col("q_lon")),
    ).withColumn("q_lat", F.when(odd == 102, F.lit(None)).otherwise(F.col("q_lat")))
    want = _knn_rows(knn.knn_bruteforce(queries, points, 3))
    got = _knn_rows(knn.knn_cell_ring(queries, points, 3))
    assert len(want) == 12 and [r[:3] for r in got] == [r[:3] for r in want]
    assert all(a[3] == b[3] or (a[3] != a[3] and b[3] != b[3]) for a, b in zip(got, want))


def test_knn_probe_res_picks_smallest_volume():
    """The level choice minimizes the estimated probe volume: uniform
    points at ~1 per res-7 cell pick a fine level, a handful of points
    pick the coarsest, and cells with no radius price a whole-grid scan."""
    from geotiff_tiler_spark.operators import knn

    rng = np.random.default_rng(5)
    grid = rng.poisson(20_000 / 4**8, size=(256, 256))
    assert knn._probe_res(grid, k=5, max_ring=4) >= 6
    few = np.zeros((256, 256), dtype=np.int64)
    few[[3, 200, 90], [7, 100, 250]] = 1
    assert knn._probe_res(few, k=5, max_ring=4) == 2
    # r_c grows upward and stops at max_ring
    counts = np.zeros((8, 8), dtype=np.int64)
    counts[4, 4] = 6
    ring = knn._ring_radius(counts, need=6, max_ring=2)
    assert ring[4, 4] == 0 and ring[3, 5] == 1 and ring[2, 2] == 2 and ring[0, 0] == -1


def test_knn_cell_ring_runs_few_jobs(spark, docs):
    """One knn_cell_ring call is one histogram aggregate plus one probe
    query — no ring rounds, checkpoints or count actions. The ring form
    ran 14 jobs on this shape; the single probe stays at 6 or fewer."""
    import uuid

    from pyspark.sql import functions as F

    from geotiff_tiler_spark.operators import knn, tiling
    from geotiff_tiler_spark.operators.tiling import TilingParams

    pts = tiling.doc_points(docs, TilingParams())
    queries = pts.filter(F.col("doc_id") % 100 == 0).select(
        F.col("doc_id").alias("query_id"), F.col("lon").alias("q_lon"), F.col("lat").alias("q_lat")
    )
    points = pts.select(
        F.col("doc_id").alias("neighbor_id"), F.col("lon").alias("n_lon"), F.col("lat").alias("n_lat")
    )
    sc = spark.sparkContext
    gid = f"knn-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(gid, gid)
    try:
        rows = knn.knn_cell_ring(queries, points, k=5).collect()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(gid))
    assert rows and jobs <= 6, jobs
