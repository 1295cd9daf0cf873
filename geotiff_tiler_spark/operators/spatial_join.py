"""Spatial joins: bounds-overlap, point-in-polygon, cell-prefiltered equi-joins.

The reference's joins are all geometric predicates evaluated pairwise in
Python (SURVEY §2.4). The Spark-first re-expression is the classic
filter/refine pattern:

  1. FILTER: assign each geometry to every grid cell its bbox overlaps
     (a bounded `explode` over the cell range — pure JVM expressions),
     then equi-join on cell id. Catalyst plans a plain shuffle/broadcast
     hash join; AQE splits skewed cells (hot urban polygons).
  2. REFINE: evaluate the exact predicate on the candidate pairs —
     box algebra in JVM expressions here; general polygons via the numpy
     STRtree pandas UDF in `strtree.py`.
  3. DEDUP: a geometry paired with a multi-cell partner meets it once per
     shared cell -> `distinct()` on the pair key.

Semantics matched to the reference:
- `bounds_overlap_join` = calculate_overlap (reference io.py:312-352):
  IoU of bounding boxes as a PERCENTAGE, pairs kept when > 0.
- `point_in_box_join` = clip_gdf_to_window/sindex.query
  (reference vector.py:36-62): candidate selection by index then exact
  intersects; rectangles are exact already, so refine == predicate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geotiff_tiler_spark.functions import geo


def image_boxes(images: DataFrame, res: int) -> DataFrame:
    """Geo bbox of each image cell: cell (ix, iy) at res -> lon/lat box."""
    n = 1 << res
    cw = 360.0 / n
    ch = 180.0 / n
    ix = geo.unpack_ix("image_id")
    iy = geo.unpack_iy("image_id")
    return images.select(
        "image_id",
        (ix.cast("double") * F.lit(cw) - F.lit(180.0)).alias("img_xmin"),
        (iy.cast("double") * F.lit(ch) - F.lit(90.0)).alias("img_ymin"),
        ((ix.cast("double") + 1) * F.lit(cw) - F.lit(180.0)).alias("img_xmax"),
        ((iy.cast("double") + 1) * F.lit(ch) - F.lit(90.0)).alias("img_ymax"),
    )


def boxes_to_cells(boxes: DataFrame, res: int, prefix: str = "") -> DataFrame:
    """Explode each box to every res-cell its bbox overlaps (filter stage).

    Bounded fan-out: ceil(box_w/cell_w + 1) * ceil(box_h/cell_h + 1) cells.
    """
    xmin, ymin = F.col(f"{prefix}xmin"), F.col(f"{prefix}ymin")
    xmax, ymax = F.col(f"{prefix}xmax"), F.col(f"{prefix}ymax")
    out = boxes.withColumn("_ix", F.explode(F.sequence(geo.cell_ix(xmin, res), geo.cell_ix(xmax, res))))
    out = out.withColumn("_iy", F.explode(F.sequence(geo.cell_iy(ymin, res), geo.cell_iy(ymax, res))))
    return out.withColumn("cell", geo.pack_cell("_ix", "_iy", res)).drop("_ix", "_iy")


def bounds_overlap_join(
    images: DataFrame, labels: DataFrame, res: int, min_overlap_pct: float = 0.0
) -> DataFrame:
    """J1: IoU%% of image bbox vs label bbox; keep pairs with overlap > min.

    Exact semantics of reference io.py:336-349:
      intersection = max(0, min(xmax) - max(xmin)) * max(0, min(ymax) - max(ymin))
      union        = area_a + area_b - intersection
      overlap_pct  = intersection / union * 100
    Plan: cell equi-join prefilter (no quadratic pair blowup), exact box
    algebra refine, pair dedup. All JVM-side.
    """
    ib = image_boxes(images, res)
    icells = boxes_to_cells(ib, res, "img_")
    lcells = boxes_to_cells(labels, res)
    cand = icells.join(lcells, "cell").drop("cell").distinct()
    ix = F.greatest(F.col("img_xmin"), F.col("xmin"))
    ax = F.least(F.col("img_xmax"), F.col("xmax"))
    iy = F.greatest(F.col("img_ymin"), F.col("ymin"))
    ay = F.least(F.col("img_ymax"), F.col("ymax"))
    inter = F.greatest(ax - ix, F.lit(0.0)) * F.greatest(ay - iy, F.lit(0.0))
    area_a = (F.col("img_xmax") - F.col("img_xmin")) * (F.col("img_ymax") - F.col("img_ymin"))
    area_b = (F.col("xmax") - F.col("xmin")) * (F.col("ymax") - F.col("ymin"))
    union = area_a + area_b - inter
    pct = F.when(union > 0, inter / union * 100.0).otherwise(F.lit(0.0))
    return (
        cand.withColumn("overlap_pct", F.round(pct, 6))
        .filter(F.col("overlap_pct") > min_overlap_pct)
        .select("image_id", "feature_id", "class", "overlap_pct")
    )


def point_in_box_join(points: DataFrame, labels: DataFrame, res: int) -> DataFrame:
    """J6 (rect subset): point-in-polygon via cell equi-join + exact refine.

    points: (doc_id, lon, lat, ...); labels: label_boxes schema.
    Inclusive on min edges, exclusive on max edges (half-open, so a point
    on a shared boundary lands in exactly one box of a partition).

    No dedup needed — and none run: a POINT has exactly one cell, so a
    (point, box) pair meets in at most one cell row even when the box
    spans many cells (the distinct() the box-box join needs would be a
    full output-sized shuffle here; dropping it made the 8M-page scale
    workload's join stage shuffle-free, it was the stage's whole cost).

    INPUT INVARIANT (guarded by test_spatial.test_label_boxes_unique and
    the labels-source contract in sources/labels.py): `labels` carries
    one row per feature_id and boxes_to_cells emits each (feature, cell)
    once; `points` carries one (lon, lat) per doc_id. A labels source
    that duplicates feature rows would duplicate output pairs here — the
    uniqueness test fails loudly instead of this join silently diverging
    from its DISTINCT-based oracle.
    """
    pc = points.withColumn("cell", geo.cell_id("lon", "lat", res))
    lc = boxes_to_cells(labels, res)
    cand = pc.join(lc, "cell")
    hit = (
        (F.col("lon") >= F.col("xmin"))
        & (F.col("lon") < F.col("xmax"))
        & (F.col("lat") >= F.col("ymin"))
        & (F.col("lat") < F.col("ymax"))
    )
    return cand.filter(hit).select("doc_id", "feature_id", "class")


# Finest level of the rows-per-cell histogram: 4^8 = 65,536 cells at most,
# small to collect at any data scale because the aggregate, not the data,
# is collected.
HIST_HI = 8


def cell_histogram(points: DataFrame, lon_col: str = "lon", lat_col: str = "lat", hi: int = HIST_HI):
    """(2^hi, 2^hi) int64 grid of point counts per res-`hi` cell, indexed
    [ix, iy] — ONE distributed rows-per-cell aggregate, collected. Points
    with a null coordinate have no cell and are not counted."""
    import numpy as np

    ix = geo.cell_ix(F.col(lon_col), hi)
    iy = geo.cell_iy(F.col(lat_col), hi)
    t = (
        points.filter(ix.isNotNull() & iy.isNotNull())
        .groupBy(ix.alias("ix"), iy.alias("iy"))
        .agg(F.count(F.lit(1)).alias("n"))
        .toArrow()
    )
    n = 1 << hi
    grid = np.zeros((n, n), dtype=np.int64)
    grid[t.column("ix").to_numpy(), t.column("iy").to_numpy()] = t.column("n").to_numpy()
    return grid


def rollup(grid, res: int):
    """Counts of a `cell_histogram` grid at the coarser level `res`: each
    res-cell sums its 2^(hi-res) x 2^(hi-res) block of hi-cells."""
    n = 1 << res
    f = grid.shape[0] // n
    return grid.reshape(n, f, n, f).sum(axis=(1, 3))


def choose_res(
    points: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    target_rows_per_cell: int = 100_000,
    lo: int = 2,
    hi: int = HIST_HI,
) -> int:
    """Pick the coarsest cell resolution whose hottest cell holds at most
    `target_rows_per_cell` points — derived from ONE distributed
    rows-per-cell aggregate at `hi` (`cell_histogram`), rolled up to
    coarser levels in the calling process.

    Replaces the fixed res=4 default that made a hot cell one
    unsplittable cogroup at 100x density.
    """
    grid = cell_histogram(points, lon_col, lat_col, hi)
    if grid.any():
        for r in range(lo, hi + 1):
            if rollup(grid, r).max() <= target_rows_per_cell:
                return r
    return hi


def point_in_polygon_join(
    points: DataFrame,
    polygons: DataFrame,
    res: int | None = None,
    max_points_per_task: int = 200_000,
) -> DataFrame:
    """J6/J7 general case: point-in-(Multi)Polygon via per-cell STRtree.

    polygons: (feature_id, class, wkb [WKB binary], xmin, ymin, xmax, ymax).
    Plan: both sides exploded/keyed to res-cells (JVM expressions), then a
    cogrouped `applyInPandas` per cell builds an STRtree over that cell's
    polygon bboxes, probes the cell's points (vectorized), and ray-casts
    only the STRtree candidates — exactly the reference's filter/refine
    (vector.py:36-62: sindex.query then intersects). Arrow-batched; no
    per-row Python outside the vectorized numpy kernels.

    Skew: AQE cannot split a cogroup, so hot cells are handled explicitly:
    (1) `res` defaults to `choose_res` (coarsest level whose hottest cell
    is under target occupancy), and (2) any cell whose POINT count still
    exceeds `max_points_per_task` is salted — its points are hash-split
    into ceil(n / max_points_per_task) shards and the cell's polygons are
    replicated to every shard, so each cogroup task sees a bounded point
    batch and the full polygon set (output unchanged; verified by
    test_spatial's hot-cell test). The salt map is a per-cell aggregate,
    broadcast — never a data-sized structure.
    Output: (doc_id, feature_id, class), duplicate-free by construction
    (one (cell, salt) row per point; no dedup shuffle).
    """
    import pandas as pd

    from geotiff_tiler_spark.functions import geo as _geo
    from geotiff_tiler_spark.operators import strtree as _st

    if res is None:
        res = choose_res(points, target_rows_per_cell=max_points_per_task)

    pc = points.withColumn("cell", _geo.cell_id("lon", "lat", res)).select(
        "cell", "doc_id", "lon", "lat"
    )
    lc = boxes_to_cells(polygons, res).select(
        "cell", "feature_id", "class", "wkb", "xmin", "ymin", "xmax", "ymax"
    )

    # hot-cell salt map: cells whose point count exceeds the task bound
    salt_map = (
        pc.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > max_points_per_task)
        .select(
            "cell",
            F.ceil(F.col("_n") / F.lit(max_points_per_task)).cast("int").alias("_nsalt"),
        )
    )
    pc = (
        pc.join(F.broadcast(salt_map), "cell", "left")
        .withColumn(
            "salt",
            F.when(
                F.col("_nsalt").isNotNull(),
                F.pmod(F.xxhash64("doc_id"), F.col("_nsalt")).cast("int"),
            ).otherwise(F.lit(0)),
        )
        .drop("_nsalt")
    )
    lc = (
        lc.join(F.broadcast(salt_map), "cell", "left")
        .withColumn(
            "salt",
            F.explode(F.sequence(F.lit(0), F.coalesce(F.col("_nsalt"), F.lit(1)) - 1)),
        )
        .withColumn("salt", F.col("salt").cast("int"))
        .drop("_nsalt")
    )

    # no distinct: a point has ONE (cell, salt) row, each polygon appears
    # once per (cell, salt) shard, and the probe kernel emits a (point,
    # feature) hit at most once — so the output is duplicate-free by
    # construction and the output-sized dedup shuffle is unnecessary
    return (
        pc.groupBy("cell", "salt")
        .cogroup(lc.groupBy("cell", "salt"))
        .applyInPandas(
            # applyInPandas validates arity — strictly (left, right)
            lambda pts, polys: pip_probe_pandas(pts, polys),
            "doc_id long, feature_id long, class string",
        )
    )


# Points per STRtree probe in the PIP refine. Small enough that a chunk's
# bbox (after the spatial sort) is a thin strip of the cell, large enough
# that the per-chunk numpy overhead amortizes.
PIP_CHUNK = 4096


def pip_probe_pandas(
    pts_pdf, polys_pdf, chunk: int = PIP_CHUNK, stats: dict | None = None
):
    """Per-(cell, salt) cogroup kernel for `point_in_polygon_join`.

    FILTER: points are sorted by (lon, lat) and probed against the
    polygon-bbox STRtree in `chunk`-point sub-batches, each with its OWN
    bbox — after the sort a chunk covers a thin strip of the cell, so the
    tree prunes candidates logarithmically even when the cell holds many
    polygons. (The round-3 form probed once with the whole cell's bbox,
    which returned nearly every polygon in the cell and degraded the
    reference's sindex.query invariant — vector.py:36-62, O(log n)
    candidate selection — toward linear per cell.)

    REFINE: per candidate polygon, bbox mask + even-odd ray cast
    VECTORIZED over the chunk's points — the Python loop count is
    O(sum of per-chunk candidates), never O(points).

    `stats` (tests only) accumulates {"probes": int, "candidates": int}
    so the candidate reduction vs a whole-cell probe is assertable.
    Output row order is chunk-major; rows are already unique (a point
    meets each polygon in exactly one chunk), so callers do NOT dedup.
    """
    import numpy as np
    import pandas as pd

    if len(pts_pdf) == 0 or len(polys_pdf) == 0:
        return pd.DataFrame({"doc_id": [], "feature_id": [], "class": []}).astype(
            {"doc_id": "int64", "feature_id": "int64", "class": "object"}
        )
    from geotiff_tiler_spark.operators import strtree as _st

    boxes = polys_pdf[["xmin", "ymin", "xmax", "ymax"]].to_numpy(dtype=np.float64)
    tree = _st.STRtree(boxes)
    xs = pts_pdf["lon"].to_numpy(dtype=np.float64)
    ys = pts_pdf["lat"].to_numpy(dtype=np.float64)
    out_doc, out_feat, out_cls = [], [], []
    wkbs = polys_pdf["wkb"].to_list()
    feats = polys_pdf["feature_id"].to_numpy()
    classes = polys_pdf["class"].to_list()
    doc_ids = pts_pdf["doc_id"].to_numpy()
    order = np.lexsort((ys, xs))
    for s in range(0, len(order), chunk):
        sel = order[s : s + chunk]
        cxs, cys, cdocs = xs[sel], ys[sel], doc_ids[sel]
        cand_polys = tree.query_box(cxs.min(), cys.min(), cxs.max(), cys.max())
        if stats is not None:
            stats["probes"] = stats.get("probes", 0) + 1
            stats["candidates"] = stats.get("candidates", 0) + len(cand_polys)
        for j in cand_polys:
            b = boxes[j]
            mask = (cxs >= b[0]) & (cxs <= b[2]) & (cys >= b[1]) & (cys <= b[3])
            if not mask.any():
                continue
            ia = np.nonzero(mask)[0]
            inside = _st.points_in_wkb(cxs[ia], cys[ia], wkbs[int(j)])
            hit = ia[inside]
            if len(hit):
                out_doc.extend(cdocs[hit].tolist())
                out_feat.extend([int(feats[j])] * len(hit))
                out_cls.extend([classes[int(j)]] * len(hit))
    return pd.DataFrame({"doc_id": out_doc, "feature_id": out_feat, "class": out_cls})
