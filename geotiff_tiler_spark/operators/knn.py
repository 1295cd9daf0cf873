"""Exact k-nearest-neighbor join: one probe inside a per-query bound.

The north rule mandates kNN with cell-ring expansion + a sort-merge
fallback; the reference has no kNN, so the semantics are pinned here and
verified against a brute-force oracle:

- distance: squared planar Euclidean on (lon, lat) degrees (deterministic
  double arithmetic, identical in the DuckDB oracle);
- ties: broken by neighbor id ascending;
- self-pairs excluded (neighbor ids are unique per point);
- EXACT result (not approximate).

Up-front bound (the per-cell radius idea of Distributed Stream KNN Join,
SIGMOD 2021). One rows-per-cell histogram of the points
(`spatial_join.cell_histogram`) gives, for every cell c at the join
resolution, r_c: the smallest Chebyshev window of cells
[cx - r_c, cx + r_c] x [cy - r_c, cy + r_c] that holds >= k+1 points. For
a query q in c, D is the distance from q to that window's farthest corner.

Exactness. Every point counted in the window lies inside the window's
rectangle (only in-domain points, lon in [-180, 180] and lat in
[-90, 90], are counted, so clamped edge cells hold no outside points), and
the farthest point of a rectangle from q is one of its corners — so at
least k+1 points lie within D of q, at least k of them other than q
itself. Hence the k-th neighbor distance is <= D, and the k nearest
neighbors, together with every tie at the k-th distance, lie in the box
[q_lon +- D] x [q_lat +- D]. `geo.cell_ix`/`cell_iy` are monotone (floor
+ clamp), so every point in that box has its cell in the box's cell
range, whatever its coordinates. Probing those cells and keeping
dist2 <= D^2 therefore sees every point the top-k can select. D is padded
by a relative epsilon so rounding in the corner and cell arithmetic
cannot push a point on a cell edge out of the box.

Scale shape: one histogram aggregate (4^8 cells, or 4^res for a finer res),
numpy in the calling process for the radii (a broadcast table of at
most 4^res rows), then ONE equi-join of the exploded query boxes against the
cell-keyed points and ONE per-query top-k window. No rounds, no
checkpoints, no count actions. A query whose window needs more than
`max_ring` rings (a query in an empty region, or fewer than k+1 points
overall), or whose coordinates are not finite, gets the whole grid as
its box: the brute-force scan of every point, inside the same join and
with no extra job.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from geotiff_tiler_spark.functions import geo
from geotiff_tiler_spark.operators.spatial_join import HIST_HI, cell_histogram, rollup

# Relative pad on the search radius D (D >= half a cell diagonal, so this
# dwarfs the ulp-level rounding of the corner and cell arithmetic).
_EPS = 1e-9


def _dist2():
    dx = F.col("q_lon") - F.col("n_lon")
    dy = F.col("q_lat") - F.col("n_lat")
    return dx * dx + dy * dy


def _topk(cand: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(F.col("dist2").asc(), F.col("neighbor_id").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def knn_bruteforce(queries: DataFrame, points: DataFrame, k: int) -> DataFrame:
    """Sort-merge/broadcast fallback: all-pairs + per-query top-k.

    queries: (query_id, q_lon, q_lat); points: (neighbor_id, n_lon, n_lat).
    The oracle-equivalent baseline `knn_cell_ring` is tested against.
    """
    cand = (
        F.broadcast(queries)
        .crossJoin(points)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("dist2", _dist2())
    )
    return _topk(cand, k).select("query_id", "rank", "neighbor_id", "dist2")


def _sat(counts):
    """Summed-area table: S[i, j] = counts[:i, :j].sum()."""
    n = counts.shape[0]
    s = np.zeros((n + 1, n + 1), dtype=np.int64)
    s[1:, 1:] = counts.cumsum(axis=0).cumsum(axis=1)
    return s


def _window_sum(s, hx, hy):
    """Points in the window [ix - hx, ix + hx] x [iy - hy, iy + hy]
    (clamped to the grid) around every cell, from its summed-area table."""
    n = s.shape[0] - 1
    ix, iy = np.indices((n, n))
    x0, x1 = np.maximum(ix - hx, 0), np.minimum(ix + hx, n - 1) + 1
    y0, y1 = np.maximum(iy - hy, 0), np.minimum(iy + hy, n - 1) + 1
    return s[x1, y1] - s[x0, y1] - s[x1, y0] + s[x0, y0]


def _ring_radius(counts, need: int, max_ring: int):
    """r_c per cell: the smallest window radius <= max_ring holding
    >= need points, -1 where none does. Grows r upward and stops once
    every cell is placed (or the window covers the grid)."""
    n = counts.shape[0]
    s = _sat(counts)
    ring = np.full((n, n), -1, dtype=np.int64)
    for r in range(min(max_ring, n - 1) + 1):
        ring[(ring < 0) & (_window_sum(s, r, r) >= need)] = r
        if (ring >= 0).all():
            break
    return ring


def _probe_volume(counts, ring) -> int:
    """Estimated rows one probe at this level emits: sum over cells of
    points-in-cell (the query density proxy) x (points + cells in the
    cell's box), with the box's radius D measured from the cell center.
    Cells without a radius probe the whole grid: every cell and point."""
    n = counts.shape[0]
    cw, ch = 360.0 / n, 180.0 / n
    half = np.maximum(ring, 0) + 0.5
    d = np.hypot(half * cw, half * ch)
    hx = np.ceil(d / cw - 0.5).astype(np.int64)
    hy = np.ceil(d / ch - 0.5).astype(np.int64)
    ix, iy = np.indices((n, n))
    cells = (np.minimum(ix + hx, n - 1) - np.maximum(ix - hx, 0) + 1) * (
        np.minimum(iy + hy, n - 1) - np.maximum(iy - hy, 0) + 1
    )
    cost = np.where(ring >= 0, _window_sum(_sat(counts), hx, hy) + cells, counts.sum() + n * n)
    return int((counts * cost).sum())


def _probe_res(grid, k: int, max_ring: int) -> int:
    """The level in [2, hi] with the smallest estimated probe volume:
    coarse levels scan many points per box, fine ones explode many cells
    (and send sparse queries to the whole grid). Ties keep the coarser."""
    hi = grid.shape[0].bit_length() - 1
    vols = {}
    for r in range(2, hi + 1):
        counts = rollup(grid, r)
        vols[r] = _probe_volume(counts, _ring_radius(counts, k + 1, max_ring))
    return min(vols, key=lambda r: (vols[r], r))


def knn_cell_ring(
    queries: DataFrame,
    points: DataFrame,
    k: int,
    res: int | None = None,
    max_ring: int = 4,
) -> DataFrame:
    """Exact kNN: one probe of each query's bounded box, brute force for
    the queries the bound cannot confine.

    queries: (query_id, q_lon, q_lat); points: (neighbor_id, n_lon, n_lat).
    Output (query_id, rank, neighbor_id, dist2), identical to
    `knn_bruteforce`. See the module docstring for the bound and its proof.

    `res=None` picks the join resolution from the same histogram: the
    level in [2, 8] with the smallest estimated probe volume
    (`_probe_res`). The result is EXACT for every res and max_ring — they
    move only the join granularity and the brute-force share.
    """
    in_domain = F.col("n_lon").between(-180.0, 180.0) & F.col("n_lat").between(-90.0, 90.0)
    grid = cell_histogram(points.filter(in_domain), "n_lon", "n_lat", max(HIST_HI, res or 0))
    if res is None:
        res = _probe_res(grid, k, max_ring)
    n = 1 << res
    cw, ch = 360.0 / n, 180.0 / n

    # each cell's radius window as a lon/lat rectangle, for the cells that
    # have a radius within max_ring (a broadcast table of <= 4^res rows)
    ring = _ring_radius(rollup(grid, res), k + 1, max_ring)
    ix, iy = np.nonzero(ring >= 0)
    r = ring[ix, iy]
    windows = queries.sparkSession.createDataFrame(
        pd.DataFrame({
            "_cell": ix * n + iy,
            "_x0": np.maximum(ix - r, 0) * cw - 180.0,
            "_x1": (np.minimum(ix + r, n - 1) + 1) * cw - 180.0,
            "_y0": np.maximum(iy - r, 0) * ch - 90.0,
            "_y1": (np.minimum(iy + r, n - 1) + 1) * ch - 90.0,
        }),
        "_cell long, _x0 double, _x1 double, _y0 double, _y1 double",
    )
    q = queries.join(
        F.broadcast(windows),
        geo.cell_ix("q_lon", res) * n + geo.cell_iy("q_lat", res) == F.col("_cell"),
        "left",
    )
    # D: the distance to the window's farthest corner, padded. No window
    # within max_ring, or a null/NaN/infinite D: the query's box is the
    # whole grid, unfiltered — the brute-force scan, in the same join.
    dx = F.greatest(F.col("q_lon") - F.col("_x0"), F.col("_x1") - F.col("q_lon"))
    dy = F.greatest(F.col("q_lat") - F.col("_y0"), F.col("_y1") - F.col("q_lat"))
    d_expr = F.sqrt(dx * dx + dy * dy) * (1 + _EPS)
    q = q.select(
        "query_id", "q_lon", "q_lat", d_expr.alias("_d"),
        (F.col("_cell").isNull() | ~F.coalesce(d_expr < F.lit(float("inf")), F.lit(False))).alias("_all"),
    )
    d, full = F.col("_d"), F.col("_all")

    def span(cell, c):
        """Cell range of [c - D, c + D]; the whole axis for a full box."""
        return F.sequence(
            F.when(full, F.lit(0)).otherwise(cell(F.col(c) - d, res)),
            F.when(full, F.lit(n - 1)).otherwise(cell(F.col(c) + d, res)),
        )

    boxes = (
        q.withColumn("_ix", F.explode(span(geo.cell_ix, "q_lon")))
        .withColumn("_iy", F.explode(span(geo.cell_iy, "q_lat")))
        .select("query_id", "q_lon", "q_lat", d, full, (F.col("_ix") * n + F.col("_iy")).alias("_cell"))
    )
    p = points.select(
        "neighbor_id", "n_lon", "n_lat",
        (geo.cell_ix("n_lon", res) * n + geo.cell_iy("n_lat", res)).alias("_cell"),
    )
    cand = (
        boxes.join(p, "_cell")
        .withColumn("dist2", _dist2())
        .filter((F.col("query_id") != F.col("neighbor_id")) & (full | (F.col("dist2") <= d * d)))
    )
    return _topk(cand, k).select("query_id", "rank", "neighbor_id", "dist2")
