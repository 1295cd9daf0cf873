"""Dataset statistics + validation-cell selection.

Spark side: distributions and running stats are plain hash aggregates
(partial+final, map-side combined). Driver side: the greedy validation-cell
selector — a faithful reimplementation of the reference's algorithm
(reference val.py:103-297) over an aggregate that is at most
grid_size^2 <= 256 rows per image, i.e. driver-small by construction.

Semantics replicated exactly (these are the determinism hazards SURVEY §7
calls out):
- iteration order grid_x outer / grid_y inner; ties broken by first-seen
  (strict < comparison) — reference val.py:170-171 + dict insertion order;
- class presence threshold 0.01 (val.py:192-193);
- phase-1 score = -10*|new_classes| + cbw*L1 + sw*spatial (val.py:222-228);
- first-pick spatial penalty uses the cell's own max(gx, gy) as "max_coord"
  (a reference quirk, val.py:106-116) — replicated verbatim;
- patches_per_cell = total_patches / grid_size^2 (val.py:200);
- target_val_size = max(5, int(total_patches * val_ratio)) (val.py:161);
- random strategy: numpy default_rng(seed).choice without replacement
  (val.py:132-152).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def class_distribution(points: DataFrame, class_col: str = "lang") -> DataFrame:
    """A1: per-image class distribution (exact fractions)."""
    per = points.groupBy("image_id", class_col).agg(F.count(F.lit(1)).alias("cnt"))
    tot = points.groupBy("image_id").agg(F.count(F.lit(1)).alias("tot"))
    return per.join(tot, "image_id").select(
        "image_id",
        F.col(class_col).alias("class"),
        "cnt",
        (F.col("cnt").cast("double") / F.col("tot")).alias("frac"),
    )


def target_distribution(dist: DataFrame) -> dict[str, float]:
    """A5: global target distribution = mean of per-image fractions
    (reference tiler.py:246-248). Driver-small (one row per class).

    Neither keys nor values follow the shuffle layout: the greedy selector
    sums and breaks ties in key order, so keys are sorted (a null class
    first); a double sum depends on the order partial sums merge in, so the
    mean is taken over fractions rounded to decimal(38,18), whose sum is
    exact."""
    frac = F.col("frac").cast("decimal(38,18)")
    rows = dist.groupBy("class").agg(F.avg(frac).cast("double").alias("frac")).collect()
    rows.sort(key=lambda r: (r["class"] is not None, r["class"] or ""))
    return {r["class"]: r["frac"] for r in rows}


def target_distribution_exact(rows) -> dict[str, float]:
    """A5 computed with exact rational arithmetic.

    `rows`: iterable of (class, cnt, tot) — one entry per (image, class),
    where cnt/tot is that image's class fraction. The mean of per-image
    fractions is accumulated as `Fraction`s and converted to float ONCE at
    the end, so Spark and DuckDB callers produce bit-identical doubles
    regardless of each engine's summation order (which is what makes the
    q28 greedy-selection oracle reproducible). Keys are sorted so the
    downstream greedy's float accumulation visits classes in the same
    order on both sides.
    """
    from fractions import Fraction

    sums: dict[str, Fraction] = {}
    counts: dict[str, int] = {}
    for cls, cnt, tot in rows:
        sums[cls] = sums.get(cls, Fraction(0)) + Fraction(int(cnt), int(tot))
        counts[cls] = counts.get(cls, 0) + 1
    return {cls: float(sums[cls] / counts[cls]) for cls in sorted(sums)}


def target_distribution_exact_from_points(
    points: DataFrame, class_col: str = "lang"
) -> dict[str, float]:
    """Collect per-(image, class) integer counts and feed the exact helper.

    CONTRACT-ONLY, driver O(images x classes) — NOT the
    O(classes)-per-row bound of `target_distribution` (which collects the
    per-class aggregate): this collects one row per (image, class), so at
    10^12 docs / res-6 images that is ~1e7-1e8 driver rows. It exists to
    feed the q28 bit-parity oracle at contract scale; the tiling pipeline
    uses `target_distribution`. Fraction arithmetic is exact, so neither
    the collect order nor the shuffle layout can change the result."""
    per = points.groupBy("image_id", class_col).agg(F.count(F.lit(1)).alias("cnt"))
    tot = points.groupBy("image_id").agg(F.count(F.lit(1)).alias("tot"))
    rows = per.join(tot, "image_id").select(class_col, "cnt", "tot").collect()
    return target_distribution_exact((r[0], r[1], r[2]) for r in rows)


def running_band_stats(tiles: DataFrame, value_cols: list[str]) -> DataFrame:
    """A4: sum / sum-of-squares / count partial aggregation, finalized to
    mean and std (variance clamped >= 0) in float64 — reference
    tiling_manifest.py:443-533."""
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in value_cols:
        aggs += [
            F.sum(F.col(c).cast("double")).alias(f"s1_{c}"),
            F.sum(F.col(c).cast("double") * F.col(c).cast("double")).alias(f"s2_{c}"),
        ]
    agg = tiles.groupBy("image_id").agg(*aggs)
    out_cols = [F.col("image_id"), F.col("n")]
    for c in value_cols:
        mean = F.col(f"s1_{c}") / F.col("n")
        var = F.greatest(F.col(f"s2_{c}") / F.col("n") - mean * mean, F.lit(0.0))
        out_cols += [
            F.round(mean, 6).alias(f"mean_{c}"),
            F.round(F.sqrt(var), 6).alias(f"std_{c}"),
        ]
    return agg.select(*out_cols)


def grid_cell_distributions(
    points: DataFrame, params, class_col: str = "lang"
) -> DataFrame:
    """A2: per-(image, grid-cell) class fractions over label pixels."""
    cw = params.width / params.grid_size
    ch = params.height / params.grid_size
    g1 = params.grid_size - 1
    cells = points.withColumn(
        "grid_x", F.least(F.floor(F.col("px") / F.lit(cw)).cast("bigint"), F.lit(g1))
    ).withColumn(
        "grid_y", F.least(F.floor(F.col("py") / F.lit(ch)).cast("bigint"), F.lit(g1))
    )
    per = cells.groupBy("image_id", "grid_x", "grid_y", class_col).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    tot = cells.groupBy("image_id", "grid_x", "grid_y").agg(
        F.count(F.lit(1)).alias("tot")
    )
    return per.join(tot, ["image_id", "grid_x", "grid_y"]).select(
        "image_id",
        "grid_x",
        "grid_y",
        F.col(class_col).alias("class"),
        "cnt",
        (F.col("cnt").cast("double") / F.col("tot")).alias("frac"),
    )


# ---------------------------------------------------------------------------
# Greedy validation-cell selection (driver-side, reference-parity)
# ---------------------------------------------------------------------------


def _spatial_penalty(gx: int, gy: int, selected: set[str]) -> float:
    """reference val.py:103-130 verbatim (including the max_coord quirk)."""
    if not selected:
        max_coord = max(gx, gy)
        if max_coord == 0:
            return 0
        return -(abs(gx - max_coord / 2) + abs(gy - max_coord / 2))
    best = float("inf")
    for cid in selected:
        sx, sy = map(int, cid.split("_"))
        best = min(best, abs(gx - sx) + abs(gy - sy))
    return -best


def select_validation_cells(
    cell_dists: dict[str, dict[str, float]],
    grid_size: int,
    total_patches: int,
    target_distribution: dict[str, float],
    val_ratio: float,
    class_balance_weight: float = 1.0,
    spatial_weight: float = 1.0,
) -> set[str]:
    """Greedy two-phase selection — reference val.py:155-297 re-expressed.

    cell_dists: {"gx_gy": {class: frac}} for non-empty cells only (the
    reference skips cells missing from the grid dict, val.py:175-177).
    """
    target_val_size = max(5, int(total_patches * val_ratio))
    valid_cells: dict[str, dict] = {}
    for gx in range(grid_size):
        for gy in range(grid_size):
            cid = f"{gx}_{gy}"
            info = cell_dists.get(cid)
            if not info:
                continue
            class_score = sum(
                abs(info.get(cls, 0) - target_distribution[cls])
                for cls in target_distribution
            )
            valid_cells[cid] = {
                "gx": gx,
                "gy": gy,
                "class_score": class_score,
                "dist": info,
            }

    selected: set[str] = set()
    ordered: list[str] = []  # insertion order for deterministic iteration
    patches_per_cell = total_patches / (grid_size * grid_size)
    est = 0.0

    required = set(target_distribution.keys())
    covered: set[str] = set()

    # Phase 1: class coverage
    while covered != required and est < target_val_size:
        missing = required - covered
        best_cell, best_score = None, float("inf")
        for cid, cd in valid_cells.items():
            if cid in selected:
                continue
            cell_classes = {c for c, v in cd["dist"].items() if v > 0.01}
            new = cell_classes & missing
            if not new:
                continue
            score = (
                -len(new) * 10
                + class_balance_weight * cd["class_score"]
                + spatial_weight * _spatial_penalty(cd["gx"], cd["gy"], selected)
            )
            if score < best_score:
                best_score, best_cell = score, cid
        if best_cell is None:
            break
        selected.add(best_cell)
        ordered.append(best_cell)
        est += patches_per_cell
        covered |= {c for c, v in valid_cells[best_cell]["dist"].items() if v > 0.01}

    # Phase 2: fill to target with balance + diversity
    while est < target_val_size and len(selected) < len(valid_cells):
        best_cell, best_score = None, float("inf")
        for cid, cd in valid_cells.items():
            if cid in selected:
                continue
            score = class_balance_weight * cd["class_score"] + spatial_weight * _spatial_penalty(
                cd["gx"], cd["gy"], selected
            )
            if score < best_score:
                best_score, best_cell = score, cid
        if best_cell is None:
            break
        selected.add(best_cell)
        ordered.append(best_cell)
        est += patches_per_cell

    return selected


def select_validation_cells_random(
    cell_ids: list[str], val_ratio: float, seed: int | None = None
) -> set[str]:
    """W7: seeded numpy sample without replacement (reference val.py:132-152)."""
    rng = np.random.default_rng(seed)
    n = max(1, round(len(cell_ids) * val_ratio))
    chosen = rng.choice(cell_ids, size=min(n, len(cell_ids)), replace=False)
    return set(chosen)


def select_validation_cells_for_images(
    grid_dists: DataFrame,
    params,
    target_dist: dict[str, float],
    val_ratio: float,
    strategy: str = "spatial",
    seed: int | None = None,
    class_balance_weight: float = 1.0,
    spatial_weight: float = 1.0,
) -> dict[int, set[str]]:
    """Run the selector per image over the collected A2 aggregate.

    The aggregate is <= images * grid^2 * classes rows, all collected to
    the driver. This is the selector `plans.pipeline.create_tiles` uses:
    at the pipeline's image counts the collect is small and the loop runs
    no Python worker. Past what a driver holds, use
    `select_validation_cells_distributed`, bit-identical by test.
    """
    rows = grid_dists.collect()
    per_img: dict[int, dict[str, dict[str, float]]] = {}
    for r in rows:
        cid = f"{r.grid_x}_{r.grid_y}"
        per_img.setdefault(r.image_id, {}).setdefault(cid, {})[r["class"]] = r.frac
    out: dict[int, set[str]] = {}
    for img, cells in per_img.items():
        if strategy == "random":
            out[img] = select_validation_cells_random(
                sorted(cells.keys()), val_ratio, seed
            )
        else:
            out[img] = select_validation_cells(
                cells,
                params.grid_size,
                params.tiles_per_image,
                target_dist,
                val_ratio,
                class_balance_weight,
                spatial_weight,
            )
    return out


def incremental_distribution_merge(
    old: dict[str, float], cur: dict[str, float], k: int
) -> dict[str, float]:
    """A6: running mean over updates — new = old*k/(k+1) + cur/(k+1)
    (reference tiling_manifest.py:422-441)."""
    keys = set(old) | set(cur)
    return {
        c: old.get(c, 0.0) * k / (k + 1) + cur.get(c, 0.0) / (k + 1) for c in keys
    }


def select_validation_cells_distributed(
    grid_dists: DataFrame,
    params,
    target_dist: dict[str, float],
    val_ratio: float,
    strategy: str = "spatial",
    seed: int | None = None,
    class_balance_weight: float = 1.0,
    spatial_weight: float = 1.0,
) -> DataFrame:
    """Scale path for W5/W7: the SAME greedy/random selector, run per image
    inside applyInPandas (each group is one image's <= grid_size^2 cell
    rows — trivially task-sized), emitting (image_id, cell_key) rows.

    `select_validation_cells_for_images` collects every image's cells to
    the driver — fine at thousands of images, impossible at billions. This
    variant is the scale path (each group pays the Python worker and
    pandas per-group cost instead); `create_tiles` uses the driver one,
    and bit-parity between the two is asserted in tests/test_stats.py.
    """
    import pandas as pd

    grid_size = params.grid_size
    total_patches = params.tiles_per_image

    def _sel(pdf: pd.DataFrame) -> pd.DataFrame:
        img = int(pdf["image_id"].iloc[0])
        cells: dict[str, dict[str, float]] = {}
        for _, r in pdf.iterrows():
            cells.setdefault(f"{int(r.grid_x)}_{int(r.grid_y)}", {})[r["class"]] = float(
                r["frac"]
            )
        if strategy == "random":
            chosen = select_validation_cells_random(sorted(cells.keys()), val_ratio, seed)
        else:
            chosen = select_validation_cells(
                cells,
                grid_size,
                total_patches,
                target_dist,
                val_ratio,
                class_balance_weight,
                spatial_weight,
            )
        return pd.DataFrame(
            [(img, ck) for ck in sorted(chosen)], columns=["image_id", "cell_key"]
        )

    return grid_dists.groupBy("image_id").applyInPandas(
        _sel, "image_id long, cell_key string"
    )
