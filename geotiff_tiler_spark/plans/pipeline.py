"""The flagship pipeline: pages -> tiles -> splits -> committed output.

Spark lifecycle of the reference's `Tiler.create_tiles()` (reference
tiler.py:182-386, mapped in SURVEY §3.1):

  PHASE 1 (analysis): ONE scan of the docs evaluates validation (when
    asked) and geocode + cell/pixel encode (narrow, codegen) into an eager
    local checkpoint of (doc_id, lang, image_id, px, py[, status]). The
    quarantine, the per-image class distribution (A1), the per-grid-cell
    distributions (A2) and the kept tiles all read that checkpoint; the
    global target distribution (A5) is a driver collect of one row per
    class.
  PHASE 2 (selection): greedy validation-cell selection per image (W5/W6,
    reference-parity scoring) on the driver, over the collected A2
    aggregate: at most images x grid^2 x classes rows (16 images x 16
    cells x 5 classes at most on the benchmark's tile_resume). The chosen
    (image_id, cell_key) rows re-enter the plan as an Arrow-encoded pandas
    frame that the JVM decodes, so a first call starts no Python worker;
    on a fresh manifest the empty manifest tables fold away as well.
  PHASE 3 (tiling): stride-grid explode (W1) -> per-tile label stats ->
    patch filter (F1) -> split assignment (J9 with the selected cells).
  RESUME (F7): the work set (every kept tile with its split, point_cnt
    and nonzero_px) is computed once per input and committed with the run
    that computed it, under a key its marker records. The key is a sha1 over
    a format version, a fingerprint of the docs (one aggregate job: the row
    count plus two order-independent sums of differently salted xxhash64
    row hashes over the columns read here, each hashed with its null flag),
    the TilingParams, val_strategy, val_seed and validate. A call whose key
    is committed (a resume or a no-op re-run on the same inputs) reads the
    work set back and skips validation and phases 1-3; any other call runs
    them. Either way the work tiles are then flagged done/pending against
    the manifest's committed patches and materialized ONCE, as an eager
    local checkpoint that also observes the total and skipped counts. A
    `limit_tiles` run checkpoints its ordered, limited pending set once
    more (small).
  WRITE: ONE commit per writing call (`Manifest.commit_run`, R1-R3) reads
    the checkpoints rather than re-running phases 1-3: each pending tile
    once, to `out/tiles/commit_id=<id>/split=<s>/` (K1/K2), the status rows
    with the new quarantine rows, the shard rows of its own files and a
    computed work set, then ONE marker. First it deletes whatever a killed
    call wrote without a marker.

A call that finds its work set therefore finds its quarantine too, and a
resume never picks validation cells other than those of the run it resumes.
Each run() is idempotent: completed (image, tile) pairs are skipped via the
manifest flag, so a killed job resumes without recomputation and a no-op
re-run commits nothing — tests/test_crash_consistency.py kills calls at
every commit boundary and by SIGKILL and asserts zero duplicates and the
uninterrupted run's final state.
Every checkpoint is released before create_tiles returns.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from geotiff_tiler_spark.operators import stats, tiling
from geotiff_tiler_spark.operators.tiling import TilingParams
from geotiff_tiler_spark.plans.manifest import Manifest
from geotiff_tiler_spark.sources import checks


@dataclass
class TilingRun:
    kept: int
    skipped_resume: int
    images: int
    commit_id: str | None
    work_reused: bool = False  # the work set was read from the manifest


# Bump when the work set's derivation changes, so committed sets of the
# old derivation are no longer read back.
WORK_FORMAT = "work-v1"
# The docs columns create_tiles reads (validation, geocoding, class).
_FINGERPRINT_COLS = ("doc_id", "text", "lang", "warc_ts")


def work_key(
    docs: DataFrame,
    params: TilingParams,
    val_strategy: str,
    val_seed: int | None,
    validate: bool,
) -> str:
    """Key of the work set `create_tiles` derives from these inputs.

    One aggregate job fingerprints the docs: the row count plus two sums of
    differently salted xxhash64 row hashes, so row order and partitioning do
    not matter. Each column is hashed with its null flag (the hash skips
    nulls, which would make (NULL, 'en') and ('en', NULL) equal), and the
    sums are decimal because a long sum overflows under ANSI mode."""
    cols = [c for c in _FINGERPRINT_COLS if c in docs.columns]
    fields = [x for c in cols for x in (F.col(c).isNull(), F.col(c))]
    n, s1, s2 = docs.agg(
        F.count(F.lit(1)),
        *(
            F.sum(F.xxhash64(F.lit(salt), *fields).cast("decimal(38,0)"))
            for salt in ("fp-a", "fp-b")
        ),
    ).first()
    types = ",".join(f"{f.name}:{f.dataType.simpleString()}" for f in docs.schema if f.name in cols)
    parts = (WORK_FORMAT, types, n, s1, s2, repr(params), val_strategy, val_seed, validate)
    return hashlib.sha1("|".join(map(str, parts)).encode("utf-8")).hexdigest()


def _materialize(held: list[DataFrame], df: DataFrame, **metrics: Column) -> tuple[DataFrame, dict]:
    """One evaluation of `df`: an eager local checkpoint (appended to
    `held` for release), plus the named aggregate `metrics` observed during
    that same pass (no extra job)."""
    obs = Observation()
    if metrics:
        df = df.observe(obs, *(m.alias(k) for k, m in metrics.items()))
    cp = df.localCheckpoint(eager=True)
    held.append(cp)
    return cp, (obs.get if metrics else {})


def _analyse(
    docs: DataFrame,
    params: TilingParams,
    manifest: Manifest,
    held: list[DataFrame],
    val_strategy: str,
    val_seed: int | None,
    validate: bool,
) -> tuple[DataFrame, DataFrame | None]:
    """Validation and phases 1-3, lazy: the work set (image_id, tile_x,
    tile_y, split, point_cnt, nonzero_px) and the quarantine's new failed
    status rows (None without validation).

    The docs are scanned once: validation and geocoding are evaluated into
    one narrow checkpoint that the quarantine, the analysis aggregates and
    the kept tiles all read."""
    # PHASE 0: validation -> quarantine (reference process_single_pair's
    # validate_* stages, io.py:177-235; failures land in the manifest the
    # way failed_images does, tiler.py:427-439).
    cols = ["doc_id", "lang", "image_id", "px", "py"]
    if validate:
        docs = checks.validate_pages(docs)
        cols.append("status")
    pts, _ = _materialize(held, tiling.doc_points(docs, params).select(*cols))
    failed = None
    if validate:
        pts, quarantine = checks.split_quarantine(pts)
        # ids the manifest already lists as failed are not written again
        failed = quarantine.select(F.col("doc_id").alias("image_id")).join(
            manifest.failed_images(), "image_id", "left_anti"
        ).select(
            "image_id",
            F.lit("failed").alias("status"),
            F.lit(0).cast("bigint").alias("kept"),
            F.lit(0).cast("bigint").alias("discarded"),
        )

    # PHASE 1: analysis aggregates
    grid_dists = stats.grid_cell_distributions(pts, params)
    target = stats.target_distribution(stats.class_distribution(pts))

    # PHASE 2: validation cells, picked on the driver from the A2 aggregate
    # (at most images x grid^2 x classes rows). The chosen cells return as
    # an Arrow-encoded pandas frame (get_spark turns Arrow on), which the
    # JVM decodes: no Python worker runs anywhere in the work set's plan.
    chosen = stats.select_validation_cells_for_images(
        grid_dists, params, target, params.val_ratio, strategy=val_strategy, seed=val_seed
    )
    val_cells = docs.sparkSession.createDataFrame(
        pd.DataFrame(
            [(img, ck) for img, cells in chosen.items() for ck in cells],
            columns=["image_id", "cell_key"],
        ),
        "image_id long, cell_key string",
    )

    # PHASE 3: tiling; split assignment joins against the selected-cell
    # table
    tiles = tiling.kept_tiles(pts, params)
    split = tiling.assign_split_by_cells(tiles, params, val_cells)
    return split.select("image_id", "tile_x", "tile_y", "split", "point_cnt", "nonzero_px"), failed


def create_tiles(
    spark: SparkSession,
    docs: DataFrame,
    params: TilingParams,
    out_dir: str,
    manifest_dir: str,
    val_strategy: str = "spatial",
    val_seed: int | None = 42,
    limit_tiles: int | None = None,
    validate: bool = False,
    max_records_per_file: int | None = None,
) -> TilingRun:
    """Run the full pipeline; returns commit summary.

    limit_tiles simulates a mid-job kill for resume tests: only the first
    N pending tiles (deterministic order) are processed and committed;
    limit_tiles=0 on a first call commits only its work set and quarantine.
    validate=True runs the S7 validation stage first and quarantines
    invalid rows into the manifest (as data, not exceptions).
    max_records_per_file bounds output shard size (K2 rotation analog).
    """
    manifest = Manifest(spark, manifest_dir)
    key = work_key(docs, params, val_strategy, val_seed, validate)
    held: list[DataFrame] = []  # eager local checkpoints, released on return

    try:
        work, failed = manifest.work_set(key), None
        reused = work is not None
        if not reused:
            work, failed = _analyse(docs, params, manifest, held, val_strategy, val_seed, validate)

        # RESUME (F7): the work set and its manifest flag are evaluated ONCE,
        # into one eager local checkpoint that also observes the counts; the
        # run commit reads it instead of re-running.
        flagged, c = _materialize(
            held,
            manifest.flag_completed(work),
            total=F.count(F.lit(1)),
            skipped=F.count(F.when(F.col("done"), 1)),
        )
        skipped = c["skipped"]
        n_pending = c["total"] - skipped
        pending = flagged.filter(~F.col("done")).drop("done")
        if limit_tiles is not None:
            n_pending = min(n_pending, limit_tiles)
            pending, _ = _materialize(
                held, pending.orderBy("image_id", "tile_x", "tile_y").limit(limit_tiles)
            )
        if reused and n_pending == 0:
            return TilingRun(0, skipped, 0, None, work_reused=True)

        cid, images = manifest.commit_run(
            out_dir,
            pending if n_pending else None,
            None if reused else flagged,
            failed,
            max_records_per_file,
            key,
        )
        return TilingRun(n_pending, skipped, images, cid, work_reused=reused)
    finally:
        # local checkpointing truncates lineage, so release only once nothing
        # reads the checkpoints any more; DataFrame.unpersist does not reach
        # the RDD behind a checkpoint's LogicalRDD, so unpersist that RDD
        for cp in held:
            cp._jdf.queryExecution().logical().rdd().unpersist(False)


def retry_failed_images(
    spark: SparkSession,
    docs: DataFrame,
    params: TilingParams,
    out_dir: str,
    manifest_dir: str,
    max_retries: int = 3,
) -> list[TilingRun]:
    """R5 (reference tiler.py:422-515): semi-join the work table against the
    manifest's failed set (J10), re-run the pipeline on just those rows per
    attempt, stop early when nothing is failed. Task-level transient errors
    are already retried by Spark (spark.task.maxFailures); this covers
    app-level failures recorded in the manifest."""
    runs: list[TilingRun] = []
    manifest = Manifest(spark, manifest_dir)
    for _attempt in range(max_retries):
        failed = manifest.failed_images()
        if failed.isEmpty():
            break
        pts = tiling.doc_points(docs, params)
        retry_docs = docs.join(
            pts.select("doc_id", "image_id").join(failed, "image_id", "left_semi").select("doc_id"),
            "doc_id",
            "left_semi",
        )
        runs.append(
            create_tiles(spark, retry_docs, params, out_dir, manifest_dir)
        )
    return runs


def write_csv_index(tiles: DataFrame, out_dir: str) -> None:
    """K4: one CSV per split, ';'-separated (reference tiler.py:989-998).

    Columns mirror the reference's relative-path triplet; here the payload
    addresses are the tile identity keys."""
    keyed = tiles.withColumn(
        "image_key",
        F.concat_ws("/", F.lit("images"), F.col("image_id"), F.col("tile_x"), F.col("tile_y")),
    ).withColumn(
        "label_key",
        F.concat_ws("/", F.lit("labels"), F.col("image_id"), F.col("tile_x"), F.col("tile_y")),
    )
    keyed.select("split", "image_key", "label_key").write.mode("overwrite").partitionBy(
        "split"
    ).option("sep", ";").csv(os.path.join(out_dir, "csv_index"))


def export_normalization_stats(stats_df: DataFrame, path: str) -> dict:
    """K7 (reference tiler.py:388-420): final stats aggregate -> one JSON
    on the driver. The aggregate is tiny (rows = images x bands)."""
    rows = [r.asDict() for r in stats_df.collect()]
    payload = {"normalization_stats": rows, "n_rows": len(rows)}
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(payload, fh, sort_keys=True)
    os.replace(tmp, path)  # atomic rename, reference tiling_manifest.py:611-617
    return payload
