"""The flagship pipeline: pages -> tiles -> splits -> committed output.

Spark lifecycle of the reference's `Tiler.create_tiles()` (reference
tiler.py:182-386, mapped in SURVEY §3.1):

  PHASE 1 (analysis): geocode + cell/pixel encode (narrow, codegen) ->
    per-image class distribution (A1) and per-grid-cell distributions (A2)
    -> global target distribution (A5, driver-small).
  PHASE 2 (selection): greedy validation-cell selection per image (W5/W6,
    driver-side over the <= grid^2-row aggregate, reference-parity scoring).
  PHASE 3 (tiling): stride-grid explode (W1) -> per-tile label stats ->
    patch filter (F1) -> split assignment (J9 with the selected cells).
  RESUME (F7): the work tiles are flagged done/pending against the
    manifest's committed patches and materialized ONCE, as an eager local
    checkpoint of six scalar columns per kept tile; the total and skipped
    counts are observed during that same evaluation. A `limit_tiles` run
    checkpoints its ordered, limited pending set once more (small).
  WRITE: partitioned tile write (K1/K2 analog), then the patches, images
    and shards commits (R1-R3), all reading the checkpoint rather than
    re-running phases 1-3; the image count is observed during the images
    commit and the shard delta is evaluated once, by its append.

Each run() is idempotent: completed (image, tile) pairs are skipped via
the manifest flag, and quarantined ids already failed in the manifest are
not committed again, so a killed job resumes without recomputation and a
no-op re-run commits nothing — the kill/resume test in
tests/test_pipeline.py asserts zero duplicates and identical final state.
Every checkpoint is released before create_tiles returns.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from geotiff_tiler_spark.operators import stats, tiling
from geotiff_tiler_spark.operators.tiling import TilingParams
from geotiff_tiler_spark.plans.manifest import Manifest


@dataclass
class TilingRun:
    kept: int
    skipped_resume: int
    images: int
    commit_id: str | None


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
    N pending tiles (deterministic order) are processed and committed.
    validate=True runs the S7 validation stage first and quarantines
    invalid rows into the manifest (as data, not exceptions).
    max_records_per_file bounds output shard size (K2 rotation analog).
    """
    manifest = Manifest(spark, manifest_dir)
    held: list[DataFrame] = []  # eager local checkpoints, released on return

    def materialize(df: DataFrame, **metrics: Column) -> tuple[DataFrame, dict]:
        """One evaluation of `df`: an eager local checkpoint, plus the named
        aggregate `metrics` observed during that same pass (no extra job)."""
        obs = Observation()
        if metrics:
            df = df.observe(obs, *(m.alias(k) for k, m in metrics.items()))
        cp = df.localCheckpoint(eager=True)
        held.append(cp)
        return cp, (obs.get if metrics else {})

    try:
        # PHASE 0: validation -> quarantine (reference process_single_pair's
        # validate_* stages, io.py:177-235; failures land in the manifest the
        # way failed_images does, tiler.py:427-439). Only ids the manifest
        # does not already list as failed are committed, so a re-run adds
        # no commit.
        if validate:
            from geotiff_tiler_spark.sources import checks

            validated = checks.validate_pages(docs)
            docs, quarantine = checks.split_quarantine(validated)
            new_failed, q = materialize(
                quarantine.select(F.col("doc_id").alias("image_id")).join(
                    manifest.failed_images(), "image_id", "left_anti"
                ),
                n=F.count(F.lit(1)),
            )
            if q["n"]:
                qrows = new_failed.select(
                    "image_id",
                    F.lit("failed").alias("status"),
                    F.lit(0).cast("bigint").alias("kept"),
                    F.lit(0).cast("bigint").alias("discarded"),
                )
                manifest.append("images", qrows)

        # PHASE 1: analysis aggregates
        pts = tiling.doc_points(docs, params)
        grid_dists = stats.grid_cell_distributions(pts, params)
        target = stats.target_distribution(stats.class_distribution(pts))

        # PHASE 2: validation cells — the DISTRIBUTED selector (per-image
        # greedy inside applyInPandas; each group <= grid^2 rows). The target
        # distribution is the only collect, and it's one row per class.
        val_cells = stats.select_validation_cells_distributed(
            grid_dists, params, target, params.val_ratio, strategy=val_strategy, seed=val_seed
        )

        # PHASE 3: tiling; split assignment joins against the selected-cell
        # table (no driver-side literals — works at billions of images)
        tiles = tiling.kept_tiles(pts, params)
        split = tiling.assign_split_by_cells(tiles, params, val_cells)
        work = split.select(
            "image_id", "tile_x", "tile_y", "split", "point_cnt", "nonzero_px"
        )

        # RESUME (F7): the work set is evaluated ONCE — geocode, grid stats,
        # selector, split join and the manifest flag run in one eager local
        # checkpoint (six scalar columns per kept tile) that also observes
        # the counts; every commit below reads that checkpoint instead of
        # re-running the plan.
        flagged, c = materialize(
            manifest.flag_completed(work),
            total=F.count(F.lit(1)),
            skipped=F.count(F.when(F.col("done"), 1)),
        )
        skipped = c["skipped"]
        n_pending = c["total"] - skipped
        pending = flagged.filter(~F.col("done")).drop("done")
        if limit_tiles is not None:
            n_pending = min(n_pending, limit_tiles)
            pending, _ = materialize(
                pending.orderBy("image_id", "tile_x", "tile_y").limit(limit_tiles)
            )
        if n_pending == 0:
            return TilingRun(kept=0, skipped_resume=skipped, images=0, commit_id=None)

        # WRITE: partitioned by split (K1); shard rotation via
        # maxRecordsPerFile (K2 - the reference's 2 GiB cap expressed as the
        # engine-level file-size bound); registry derived from committed
        # files. Every write reads the checkpoint above.
        writer = pending.write.mode("append").partitionBy("split")
        if max_records_per_file:
            writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
        writer.parquet(os.path.join(out_dir, "tiles"))
        commit_id = manifest.append("patches", pending)

        # per-image status rows: `kept` is THIS COMMIT's increment for the
        # image (a resumed image gets one row per contributing run; A9 sums
        # completed increments, the resume flag guarantees no tile is
        # counted twice). A distributed aggregate, so the commit's file
        # count follows the data, not defaultParallelism; the commit itself
        # counts its rows, the run's image count.
        per_img = pending.groupBy("image_id").agg(F.count(F.lit(1)).alias("kept"))
        images = Observation()
        status = per_img.select(
            "image_id",
            F.lit("completed").alias("status"),
            F.col("kept"),
            F.lit(0).cast("bigint").alias("discarded"),
        ).observe(images, F.count(F.lit(1)).alias("n"))
        manifest.append("images", status)

        # shard registry from Spark's own committed-file metadata: the hidden
        # `_metadata` column of the parquet scan exposes file name/size, and
        # a per-file count gives real n_records — no filesystem walk, so this
        # works identically on local disk, HDFS, and object stores. Only
        # files not yet registered are appended (append-mode writes add new
        # files; prior commits' shards are already in the manifest). The
        # write above added at least one file, so the delta is never empty
        # and is evaluated once, by the append. Only the partition column is
        # read, so the scan needs no schema-inference job.
        read_back = spark.read.schema("split string").parquet(
            os.path.join(out_dir, "tiles")
        )
        registry = (
            read_back.groupBy(
                F.col("_metadata.file_name").alias("shard_id"), F.col("split")
            )
            .agg(
                F.count(F.lit(1)).alias("n_records"),
                F.max(F.col("_metadata.file_size")).alias("size_bytes"),
            )
            .withColumn("status", F.lit("CLOSED"))
            .select("shard_id", "split", "n_records", "size_bytes", "status")
        )
        existing = manifest.read("shards").select("shard_id").distinct()
        manifest.append("shards", registry.join(existing, "shard_id", "left_anti"))

        return TilingRun(
            kept=n_pending,
            skipped_resume=skipped,
            images=images.get["n"],
            commit_id=commit_id,
        )
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
    from geotiff_tiler_spark.operators import tiling as _tiling

    runs: list[TilingRun] = []
    manifest = Manifest(spark, manifest_dir)
    for _attempt in range(max_retries):
        failed = manifest.failed_images()
        if failed.isEmpty():
            break
        pts = _tiling.doc_points(docs, params)
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
    import json

    rows = [r.asDict() for r in stats_df.collect()]
    payload = {"normalization_stats": rows, "n_rows": len(rows)}
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(payload, fh, sort_keys=True)
    os.replace(tmp, path)  # atomic rename, reference tiling_manifest.py:611-617
    return payload
