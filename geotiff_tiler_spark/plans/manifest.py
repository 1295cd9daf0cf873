"""Manifest / checkpoint tables — the reference's TilingManifest re-expressed
as committed columnar state (reference tiling_manifest.py:62-208, 583-617).

The reference keeps a single JSON file with atomic tmp+rename writes and
in-memory counters saved every N patches. The Spark-native equivalent is a
set of append-only parquet *commit directories* with an explicit commit
marker — the same atomicity contract as the reference's rename (a commit is
visible only after its marker lands), but per-partition lineage rides along:
every committed row carries its (image_id, commit_id), so a killed job
resumes by anti-joining work against committed state (reference
tiler.py:214-217, 781-784 -> F7).

On a real deployment these become Iceberg tables (snapshot commit ==
marker); the directory-marker protocol keeps the engine dependency-free
while preserving semantics. Readers ignore uncommitted directories, so a
kill mid-write never corrupts state (R3).

Tables:
  patches/ : (image_id, tile_x, tile_y, split, point_cnt, nonzero_px)
  images/  : (image_id, status, kept, discarded, commit_ts)
  shards/  : (shard_id, split, n_records, size_bytes, status)
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as sqltypes

PATCH_SCHEMA = sqltypes.StructType(
    [
        sqltypes.StructField("image_id", sqltypes.LongType()),
        sqltypes.StructField("tile_x", sqltypes.LongType()),
        sqltypes.StructField("tile_y", sqltypes.LongType()),
        sqltypes.StructField("split", sqltypes.StringType()),
        sqltypes.StructField("point_cnt", sqltypes.LongType()),
        sqltypes.StructField("nonzero_px", sqltypes.LongType()),
        sqltypes.StructField("commit_id", sqltypes.StringType()),
    ]
)

IMAGE_SCHEMA = sqltypes.StructType(
    [
        sqltypes.StructField("image_id", sqltypes.LongType()),
        sqltypes.StructField("status", sqltypes.StringType()),
        sqltypes.StructField("kept", sqltypes.LongType()),
        sqltypes.StructField("discarded", sqltypes.LongType()),
        sqltypes.StructField("commit_id", sqltypes.StringType()),
    ]
)

SHARD_SCHEMA = sqltypes.StructType(
    [
        sqltypes.StructField("shard_id", sqltypes.StringType()),
        sqltypes.StructField("split", sqltypes.StringType()),
        sqltypes.StructField("n_records", sqltypes.LongType()),
        sqltypes.StructField("size_bytes", sqltypes.LongType()),
        sqltypes.StructField("status", sqltypes.StringType()),
        sqltypes.StructField("commit_id", sqltypes.StringType()),
    ]
)

_SCHEMAS = {"patches": PATCH_SCHEMA, "images": IMAGE_SCHEMA, "shards": SHARD_SCHEMA}


class Manifest:
    """Commit-marker manifest over any Hadoop filesystem (local, HDFS,
    object stores) — all path operations go through the Hadoop FS API."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        for t in _SCHEMAS:
            fs, jpath, _ = self._fs(os.path.join(root, t))
            fs.mkdirs(jpath)  # no-op if it exists (Hadoop-FS mkdir -p)

    # --- commit protocol ---------------------------------------------------

    def _fs(self, path: str):
        """Hadoop FileSystem for `path` — the same abstraction Spark writes
        through, so the marker protocol works on local disk, HDFS, and
        object stores alike (no os.listdir / open() on the output root)."""
        jvm = self.spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        return jpath.getFileSystem(self.spark._jsc.hadoopConfiguration()), jpath, jvm

    def _commit_dirs(self, table: str) -> list[str]:
        fs, base, jvm = self._fs(os.path.join(self.root, table))
        if not fs.exists(base):
            return []
        out = []
        for st in fs.listStatus(base):
            if st.isDirectory():
                marker = jvm.org.apache.hadoop.fs.Path(st.getPath(), "_COMMITTED")
                if fs.exists(marker):
                    out.append(st.getPath().toString())
        return sorted(out)

    def append(self, table: str, df: DataFrame) -> str:
        """Write one commit: parquet dir + marker (atomic visibility, R3)."""
        commit_id = f"{int(time.time() * 1000):013d}-{uuid.uuid4().hex[:8]}"
        path = os.path.join(self.root, table, commit_id)
        df.withColumn("commit_id", F.lit(commit_id)).write.mode("error").parquet(path)
        # marker write is the commit point (readers ignore unmarked dirs);
        # created through the Hadoop FS so the protocol is storage-agnostic
        fs, _, jvm = self._fs(path)
        marker = jvm.org.apache.hadoop.fs.Path(path, "_COMMITTED")
        out = fs.create(marker, True)
        out.write(bytearray(commit_id.encode("utf-8")))
        out.close()
        return commit_id

    def read(self, table: str) -> DataFrame:
        dirs = self._commit_dirs(table)
        if not dirs:
            return self.spark.createDataFrame([], _SCHEMAS[table])
        return self.spark.read.schema(_SCHEMAS[table]).parquet(*dirs)

    # --- reference-parity views ---------------------------------------------

    def completed_patches(self) -> DataFrame:
        """Per-image completed patch set (reference tiling_manifest.py:148-152)."""
        return self.read("patches").select("image_id", "tile_x", "tile_y").distinct()

    def completed_images(self) -> DataFrame:
        """Images whose status is completed; an image marked in_progress by a
        dead run does NOT count (reference resets in-progress on load,
        tiling_manifest.py:658-659)."""
        img = self.read("images")
        last = img.groupBy("image_id").agg(F.max("commit_id").alias("commit_id"))
        latest = img.join(last, ["image_id", "commit_id"])
        return latest.filter(F.col("status") == "completed").select("image_id")

    def failed_images(self) -> DataFrame:
        img = self.read("images")
        last = img.groupBy("image_id").agg(F.max("commit_id").alias("commit_id"))
        return (
            img.join(last, ["image_id", "commit_id"])
            .filter(F.col("status") == "failed")
            .select("image_id")
        )

    def filter_pending(self, tiles: DataFrame) -> DataFrame:
        """F7 resume: anti-join work tiles against completed patches —
        the engine's skip-completed-tiles logic (reference tiler.py:781-784)."""
        done = self.completed_patches()
        return tiles.join(done, ["image_id", "tile_x", "tile_y"], "left_anti")

    def flag_completed(self, tiles: DataFrame) -> DataFrame:
        """F7 resume as a flag: every work tile plus a non-null boolean
        `done`, true when the tile is already committed. The pending set is
        `filter(~done)`; unlike `filter_pending`, one evaluation of the
        result also gives the done count (create_tiles materializes it once
        and derives every count and commit from it)."""
        done = self.completed_patches().withColumn("done", F.lit(True))
        return tiles.join(done, ["image_id", "tile_x", "tile_y"], "left").withColumn(
            "done", F.coalesce(F.col("done"), F.lit(False))
        )

    # --- consistency (A9) ----------------------------------------------------

    def consistency_report(self) -> list[str]:
        """Cross-check independent counters (reference
        tiling_manifest.py:734-797): per-image kept totals vs patch rows vs
        shard record totals. Returns list of issue strings (empty == clean).
        """
        issues: list[str] = []
        patches = self.read("patches")
        images = self.read("images")
        shards = self.read("shards")

        patch_total = patches.select("image_id", "tile_x", "tile_y").distinct().count()
        # per-image `kept` rows are PER-COMMIT INCREMENTS (a killed run
        # commits some of an image's tiles, the resume commits the rest,
        # each with its own status row) — sum across all completed rows,
        # not just each image's latest commit, or resumed images
        # under-count (caught by the flagship lifecycle test)
        image_kept = (
            images.filter(F.col("status") == "completed")
            .agg(F.sum("kept"))
            .collect()[0][0]
            or 0
        )
        if patch_total != image_kept:
            issues.append(
                f"patch rows ({patch_total}) != sum of per-image kept ({image_kept})"
            )
        shard_records = shards.agg(F.sum("n_records")).collect()[0][0] or 0
        if shard_records and shard_records != patch_total:
            issues.append(
                f"shard records ({shard_records}) != patch rows ({patch_total})"
            )
        return issues


def split_ratio_stats(patches: "DataFrame") -> dict[str, float]:
    """Actual split ratios from committed patches (A10 input; reference
    tiling_manifest.py:394-420 keeps these in dataset_statistics)."""
    rows = patches.groupBy("split").count().collect()
    total = sum(r["count"] for r in rows) or 1
    return {r["split"]: r["count"] / total for r in rows}


def is_split_ratio_drifting(ratios: dict[str, float], threshold: float = 0.03) -> bool:
    """Reference tiling_manifest.py:544-555: |trn - 0.8| > threshold."""
    if not ratios:
        return False
    return abs(ratios.get("trn", 0.0) - 0.8) > threshold


def get_adjusted_val_ratio(ratios: dict[str, float], default_ratio: float = 0.2) -> float:
    """Reference tiling_manifest.py:556-569 verbatim: too many val samples
    -> ratio - 0.05 clamped >= 0.1; too few -> ratio + 0.05 clamped <= 0.3."""
    if not is_split_ratio_drifting(ratios):
        return default_ratio
    if ratios.get("val", 0.0) > 0.2:
        return max(0.1, default_ratio - 0.05)
    return min(0.3, default_ratio + 0.05)
