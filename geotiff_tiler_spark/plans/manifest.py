"""Manifest / checkpoint tables — the reference's TilingManifest re-expressed
as committed columnar state (reference tiling_manifest.py:62-208, 583-617).

The reference keeps a single JSON file with atomic tmp+rename writes. Here
a write is a *commit*: each table's rows go to `<root>/commit_id=<id>/`,
then ONE marker `commits/<id>/_COMMITTED` records the tables written, the
tile root and the work key. The marker is written aside and renamed into
place; readers list markers, never data directories, so a kill mid-write
never corrupts state (R3). On a real deployment this is an Iceberg snapshot
commit (SURVEY D6/K8); the Hadoop-FS marker keeps the engine
dependency-free. The id is `c<seq>-<hex>`: the zero-padded sequence number
leads, so ids sort in commit order without a clock (one writer at a time),
and the `c` keeps partition inference reading it as a string.

Tables (every row carries its commit_id):
  patches/ : (image_id, tile_x, tile_y, split, point_cnt, nonzero_px) — the
    committed tile files themselves, `<tiles>/commit_id=<id>/split=<s>/`:
    a run's `out/tiles` (`commit_run`), or the manifest's own `patches/`
    (`append`)
  images/  : (image_id, status, kept, discarded), failed rows included
  shards/  : (shard_id, split, n_records, size_bytes, status), one row per
    tile file, keyed by (split, shard_id): one task writes the same
    part-file name under both splits
  work/    : a computing run's full tiling work set (the patch columns but
    commit_id); `work_set` finds it by the `work_key` of its marker
"""

from __future__ import annotations

import json
import os
import uuid
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession
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

WORK_SCHEMA = sqltypes.StructType(PATCH_SCHEMA.fields[:-1])

_SCHEMAS = dict(patches=PATCH_SCHEMA, images=IMAGE_SCHEMA, shards=SHARD_SCHEMA, work=WORK_SCHEMA)


class Manifest:
    """Commit-marker manifest over any Hadoop filesystem (local, HDFS,
    object stores) — all path operations go through the Hadoop FS API."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        for t in ("commits", *_SCHEMAS):
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

    def _commits(self) -> list[dict]:
        """The marker record of every commit, in commit order."""
        fs, base, jvm = self._fs(os.path.join(self.root, "commits"))
        out = []
        for st in fs.globStatus(jvm.org.apache.hadoop.fs.Path(base, "*/_COMMITTED")) or []:
            stream = fs.open(st.getPath())
            try:
                out.append(json.loads(bytes(stream.readAllBytes())))
            finally:
                stream.close()
            out[-1]["commit_id"] = st.getPath().getParent().getName()
        return sorted(out, key=lambda c: c["commit_id"])

    def _begin(self) -> str:
        """A fresh commit id; marked commits hold sequence numbers 1..n."""
        return f"c{len(self._commits()) + 1:010d}-{uuid.uuid4().hex[:8]}"

    def _write(self, table: str, df: DataFrame, cid: str, root=None, max_records=None) -> str:
        """`cid`'s rows of `table` into `<root>/commit_id=<cid>/`: tiles are
        partitioned by split (K1), files bounded by `max_records` (K2)."""
        path = os.path.join(root or os.path.join(self.root, table), f"commit_id={cid}")
        writer = df.write.mode("error")
        if max_records:
            writer = writer.option("maxRecordsPerFile", str(max_records))
        (writer.partitionBy("split") if table == "patches" else writer).parquet(path)
        return path

    def _mark(self, path: str, record: dict) -> None:
        """The commit point: `path/_COMMITTED` holding `record`, written
        aside and renamed through the Hadoop FS, so a reader sees the whole
        record or no commit."""
        fs, jpath, jvm = self._fs(path)
        tmp, marker = (jvm.org.apache.hadoop.fs.Path(jpath, n) for n in ("_tmp", "_COMMITTED"))
        out = fs.create(tmp, True)
        out.write(bytearray(json.dumps(record).encode("utf-8")))
        out.close()
        if not fs.rename(tmp, marker):
            raise OSError(f"could not commit {marker}")

    def append(self, table: str, df: DataFrame) -> str:
        """A one-table commit: data directory, then marker."""
        cid = self._begin()
        self._write(table, df, cid)
        self._mark(os.path.join(self.root, "commits", cid), {"tables": [table]})
        return cid

    def commit_run(self, out_dir, tiles, work=None, failed=None, max_records=None, work_key=None):
        """One call's commit (R1-R3), returning (commit id, images): its
        tiles, written once to `out_dir/tiles/commit_id=<id>/`, per-image
        status rows (`kept` is this commit's increment, which A9 sums) plus
        the `failed` rows, the shard rows of its own tile files (one
        `_metadata` aggregate), the `work` set, then the marker; None is
        not written. First it deletes the data of commits that never got a
        marker, so a resume never writes a tile twice; `out_dir` belongs to
        this manifest."""
        fs, jpath, _ = self._fs(os.path.join(out_dir, "tiles"))
        root = fs.makeQualified(jpath).toString()
        live = {f"commit_id={c['commit_id']}" for c in self._commits()}
        for parent in (root, *(os.path.join(self.root, t) for t in _SCHEMAS)):
            fs, base, _ = self._fs(parent)
            for st in fs.listStatus(base) if fs.exists(base) else []:
                name = st.getPath().getName()
                if name.startswith("commit_id=") and name not in live:
                    fs.delete(st.getPath(), True)
        cid, images = self._begin(), Observation()
        rows = {"patches": tiles, "images": failed, "shards": None, "work": work}
        if tiles is not None:
            path = self._write("patches", tiles, cid, root, max_records)
            counts = tiles.groupBy("image_id").agg(
                F.lit("completed").alias("status"),
                F.count(F.lit(1)).alias("kept"),
                F.lit(0).cast("bigint").alias("discarded"),
            ).observe(images, F.count(F.lit(1)).alias("n"))
            rows["images"] = counts if failed is None else counts.unionByName(failed)
            shards = self.spark.read.schema("split string").parquet(path).groupBy(
                F.col("_metadata.file_name").alias("shard_id"), "split"
            )
            rows["shards"] = shards.agg(
                F.count(F.lit(1)).alias("n_records"),
                F.max("_metadata.file_size").alias("size_bytes"),
                F.lit("CLOSED").alias("status"),
            )
        if work is not None:
            rows["work"] = work.select(*(F.col(f.name).cast(f.dataType) for f in WORK_SCHEMA))
        for table in ("images", "shards", "work"):
            if rows[table] is not None:
                self._write(table, rows[table], cid)
        tables = [t for t, df in rows.items() if df is not None]
        record = {"tables": tables, "tiles": root, "work_key": work_key}
        self._mark(os.path.join(self.root, "commits", cid), record)
        return cid, images.get["n"] if tiles is not None else 0

    def read(self, table: str) -> DataFrame:
        """Every committed row of `table`, commit_id read from the data
        directory names. A table with no commit reads as an empty relation
        Catalyst can see (`PruneFilters` turns the false filter into an
        empty LocalRelation), so the joins, aggregates and anti-joins over
        it fold away and no task runs; the bare `createDataFrame([])` would
        run as a Python-RDD stage."""
        schema, dirs = _SCHEMAS[table], {}  # table root -> commit dirs
        for c in self._commits():
            if table in c["tables"]:
                root = c.get("tiles") if table == "patches" else None
                root = root or os.path.join(self.root, table)
                dirs.setdefault(root, []).append(os.path.join(root, f"commit_id={c['commit_id']}"))
        if not dirs:
            return self.spark.createDataFrame([], schema).where(F.lit(False))
        scans = (
            self.spark.read.option("basePath", r).schema(schema).parquet(*d) for r, d in dirs.items()
        )
        return reduce(DataFrame.unionByName, scans).select(*schema.fieldNames())

    def work_set(self, key: str) -> DataFrame | None:
        """The work set committed with `key` as its marker's work key, or
        None when no marked commit holds one."""
        for c in self._commits():
            if c.get("work_key") == key and "work" in c["tables"]:
                path = os.path.join(self.root, "work", f"commit_id={c['commit_id']}")
                return self.spark.read.schema(WORK_SCHEMA).parquet(path)
        return None

    # --- reference-parity views ---------------------------------------------

    def completed_patches(self) -> DataFrame:
        """Per-image completed patch set (reference tiling_manifest.py:148-152)."""
        return self.read("patches").select("image_id", "tile_x", "tile_y").distinct()

    def _latest_status(self) -> DataFrame:
        """(image_id, status) of each image's latest commit (max commit_id,
        which is the highest sequence number): a resumed or retried image
        has one row per commit that touched it, and only the last one says
        where it stands."""
        img = self.read("images")
        last = img.groupBy("image_id").agg(F.max("commit_id").alias("commit_id"))
        return img.join(last, ["image_id", "commit_id"]).select("image_id", "status")

    def completed_images(self) -> DataFrame:
        """Images whose status is completed; an image marked in_progress by a
        dead run does NOT count (reference resets in-progress on load,
        tiling_manifest.py:658-659)."""
        return self._latest_status().filter(F.col("status") == "completed").select("image_id")

    def failed_images(self) -> DataFrame:
        return self._latest_status().filter(F.col("status") == "failed").select("image_id")

    def filter_pending(self, tiles: DataFrame) -> DataFrame:
        """F7 resume: anti-join work tiles against completed patches —
        the engine's skip-completed-tiles logic (reference tiler.py:781-784).

        The plan keeps its anti-join on a manifest with no patch commit too
        (test_plans::test_antijoin_resume_is_join_not_collect pins that
        shape): the done side is then an empty range, which runs in the JVM
        but which Catalyst, unlike the empty `read`, does not fold away."""
        keys = ["image_id", "tile_x", "tile_y"]
        if any("patches" in c["tables"] for c in self._commits()):
            done = self.completed_patches()
        else:
            done = self.spark.range(0).select(*(F.col("id").alias(k) for k in keys))
        return tiles.join(done, keys, "left_anti")

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
        # per-image `kept` rows are PER-COMMIT INCREMENTS (a killed run and
        # its resume each commit a status row for an image): sum every
        # completed row, not each image's latest. The three counters are
        # one aggregate over the union of the three tables, one collect.
        patch = F.struct("image_id", "tile_x", "tile_y").alias("patch")
        patches = self.read("patches").select(patch)
        kept = self.read("images").filter(F.col("status") == "completed").select("kept")
        records = self.read("shards").select(F.col("n_records").alias("records"))
        c = (
            patches.unionByName(kept, allowMissingColumns=True)
            .unionByName(records, allowMissingColumns=True)
            .agg(
                F.count_distinct("patch").alias("patches"),
                F.sum("kept").alias("kept"),
                F.sum("records").alias("records"),
            )
            .collect()[0]
        )
        patch_total, image_kept, shard_records = c["patches"], c["kept"] or 0, c["records"] or 0

        issues: list[str] = []
        if patch_total != image_kept:
            issues.append(f"patch rows ({patch_total}) != sum of per-image kept ({image_kept})")
        if shard_records and shard_records != patch_total:
            issues.append(f"shard records ({shard_records}) != patch rows ({patch_total})")
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
