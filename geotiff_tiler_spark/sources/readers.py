"""Output read-back path (reference S9/S10 + the manifest-as-index pruning,
visualization.py:43-58,271-275).

The reference's only read-path "optimizer" is shard pruning via manifest
shard_locations before opening tars. Spark equivalent: the output layout is
`tiles/commit_id=<id>/split=<s>/`, one directory per run commit, so a
split filter becomes a PartitionFilters entry on the scan (verified in
tests/test_plans.py) and each row carries its `commit_id`; the manifest's
shard table supports explicit file-level pruning when needed. A raw read
also sees the files of a killed call until the next writing call deletes
them; `Manifest.read("patches")` reads committed runs only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geotiff_tiler_spark.plans.manifest import Manifest


def read_tiles(spark: SparkSession, out_dir: str, split: str | None = None) -> DataFrame:
    """S9: read the tile output table; split filter partition-prunes."""
    df = spark.read.parquet(f"{out_dir}/tiles")
    if split is not None:
        df = df.filter(F.col("split") == split)
    return df


def read_csv_index(spark: SparkSession, out_dir: str) -> DataFrame:
    """S10: read the ';'-separated CSV index (reference visualization.py:175)."""
    return spark.read.option("sep", ";").csv(
        f"{out_dir}/csv_index", schema="split string, image_key string, label_key string"
    )


def sample_tiles(
    spark: SparkSession,
    out_dir: str,
    manifest_dir: str,
    image_id: int | None = None,
    max_rows: int = 16,
) -> DataFrame:
    """Visualization read-back (reference visualization.py:240-380): prune
    via manifest (images present), filter by image, bounded sample."""
    m = Manifest(spark, manifest_dir)
    df = read_tiles(spark, out_dir)
    df = df.join(m.completed_patches(), ["image_id", "tile_x", "tile_y"], "left_semi")
    if image_id is not None:
        df = df.filter(F.col("image_id") == image_id)
    return df.limit(max_rows)
