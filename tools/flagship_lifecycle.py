"""End-to-end flagship lifecycle: the reference's `Tiler.create_tiles()`
entry point (tiler.py:182-386) exercised as ONE chain —

  create_tiles (killed mid-run) -> resume -> idempotent no-op re-run ->
  manifest consistency_report (A9) -> WebDataset export (K1-K3) ->
  shard-registry + tar read-back cross-checks.

Every stage exists and is unit-tested individually (pipeline.py,
manifest.py, webdataset.py); this runs them as the single lifecycle a
reference user runs, asserting the independent counters agree:

  1. manifest patch rows (distinct (image, tile_x, tile_y))
  2. sum of per-image `kept` from completed-image status rows
  3. parquet shard-registry record totals (`_metadata`-derived)
  4. WebDataset registry sample totals + tar read-back key count

Usage: python tools/flagship_lifecycle.py [sf_dir] (default sf0.1);
prints one JSON line of counters. test_pipeline.py runs the same chain
at sf0.001 in-suite.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402


def run_lifecycle(spark, docs, base_dir: str, kill_after: int = 7) -> dict:
    """Run the full chain; returns counters. Raises AssertionError on any
    counter disagreement or recompute-on-resume."""
    from geotiff_tiler_spark.operators import tiling
    from geotiff_tiler_spark.operators.tiling import TilingParams
    from geotiff_tiler_spark.plans import webdataset as wd
    from geotiff_tiler_spark.plans.manifest import Manifest
    from geotiff_tiler_spark.plans.pipeline import create_tiles

    params = TilingParams(label_threshold=None)
    out_dir, mf_dir = f"{base_dir}/out", f"{base_dir}/mf"

    # 1) killed run + resume + idempotent re-run (F7/R1-R6)
    r1 = create_tiles(spark, docs, params, out_dir, mf_dir, limit_tiles=kill_after)
    r2 = create_tiles(spark, docs, params, out_dir, mf_dir)
    assert r2.skipped_resume == r1.kept, (r1, r2)
    r3 = create_tiles(spark, docs, params, out_dir, mf_dir)
    assert r3.kept == 0, "resume recomputed tiles"
    assert r3.skipped_resume == r1.kept + r2.kept
    # run 1 computes and commits the work set; the resume and the no-op
    # read it back instead of re-running the analysis
    assert not r1.work_reused and r2.work_reused and r3.work_reused, (r1, r2, r3)
    # one commit per writing call (the killed run's and the resume's); the
    # work set rides in run 1's commit and the no-op commits nothing
    markers = [f for _, _, files in os.walk(mf_dir) for f in files if f == "_COMMITTED"]
    assert len(markers) == 2, markers

    # 2) A9 consistency: the three manifest-side counters
    manifest = Manifest(spark, mf_dir)
    issues = manifest.consistency_report()
    assert issues == [], issues
    patch_total = manifest.completed_patches().count()
    image_kept = int(
        manifest.read("images")
        .filter(F.col("status") == "completed")
        .agg(F.sum("kept"))
        .collect()[0][0]
        or 0
    )
    shard_records = int(
        manifest.read("shards").agg(F.sum("n_records")).collect()[0][0] or 0
    )

    # 3) WebDataset export of the committed tiles (K1-K3): key = reference
    #    patch key, members = metadata.json
    tiles = spark.read.parquet(os.path.join(out_dir, "tiles"))
    samples = wd.metadata_json(
        tiling.patch_key(tiles),
        ["image_id", "tile_x", "tile_y", "split", "point_cnt", "nonzero_px"],
    )
    registry = wd.write_webdataset(
        samples, f"{base_dir}/wds", {"json": "metadata"}, max_count=500
    ).collect()
    wds_samples = int(sum(r.n_samples for r in registry))

    # 4) tar read-back: every sample key present exactly once
    back = wd.read_webdataset(spark, f"{base_dir}/wds")
    readback_keys = back.select("key").distinct().count()
    readback_rows = back.count()

    counters = {
        "kept_run1": r1.kept,
        "kept_run2": r2.kept,
        "patch_total": patch_total,
        "image_kept": image_kept,
        "shard_records": shard_records,
        "wds_shards": len(registry),
        "wds_samples": wds_samples,
        "readback_keys": readback_keys,
        "readback_rows": readback_rows,
    }
    agree = {patch_total, image_kept, shard_records, wds_samples, readback_keys}
    assert agree == {patch_total}, counters
    assert r1.kept + r2.kept == patch_total, counters
    return counters


def main() -> int:
    import tempfile

    from geotiff_tiler_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        app_name="flagship-lifecycle",
        master=f"local[{cpus}]",
        shuffle_partitions=max(int(cpus), 8),
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    with tempfile.TemporaryDirectory(prefix="lifecycle-") as base:
        counters = run_lifecycle(spark, docs, base, kill_after=100)
        print(json.dumps({"sf_dir": sf_dir, **counters}, sort_keys=True))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
