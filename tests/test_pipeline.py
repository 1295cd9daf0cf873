"""Kill/resume + manifest semantics (R1-R6, F7):

- a job killed mid-run resumes with zero recomputed tiles;
- final output after resume == single-shot run;
- an uncommitted (marker-less) directory is invisible to readers;
- consistency validator (A9) is clean after a complete run.
"""

import os
import shutil
import uuid

from pyspark.sql import functions as F

from geotiff_tiler_spark.operators.tiling import TilingParams
from geotiff_tiler_spark.plans.manifest import Manifest
from geotiff_tiler_spark.plans.pipeline import create_tiles
from geotiff_tiler_spark.sources import pages

P = TilingParams(label_threshold=None)


def _collect_tiles(spark, out_dir):
    path = os.path.join(out_dir, "tiles")
    df = spark.read.parquet(path)
    return sorted(
        (r.image_id, r.tile_x, r.tile_y, r.split, r.point_cnt) for r in df.collect()
    )


def test_kill_resume_no_recompute(spark, docs, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("resume"))
    full_dir, part_dir = f"{base}/full", f"{base}/part"

    # single-shot reference run
    r_full = create_tiles(spark, docs, P, f"{full_dir}/out", f"{full_dir}/mf")
    assert r_full.kept > 10

    # killed run: only 7 tiles committed
    r1 = create_tiles(spark, docs, P, f"{part_dir}/out", f"{part_dir}/mf", limit_tiles=7)
    assert r1.kept == 7 and r1.skipped_resume == 0

    # resume: must skip exactly the 7 committed tiles
    r2 = create_tiles(spark, docs, P, f"{part_dir}/out", f"{part_dir}/mf")
    assert r2.skipped_resume == 7
    assert r1.kept + r2.kept == r_full.kept

    # final state identical to the single-shot run, no duplicates
    assert _collect_tiles(spark, f"{part_dir}/out") == _collect_tiles(
        spark, f"{full_dir}/out"
    )

    # third run: everything already done
    r3 = create_tiles(spark, docs, P, f"{part_dir}/out", f"{part_dir}/mf")
    assert r3.kept == 0 and r3.skipped_resume == r_full.kept


def test_uncommitted_dir_invisible(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("mf"))
    m = Manifest(spark, root)
    df = spark.createDataFrame(
        [(1, 0, 0, "trn", 3, 3)],
        "image_id long, tile_x long, tile_y long, split string, point_cnt long, nonzero_px long",
    )
    m.append("patches", df)
    assert m.completed_patches().count() == 1
    # simulate a crash mid-commit: parquet written, marker missing
    crashed = os.path.join(root, "patches", "9999999999999-deadbeef")
    df.withColumnRenamed("nonzero_px", "nonzero_px").write.parquet(crashed)
    assert not os.path.exists(os.path.join(crashed, "_COMMITTED"))
    assert m.completed_patches().count() == 1  # still invisible
    shutil.rmtree(crashed)


def test_consistency_report_clean(spark, docs, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("consist"))
    create_tiles(spark, docs, P, f"{base}/out", f"{base}/mf")
    m = Manifest(spark, f"{base}/mf")
    assert m.consistency_report() == []


def test_consistency_report_detects_mismatch(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("mf2"))
    m = Manifest(spark, root)
    patches = spark.createDataFrame(
        [(1, 0, 0, "trn", 3, 3)],
        "image_id long, tile_x long, tile_y long, split string, point_cnt long, nonzero_px long",
    )
    m.append("patches", patches)
    images = spark.createDataFrame(
        [(1, "completed", 5, 0)], "image_id long, status string, kept long, discarded long"
    )
    m.append("images", images)  # claims 5 kept but only 1 patch row
    issues = m.consistency_report()
    assert len(issues) == 1 and "!=" in issues[0]


def test_drift_controller_between_runs(spark, docs, tmp_path_factory):
    """A10/R7: the controller reads committed split ratios and adjusts the
    next run's val_ratio exactly like the reference (tiler.py:280 consumes
    get_validation_ratio between runs)."""
    from geotiff_tiler_spark.plans import manifest as mf

    base = str(tmp_path_factory.mktemp("drift"))
    create_tiles(spark, docs, P, f"{base}/out", f"{base}/mf")
    m = Manifest(spark, f"{base}/mf")
    ratios = mf.split_ratio_stats(m.read("patches"))
    assert abs(sum(ratios.values()) - 1.0) < 1e-9
    adjusted = mf.get_adjusted_val_ratio(ratios, default_ratio=P.val_ratio)
    if mf.is_split_ratio_drifting(ratios):
        assert adjusted != P.val_ratio and 0.1 <= adjusted <= 0.3
    else:
        assert adjusted == P.val_ratio
    # truth table (reference tiling_manifest.py:556-569)
    assert abs(mf.get_adjusted_val_ratio({"trn": 0.7, "val": 0.3}) - 0.15) < 1e-12
    assert abs(mf.get_adjusted_val_ratio({"trn": 0.9, "val": 0.1}) - 0.25) < 1e-12
    assert mf.get_adjusted_val_ratio({"trn": 0.81, "val": 0.19}) == 0.2
    assert mf.get_adjusted_val_ratio({"trn": 0.7, "val": 0.3}, default_ratio=0.12) == 0.1


def test_flagship_lifecycle_end_to_end(spark, docs, tmp_path_factory):
    """VERDICT r3 item 5: the full §3.1 chain as ONE run — create_tiles
    (killed) -> resume -> no-op re-run -> A9 consistency -> WebDataset
    export -> registry/read-back cross-checks. All four independent
    counters must agree and resume must recompute zero tiles (asserted
    inside run_lifecycle)."""
    import sys

    sys.path.insert(0, "/root/repo/tools")
    from flagship_lifecycle import run_lifecycle

    base = str(tmp_path_factory.mktemp("lifecycle"))
    counters = run_lifecycle(spark, docs, base, kill_after=7)
    assert counters["kept_run1"] == 7
    assert counters["patch_total"] > 7  # the chain processed real work
    assert counters["wds_shards"] >= 2  # split partitioning produced shards


def _with_jobs(spark, fn):
    """(fn(), Spark jobs it ran), counted through a job group (the status
    tracker works with the UI off)."""
    sc = spark.sparkContext
    gid = f"jobs-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(gid, gid)
    try:
        out = fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(gid))


def test_resume_evaluates_work_set_once(spark, docs, tmp_path_factory):
    """A resume call evaluates the tiling work set once and derives every
    count and commit from that evaluation. Re-running the lazy work plan
    under each count, write and commit cost about 70 jobs per call; one
    pass stays well under 35, so a re-evaluating action fails here."""
    base = str(tmp_path_factory.mktemp("onepass"))
    create_tiles(spark, docs, P, f"{base}/out", f"{base}/mf", limit_tiles=7)
    run, jobs = _with_jobs(
        spark, lambda: create_tiles(spark, docs, P, f"{base}/out", f"{base}/mf")
    )
    assert run.skipped_resume == 7 and run.kept > 0
    assert jobs <= 35, jobs


def test_create_tiles_releases_checkpoints(spark, tmp_path_factory):
    """Every local checkpoint create_tiles takes is unpersisted before it
    returns, on the writing path and on the early-return no-op path."""
    base = str(tmp_path_factory.mktemp("leak"))
    good = pages.synth_pages(spark, 100).select("doc_id", "url", "warc_ts", "text", "lang")
    bad = spark.createDataFrame(
        [(100000, "u", "2024-01-01 00:00:00", "", "en")],
        "doc_id long, url string, warc_ts string, text string, lang string",
    ).withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
    vdocs = good.unionByName(bad)
    persistent = spark.sparkContext._jsc.sc().getPersistentRDDs
    before = persistent().size()
    # writing call: quarantine, work-set and limited checkpoints
    r1 = create_tiles(spark, vdocs, P, f"{base}/out", f"{base}/mf", validate=True, limit_tiles=5)
    assert r1.kept == 5
    assert persistent().size() == before
    r2 = create_tiles(spark, vdocs, P, f"{base}/out", f"{base}/mf", validate=True)
    assert r2.kept > 0
    # no-op call: returns before any write
    r3 = create_tiles(spark, vdocs, P, f"{base}/out", f"{base}/mf", validate=True)
    assert r3.kept == 0 and r3.skipped_resume == r1.kept + r2.kept
    assert persistent().size() == before
