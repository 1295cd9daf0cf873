"""Kill/resume + manifest semantics (R1-R6, F7):

- a job killed mid-run resumes with zero recomputed tiles;
- final output after resume == single-shot run;
- an uncommitted (marker-less) directory is invisible to readers;
- consistency validator (A9) is clean after a complete run.
"""

import glob
import json
import os
import shutil
import time
import uuid

import pytest
from pyspark.sql import functions as F

from geotiff_tiler_spark.operators.tiling import TilingParams
from geotiff_tiler_spark.plans.manifest import Manifest
from geotiff_tiler_spark.plans.pipeline import create_tiles, work_key
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


def _with_sql_executions(spark, fn):
    """(fn(), SQL executions it ran): those whose id is above the largest id
    the status store held before the call. A difference of
    executionsCount() goes wrong once the store evicts old executions."""
    bus = spark.sparkContext._jsc.sc().listenerBus()
    store = spark._jsparkSession.sharedState().statusStore()

    def ids():
        bus.waitUntilEmpty()
        execs = store.executionsList()
        return [execs.apply(i).executionId() for i in range(execs.size())]

    last = max(ids(), default=-1)
    out = fn()
    return out, sum(1 for i in ids() if i > last)


def test_resume_runs_few_sql_executions(spark, docs, tmp_path_factory):
    """A resume call runs the fingerprint, the flag checkpoint and one run
    commit (tile, status and shard writes): 5 SQL executions, where a
    second copy of the tiles in the manifest made it 6."""
    base = str(tmp_path_factory.mktemp("resumesql"))
    create_tiles(spark, docs, P, f"{base}/out", f"{base}/mf", limit_tiles=7)
    run, executions = _with_sql_executions(
        spark, lambda: create_tiles(spark, docs, P, f"{base}/out", f"{base}/mf")
    )
    assert run.work_reused and run.kept > 0
    assert executions <= 5, executions


def test_first_call_runs_few_sql_executions(spark, tmp_path_factory):
    """A first call with validation, killed by limit_tiles, runs the
    fingerprint, the docs-points checkpoint, the two analysis collects, the
    flag and limit checkpoints and ONE commit (tile, status, shard and work
    writes): 10 SQL executions, where a separate quarantine commit and
    work-set commit made it 12."""
    base = str(tmp_path_factory.mktemp("firstsql"))
    vdocs = _pages_with_one_invalid(spark)
    run, executions = _with_sql_executions(
        spark,
        lambda: create_tiles(
            spark, vdocs, P, f"{base}/out", f"{base}/mf", validate=True, limit_tiles=7
        ),
    )
    assert not run.work_reused and run.kept == 7
    assert executions <= 10, executions


def test_commit_order_does_not_follow_the_clock(spark, tmp_path, monkeypatch):
    """An image's latest status is that of its latest commit even when the
    wall clock steps back between the two commits."""
    m = Manifest(spark, str(tmp_path))

    def status(s):
        return spark.createDataFrame(
            [(1, s, 0, 0)], "image_id long, status string, kept long, discarded long"
        )

    with monkeypatch.context() as mp:
        mp.setattr(time, "time", lambda: 2_000_000_000.0)
        m.append("images", status("failed"))
        mp.setattr(time, "time", lambda: 1_000_000_000.0)
        m.append("images", status("completed"))
    assert [r.image_id for r in m.completed_images().collect()] == [1]
    assert m.failed_images().count() == 0


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
    # compare RDD ids, not counts: residue of earlier tests may be released
    # by the ContextCleaner while the calls run
    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    before = persisted()
    # writing call: quarantine, work-set and limited checkpoints
    r1 = create_tiles(spark, vdocs, P, f"{base}/out", f"{base}/mf", validate=True, limit_tiles=5)
    assert r1.kept == 5
    assert persisted() - before == set()
    r2 = create_tiles(spark, vdocs, P, f"{base}/out", f"{base}/mf", validate=True)
    assert r2.kept > 0
    # no-op call: returns before any write
    r3 = create_tiles(spark, vdocs, P, f"{base}/out", f"{base}/mf", validate=True)
    assert r3.kept == 0 and r3.skipped_resume == r1.kept + r2.kept
    assert persisted() - before == set()


def _shard_files(spark, run_dir):
    """(split, file) of every parquet file under out/tiles, and of every
    file the shard registry lists."""
    on_disk = sorted(
        (os.path.basename(d).removeprefix("split="), f)
        for d, _, files in os.walk(f"{run_dir}/out/tiles")
        for f in files
        if f.endswith(".parquet")
    )
    shards = Manifest(spark, f"{run_dir}/mf").read("shards").collect()
    return on_disk, sorted((r.split, r.shard_id) for r in shards)


def _work_commit(mf_dir, key):
    """(data directory, marker) of the commit that holds the work set under
    `key`, or (None, None)."""
    for marker in glob.glob(f"{mf_dir}/commits/*/_COMMITTED"):
        with open(marker) as fh:
            record = json.load(fh)
        if record.get("work_key") == key and "work" in record["tables"]:
            cid = os.path.basename(os.path.dirname(marker))
            return f"{mf_dir}/work/commit_id={cid}", marker
    return None, None


def test_kill_after_work_commit_resumes_from_it(spark, docs, tmp_path_factory):
    """A call killed after the work-set commit but before any tile write
    (limit_tiles=0 stops there) leaves a committed work set; the resume
    reads it back and reaches the uninterrupted run's tiles and splits."""
    base = str(tmp_path_factory.mktemp("workcommit"))
    full = create_tiles(spark, docs, P, f"{base}/full/out", f"{base}/full/mf")
    r0 = create_tiles(spark, docs, P, f"{base}/part/out", f"{base}/part/mf", limit_tiles=0)
    assert r0.kept == 0 and r0.skipped_resume == 0 and not r0.work_reused
    assert not os.path.exists(f"{base}/part/out/tiles")
    key = work_key(docs, P, "spatial", 42, False)
    assert os.path.exists(_work_commit(f"{base}/part/mf", key)[1])

    r1 = create_tiles(spark, docs, P, f"{base}/part/out", f"{base}/part/mf")
    assert r1.work_reused and r1.skipped_resume == 0 and r1.kept == full.kept
    tiles = _collect_tiles(spark, f"{base}/part/out")
    assert tiles == _collect_tiles(spark, f"{base}/full/out")
    assert len({t[:3] for t in tiles}) == len(tiles)
    on_disk, registered = _shard_files(spark, f"{base}/part")
    assert on_disk == registered and len(set(on_disk)) == len(on_disk)
    assert Manifest(spark, f"{base}/part/mf").consistency_report() == []


def test_unmarked_work_dir_is_recomputed(spark, docs, tmp_path_factory):
    """A work-set directory without its marker is a killed write: the next
    call recomputes the work set, rewrites the directory and reaches the
    same tiles as an uninterrupted run."""
    base = str(tmp_path_factory.mktemp("workkill"))
    full = create_tiles(spark, docs, P, f"{base}/full/out", f"{base}/full/mf")
    create_tiles(spark, docs, P, f"{base}/part/out", f"{base}/part/mf", limit_tiles=0)
    key = work_key(docs, P, "spatial", 42, False)
    wdir, marker = _work_commit(f"{base}/part/mf", key)
    # the killed write: no marker, and only some of its files
    os.remove(marker)
    parts = sorted(f for f in os.listdir(wdir) if f.endswith(".parquet"))
    for f in parts[: max(1, len(parts) // 2)]:
        os.remove(os.path.join(wdir, f))

    r1 = create_tiles(spark, docs, P, f"{base}/part/out", f"{base}/part/mf")
    assert not r1.work_reused and r1.kept == full.kept
    wdir, marker = _work_commit(f"{base}/part/mf", key)
    assert os.path.exists(marker)
    assert spark.read.parquet(wdir).count() == full.kept
    assert _collect_tiles(spark, f"{base}/part/out") == _collect_tiles(
        spark, f"{base}/full/out"
    )
    assert Manifest(spark, f"{base}/part/mf").consistency_report() == []
    r2 = create_tiles(spark, docs, P, f"{base}/part/out", f"{base}/part/mf")
    assert r2.work_reused and r2.kept == 0 and r2.skipped_resume == full.kept


def test_work_key_misses_on_any_input_change(spark):
    """The work key changes with any row of the columns create_tiles reads
    and with every argument that shapes the work set; it does not change
    with row order, partitioning or columns create_tiles does not read."""
    docs = pages.synth_pages(spark, 40).select("doc_id", "url", "warc_ts", "text", "lang")

    def key(d, params=P, strategy="spatial", seed=42, validate=False):
        return work_key(d, params, strategy, seed, validate)

    def one_row(col, value):
        return docs.withColumn(
            col, F.when(F.col("doc_id") == 5, value).otherwise(F.col(col))
        )

    row5 = docs.filter("doc_id = 5")
    base = key(docs)
    assert key(docs.orderBy(F.desc("doc_id")).repartition(3)) == base
    assert key(one_row("url", F.lit("elsewhere"))) == base
    variants = {
        "text": key(one_row("text", F.concat(F.col("text"), F.lit(" x")))),
        "lang": key(one_row("lang", F.lit("zh"))),
        "warc_ts": key(one_row("warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 SECOND"))),
        "doc_id": key(one_row("doc_id", F.lit(100000).cast("bigint"))),
        "added": key(docs.unionByName(row5.withColumn("doc_id", F.lit(99).cast("bigint")))),
        "duplicated": key(docs.unionByName(row5)),
        "params": key(docs, params=TilingParams(label_threshold=0.1)),
        "val_seed": key(docs, seed=7),
        "val_strategy": key(docs, strategy="random"),
        "validate": key(docs, validate=True),
    }
    assert all(v != base for v in variants.values()), variants
    assert len(set(variants.values())) == len(variants)

    # a NULL moving between two columns: the hash skips nulls, the null
    # flags do not
    schema = "doc_id long, text string, lang string"
    left = spark.createDataFrame([(1, None, "en")], schema)
    right = spark.createDataFrame([(1, "en", None)], schema)
    assert key(left) != key(right)


def test_resume_and_noop_read_committed_work_set(spark, docs, tmp_path_factory):
    """Resume and no-op calls read the committed work set instead of
    re-running validation and phases 1-3: a resume stays within 15 Spark
    jobs and a no-op within 6 (27 and 19 when both re-ran the analysis)."""
    base = str(tmp_path_factory.mktemp("hitjobs"))
    create_tiles(spark, docs, P, f"{base}/out", f"{base}/mf", limit_tiles=7)
    resume, resume_jobs = _with_jobs(
        spark, lambda: create_tiles(spark, docs, P, f"{base}/out", f"{base}/mf")
    )
    assert resume.work_reused and resume.skipped_resume == 7 and resume.kept > 0
    assert resume_jobs <= 15, resume_jobs
    noop, noop_jobs = _with_jobs(
        spark, lambda: create_tiles(spark, docs, P, f"{base}/out", f"{base}/mf")
    )
    assert noop.work_reused and noop.kept == 0
    assert noop.skipped_resume == resume.kept + 7
    assert noop_jobs <= 6, noop_jobs


def _pages_with_one_invalid(spark, n=100):
    """n synthetic pages plus one with empty text, which validation
    quarantines."""
    good = pages.synth_pages(spark, n).select("doc_id", "url", "warc_ts", "text", "lang")
    bad = spark.createDataFrame(
        [(100000, "u", "2024-01-01 00:00:00", "", "en")],
        "doc_id long, url string, warc_ts string, text string, lang string",
    ).withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
    return good.unionByName(bad)


def test_empty_manifest_tables_fold_away(spark, tmp_path_factory):
    """A table with no commit optimizes to an empty LocalRelation that no
    Python RDD evaluates, so the status views and the resume join over a
    fresh manifest fold away and run no task."""
    m = Manifest(spark, str(tmp_path_factory.mktemp("fold")))
    for table in ("patches", "images", "shards"):
        qe = m.read(table)._jdf.queryExecution()
        plan = qe.optimizedPlan()
        assert plan.getClass().getSimpleName() == "LocalRelation", plan.toString()
        assert plan.data().isEmpty()
        assert "PythonRDD" not in qe.toRdd().toDebugString()
    for view in (m.failed_images(), m.completed_images()):
        plan = view._jdf.queryExecution().optimizedPlan()
        assert plan.getClass().getSimpleName() == "LocalRelation", plan.toString()
    tiles = spark.range(3).select(
        F.col("id").alias("image_id"), F.col("id").alias("tile_x"), F.col("id").alias("tile_y")
    )
    flagged = m.flag_completed(tiles)._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in flagged, flagged


def test_analyse_work_set_runs_no_python(spark, tmp_path_factory):
    """The first call's work set (validation, analysis, selector, split
    join) has no Python-evaluated node and no Python RDD in its lineage:
    validation cells are picked on the driver and come back through Arrow."""
    from geotiff_tiler_spark.plans.pipeline import _analyse

    m = Manifest(spark, str(tmp_path_factory.mktemp("nopython")))
    held = []
    try:
        work, _ = _analyse(_pages_with_one_invalid(spark), P, m, held, "spatial", 42, True)
        qe = work._jdf.queryExecution()
        plan = qe.executedPlan().toString()
        for node in ("FlatMapGroupsInPandas", "ArrowEvalPython", "BatchEvalPython"):
            assert node not in plan, plan
        assert "PythonRDD" not in qe.toRdd().toDebugString()
        assert work.count() > 0
    finally:
        for cp in held:
            cp._jdf.queryExecution().logical().rdd().unpersist(False)


def test_first_call_scans_docs_once(spark, tmp_path_factory):
    """A first call on a fresh manifest evaluates validation and geocoding
    once, folds the empty manifest reads and picks validation cells on the
    driver: 25 Spark jobs on this input, where re-scanning the docs per
    aggregate, the Python-evaluated empty reads and the applyInPandas
    selector cost 32."""
    base = str(tmp_path_factory.mktemp("firstjobs"))
    vdocs = _pages_with_one_invalid(spark)
    run, jobs = _with_jobs(
        spark,
        lambda: create_tiles(spark, vdocs, P, f"{base}/out", f"{base}/mf", validate=True),
    )
    assert not run.work_reused and run.kept > 0
    assert jobs <= 28, jobs


def test_all_quarantined_docs_keep_nothing(spark, tmp_path_factory):
    """Docs that all fail validation: every id is quarantined, no tile is
    written, the manifest stays consistent and a re-run commits nothing."""
    base = str(tmp_path_factory.mktemp("allbad"))
    bad = pages.synth_pages(spark, 100).select("doc_id", "url", "warc_ts", "text", "lang")
    bad = bad.withColumn("text", F.lit(""))
    r1 = create_tiles(spark, bad, P, f"{base}/out", f"{base}/mf", validate=True)
    assert (r1.kept, r1.skipped_resume, r1.images) == (0, 0, 0)
    assert not os.path.exists(f"{base}/out/tiles")
    m = Manifest(spark, f"{base}/mf")
    assert sorted(r.image_id for r in m.failed_images().collect()) == list(range(100))
    assert m.consistency_report() == []
    n_commits = len(os.listdir(f"{base}/mf/images"))
    r2 = create_tiles(spark, bad, P, f"{base}/out", f"{base}/mf", validate=True)
    assert r2.work_reused and (r2.kept, r2.skipped_resume) == (0, 0)
    assert len(os.listdir(f"{base}/mf/images")) == n_commits


def test_empty_docs_keep_nothing(spark, docs, tmp_path_factory):
    """Empty docs choose no validation cell: the empty selection still
    enters the plan with its schema, and the call keeps nothing, with and
    without validation."""
    base = str(tmp_path_factory.mktemp("nodocs"))
    vempty = pages.synth_pages(spark, 10).select("doc_id", "url", "warc_ts", "text", "lang")
    cases = (("plain", docs.limit(0), False), ("valid", vempty.limit(0), True))
    for name, empty, validate in cases:
        out, mf = f"{base}/{name}/out", f"{base}/{name}/mf"
        r1 = create_tiles(spark, empty, P, out, mf, validate=validate)
        assert (r1.kept, r1.skipped_resume, r1.images, r1.work_reused) == (0, 0, 0, False)
        assert not os.path.exists(f"{out}/tiles")
        m = Manifest(spark, mf)
        assert m.failed_images().count() == 0 and m.consistency_report() == []
        r2 = create_tiles(spark, empty, P, out, mf, validate=validate)
        assert r2.work_reused and (r2.kept, r2.skipped_resume) == (0, 0)


@pytest.mark.parametrize("strategy,n_val", [("spatial", 302), ("random", 82)])
def test_selector_strategy_matches_distributed_selector(
    spark, docs, tmp_path_factory, strategy, n_val
):
    """create_tiles' driver-side selector gives the tiles and splits of the
    distributed applyInPandas selector, for both strategies (402 tiles on
    this fixture; 302 val for spatial, 82 for random with seed 42)."""
    from geotiff_tiler_spark.operators import stats, tiling

    base = str(tmp_path_factory.mktemp(f"sel-{strategy}"))
    run = create_tiles(
        spark, docs, P, f"{base}/out", f"{base}/mf", val_strategy=strategy, val_seed=42
    )
    pts = tiling.doc_points(docs, P)
    cells = stats.select_validation_cells_distributed(
        stats.grid_cell_distributions(pts, P),
        P,
        stats.target_distribution(stats.class_distribution(pts)),
        P.val_ratio,
        strategy=strategy,
        seed=42,
    )
    want = sorted(
        (r.image_id, r.tile_x, r.tile_y, r.split, r.point_cnt)
        for r in tiling.assign_split_by_cells(tiling.kept_tiles(pts, P), P, cells).collect()
    )
    got = _collect_tiles(spark, f"{base}/out")
    assert got == want
    assert run.kept == len(got) == 402
    assert sum(t[3] == "val" for t in got) == n_val
