"""Crash consistency of a tiling run (R1-R3, F7).

A `create_tiles` call (a resume, or a first call that also commits its
work set and quarantine) is killed at each commit boundary -- before its
tile write, in the middle of it, after it but before the marker, and right
after the marker -- by monkeypatching the writer and the marker, and at
random moments by SIGKILL of a child process. From every kill point the next
call must reach the tiles of an uninterrupted run, with no duplicate file, a
shard registry that lists exactly the files on disk, and a clean
`consistency_report()`; a first call killed before its marker leaves no
commit at all.
"""

import os
import random
import signal
import subprocess
import sys
import time

import pytest
from pyspark.sql import DataFrameWriter

from geotiff_tiler_spark.operators.tiling import TilingParams
from geotiff_tiler_spark.plans.manifest import Manifest
from geotiff_tiler_spark.plans.pipeline import create_tiles

from conftest import SF_DIR
from test_pipeline import _pages_with_one_invalid

P = TilingParams(label_threshold=None)
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class Killed(Exception):
    pass


def _tiles(spark, out_dir):
    df = spark.read.parquet(f"{out_dir}/tiles")
    return sorted(
        (r.image_id, r.tile_x, r.tile_y, r.split, r.point_cnt, r.nonzero_px)
        for r in df.collect()
    )


def _parquet_files(path):
    return sorted(
        os.path.join(d, f) for d, _, files in os.walk(path) for f in files if f.endswith(".parquet")
    )


@pytest.fixture(scope="module")
def uninterrupted(spark, docs, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("uninterrupted"))
    create_tiles(spark, docs, P, f"{base}/out", f"{base}/mf")
    return _tiles(spark, f"{base}/out")


def _assert_recovered(spark, base, want):
    """The final state of `base` equals the uninterrupted run's."""
    assert _tiles(spark, f"{base}/out") == want  # a duplicated tile shows twice
    files = [
        (os.path.basename(os.path.dirname(f)).removeprefix("split="), os.path.basename(f))
        for f in _parquet_files(f"{base}/out/tiles")
    ]
    m = Manifest(spark, f"{base}/mf")
    assert sorted((r.split, r.shard_id) for r in m.read("shards").collect()) == sorted(files)
    assert len(set(files)) == len(files)
    assert m.consistency_report() == []


def _kill_at(monkeypatch, boundary, out_dir):
    """Make the next create_tiles call into `out_dir` die at `boundary`."""
    write, mark = DataFrameWriter.parquet, Manifest._mark
    wrote = []

    def parquet(self, path, *args, **kwargs):
        if os.path.join(out_dir, "tiles") not in str(path):
            return write(self, path, *args, **kwargs)
        if boundary == "before_write":
            raise Killed(boundary)
        write(self, path, *args, **kwargs)
        wrote.append(path)
        if boundary == "mid_write":
            # a write cut short: some part files have landed, others not
            files = _parquet_files(str(path).removeprefix("file:"))
            for f in files[: len(files) // 2]:
                os.remove(f)
            raise Killed(boundary)

    def marker(self, *args, **kwargs):
        if wrote and boundary == "before_marker":
            raise Killed(boundary)
        mark(self, *args, **kwargs)
        if wrote and boundary == "after_marker":
            raise Killed(boundary)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    monkeypatch.setattr(Manifest, "_mark", marker)


def _failed(spark, mf):
    return sorted(r.image_id for r in Manifest(spark, mf).failed_images().collect())


@pytest.fixture(scope="module")
def uninterrupted_validated(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("uninterrupted-validated"))
    vdocs = _pages_with_one_invalid(spark)
    create_tiles(spark, vdocs, P, f"{base}/out", f"{base}/mf", validate=True)
    assert _failed(spark, f"{base}/mf") == [100000]
    return _tiles(spark, f"{base}/out")


BOUNDARIES = ["before_write", "mid_write", "before_marker", "after_marker"]


@pytest.mark.parametrize(
    "boundary,first_call",
    [pytest.param(b, False, id=b) for b in BOUNDARIES]
    + [pytest.param(b, True, id=f"first_call-{b}") for b in BOUNDARIES],
)
def test_kill_at_commit_boundary_then_resume(
    spark,
    docs,
    uninterrupted,
    uninterrupted_validated,
    tmp_path_factory,
    monkeypatch,
    boundary,
    first_call,
):
    """A call is killed at `boundary`; the next call completes the run
    without writing any tile twice. The killed call is a resume, or a first
    call with validation stopped at 7 tiles, whose one commit carries its
    work set and quarantine too: killed before its marker, it leaves no
    commit, so no failed id shows and the next call analyses again."""
    base = str(tmp_path_factory.mktemp(f"kill-{boundary}"))
    out, mf = f"{base}/out", f"{base}/mf"
    marked = boundary == "after_marker"
    if first_call:
        docs, want = _pages_with_one_invalid(spark), uninterrupted_validated
        failed, limit = [100000], 7
        committed = 7 if marked else 0
    else:
        want, failed, limit = uninterrupted, [], None
        assert create_tiles(spark, docs, P, out, mf, limit_tiles=7).kept == 7
        committed = len(want) if marked else 7
    with monkeypatch.context() as mp:
        _kill_at(mp, boundary, out)
        with pytest.raises(Killed):
            create_tiles(spark, docs, P, out, mf, validate=first_call, limit_tiles=limit)
    markers = [f for _, _, files in os.walk(mf) for f in files if f == "_COMMITTED"]
    assert len(markers) == (not first_call) + marked
    assert _failed(spark, mf) == (failed if marked else [])
    last = create_tiles(spark, docs, P, out, mf, validate=first_call)
    assert last.work_reused == (marked or not first_call)
    assert last.skipped_resume == committed
    assert committed + last.kept == len(want)
    _assert_recovered(spark, base, want)
    assert _failed(spark, mf) == failed


_CHILD = """
import sys
sys.path.insert(0, {root!r})
from geotiff_tiler_spark.operators.tiling import TilingParams
from geotiff_tiler_spark.plans.pipeline import create_tiles
from geotiff_tiler_spark.session import get_spark

spark = get_spark(app_name="crash-child", master="local[2]", shuffle_partitions=8)
docs = spark.read.parquet({docs!r})
print("start", flush=True)
create_tiles(spark, docs, TilingParams(label_threshold=None), {out!r}, {mf!r})
print("done", flush=True)
spark.stop()
"""


def _child(base):
    """A fresh Python process (and JVM) running one create_tiles call on
    `base`, in its own process group so that one killpg stops both."""
    code = _CHILD.format(
        root=ROOT, docs=f"{SF_DIR}/documents.parquet", out=f"{base}/out", mf=f"{base}/mf"
    )
    env = {**os.environ, "SPARK_LOCAL_DIRS": f"{base}/local", "SPARK_GRAFT_DRIVER_MEM": "1g"}
    return subprocess.Popen(
        [sys.executable, "-c", code],
        cwd=base,
        env=env,
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        start_new_session=True,
    )


def _stop(proc):
    if proc.poll() is None:
        os.killpg(proc.pid, signal.SIGKILL)
    proc.wait()
    proc.stdout.close()


@pytest.mark.parametrize("seed", [3, 5, 6])
def test_sigkill_at_random_moment_then_resume(spark, uninterrupted, tmp_path_factory, seed):
    """SIGKILL a child's create_tiles call at a seeded random moment; a
    fresh child resumes and reaches the uninterrupted run's final state."""
    base = str(tmp_path_factory.mktemp(f"sigkill-{seed}"))
    killed = _child(base)
    try:
        assert killed.stdout.readline().strip() == b"start"
        # a cold call on 2 local cores takes about 10-17 s; seeds 3, 5, 6
        # kill at 3.8, 10.0 and 12.7 s after it starts
        time.sleep(random.Random(seed).uniform(0.0, 16.0))
    finally:
        _stop(killed)
    resume = _child(base)
    try:
        out, _ = resume.communicate(timeout=600)
    finally:
        _stop(resume)
    assert resume.returncode == 0 and out.split() == [b"start", b"done"]
    _assert_recovered(spark, base, uninterrupted)
