"""Benchmark entry point for geotiff_tiler_spark.

    python3 perfbench/run.py --workload tile_resume --seed 1 --seconds 20 --trace 0

Runs one workload in one Spark driver process on local[nproc], checks every
operation's output, and prints as its last stdout line one JSON object
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json; with --trace 1 the run makes
one traced pass and prints the per-layer metrics. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")

END_TO_END_UNITS = {"setup_s": "s", "pass_s": "s", "rows_per_s": "1/s"}
DETAIL_UNITS = {
    "tile_rows_per_s": "1/s", "resume_s": "s", "noop_rerun_s": "s",
    "pib_rows_per_s": "1/s", "pip_rows_per_s": "1/s", "knn_queries_per_s": "1/s",
    "overlap_rows_per_s": "1/s", "dedup_docs_per_s": "1/s", "pq_queries_per_s": "1/s",
    "ivfpq_queries_per_s": "1/s",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def git_commit() -> str:
    """HEAD of the checkout when it is a git work tree, else 'unknown'."""
    git = os.path.join(ROOT, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as fh:
            head = fh.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        try:
            with open(os.path.join(git, ref)) as fh:
                return fh.read().strip()
        except OSError:
            with open(os.path.join(git, "packed-refs")) as fh:
                for line in fh:
                    if line.rstrip().endswith(" " + ref):
                        return line.split()[0]
    except OSError:
        pass
    return "unknown"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(work_dir: str, cpus: int):
    """Driver session sized from nproc. Python workers find the engine
    through PYTHONPATH, so the benchmark runs from any directory; every
    scratch file Spark, the JVM and Python write lands under work_dir."""
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # keep the JVMs' perf-data and temp files out of the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    tempfile.tempdir = tmp
    from geotiff_tiler_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Dderby.system.home={work_dir}",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop the context and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the launcher JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def load_pins(workload: str, size: str, seed: int) -> dict:
    path = os.path.join(HERE, "expected.json")
    if not os.path.exists(path):
        return {}
    with open(path) as fh:
        return json.load(fh).get(workload, {}).get(size, {}).get(str(seed), {})


def per_layer_metrics(tracer, result: dict, ctx) -> dict:
    from workloads import PER_LAYER

    spans = tracer.self_times()
    layer = result.get("layer", {})
    counts = result.get("counts", {})
    vals = {
        "session.get_spark.s": ctx.session_s,
        "setup.write_inputs.s": ctx.write_s,
        "spark.tasks": sum(c.get("tasks", 0) for c in counts.values()),
        "spark.failed_tasks": sum(c.get("failed_tasks", 0) for c in counts.values()),
        # traced minus untraced: everything in the traced pass that is not
        # one of the operations the untraced pass also runs
        "trace.overhead_s": spans.get("pass", 0.0) + tracer.duration("replay"),
    }
    out = {}
    for name, unit in PER_LAYER:
        if name in vals:
            v = vals[name]
        elif name in layer:
            v = layer[name]
        elif name.endswith(".s"):
            v = spans.get(name[:-2], 0.0)
        else:
            v = 0
        out[name] = {"value": v, "unit": unit}
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="default", help="input size profile (default, tiny)")
    ap.add_argument("--corrupt", action="append", default=[],
                    help="add 1 to this expected count, to prove the check fires")
    args = ap.parse_args(argv)

    # fail fast, before any Spark start, when the engine is not importable
    sys.path.insert(0, ROOT)
    import geotiff_tiler_spark  # noqa: F401
    from tracing import JobCounter, RssSampler, Tracer
    from workloads import WORKLOADS, Ops

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    cpus = nproc()
    load_before = os.getloadavg()
    os.makedirs(OUT, exist_ok=True)
    work_dir = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=OUT)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work_dir, cpus)
        session_s = time.perf_counter() - t0
        tracer = Tracer(enabled=False)
        ctx = SimpleNamespace(
            spark=spark, work_dir=work_dir, nproc=cpus, seed=args.seed, tracer=tracer,
            jobs=JobCounter(spark.sparkContext), corrupt=set(args.corrupt),
            pinned=load_pins(args.workload, args.size, args.seed), session_s=session_s,
        )
        wl = WORKLOADS[args.workload](ctx, args.size)

        t = time.perf_counter()
        wl.write_inputs()
        write_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.load()
        check_prep_s = time.perf_counter() - t
        # set-up's own Spark jobs are the warm-up: they start the JIT and
        # the Python workers before the first timed pass
        setup_s = session_s + write_s
        ctx.write_s = write_s
        log(f"setup {setup_s:.2f}s (session {session_s:.2f}, write {write_s:.2f}, oracles {check_prep_s:.2f})")

        ops = Ops(spark, log)
        passes = []
        if args.trace:
            tracer.enabled = True
            t = time.perf_counter()
            with RssSampler() as rss, tracer.span("pass"):
                result = wl.run_pass(ops, 0, traced=True)
            result["wall"] = time.perf_counter() - t
            result.setdefault("layer", {})["process.peak_rss_mb"] = rss.peak / 2**20
            passes.append(result)
            tracer.write(os.path.join(OUT, f"spans-{args.workload}-{tracer.run_id}.jsonl"))
            metrics = per_layer_metrics(tracer, result, ctx)
        else:
            # closed loop: passes back to back until --seconds is used up
            # (at least one); a pass that would not fit is not started
            start = time.perf_counter()
            while True:
                t = time.perf_counter()
                result = wl.run_pass(ops, len(passes))
                result["wall"] = time.perf_counter() - t
                passes.append(result)
                log(f"pass {len(passes)}: {result['wall']:.2f}s ops "
                    + json.dumps({k: round(v, 2) for k, v in result["ops"].items()}))
                if time.perf_counter() - start + result["wall"] > args.seconds:
                    break
            metrics = {
                "setup_s": setup_s,
                "pass_s": statistics.median(p["wall"] for p in passes),
                "rows_per_s": statistics.median(p["rows"] / p["wall"] for p in passes),
            }
            metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in metrics.items()}

        detail = {
            k: statistics.median(p["detail"][k] for p in passes) for k in passes[0]["detail"]
        }
        detail["failed_op_share"] = ops.failed / max(ops.attempted, 1)
        for k, v in detail.items():
            print(f"# {k} = {v:.6g} {DETAIL_UNITS.get(k, 'ratio')}")
        record = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace, "size": args.size,
            "nproc": cpus, "commit": git_commit(), "loadavg_before": load_before,
            "loadavg_after": os.getloadavg(), "passes": len(passes), "metrics": metrics,
            "detail": detail, "ops": [p["ops"] for p in passes], "errors": ops.errors,
            "values": wl.first_values,
            "setup": {"session_s": session_s, "write_s": write_s, "oracle_s": check_prep_s},
        }
        with open(os.path.join(OUT, "runs.jsonl"), "a") as fh:
            fh.write(json.dumps(record, default=str) + "\n")
        print(json.dumps({
            "correct": ops.failed == 0,
            "attempted": ops.attempted,
            "failed": ops.failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
