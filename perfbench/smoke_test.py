"""Smoke test of the benchmark at the tiny input size (a few minutes).

    python3 perfbench/smoke_test.py

Asserts that every metric BENCHMARK.json names is printed with its unit,
that a clean run passes every output check, that a deliberately corrupted
expected count shows up as a failed operation, and that the benchmark
fails without printing a result when the engine is missing.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(cwd: str, workload: str, trace: int, *extra: str) -> tuple[int, dict | None]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    try:
        return proc.returncode, json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return proc.returncode, None


def check_metrics(result: dict, spec: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    assert result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want, (sorted(set(got) ^ set(want)), got, want)
    for k, v in result["metrics"].items():
        assert isinstance(v["value"], (int, float)), (k, v)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    from workloads import PER_LAYER

    assert [m["name"] for m in bench["per_layer"]] == [n for n, _ in PER_LAYER]
    corrupt = {"tile_resume": "quarantine", "join_curation": "pib"}
    for w in bench["workloads"]:
        name = w["name"]
        code, res = run(ROOT, name, 0)
        assert code == 0 and res is not None, (name, code)
        check_metrics(res, bench["end_to_end"])
        assert res["correct"] and res["failed"] == 0, (name, res)
        for m in res["metrics"].values():
            assert m["value"] > 0, (name, res)
        code, res = run(ROOT, name, 1, "--corrupt", corrupt[name])
        assert code == 0 and res is not None, (name, code)
        check_metrics(res, bench["per_layer"])
        assert res["failed"] >= 1 and not res["correct"], (name, res)
        print(f"ok {name}", flush=True)

    # without the engine next to it the benchmark must fail and print no result
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    bare = tempfile.mkdtemp(prefix="bare-", dir=os.path.join(HERE, "out"))
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("out", "__pycache__"))
        code, res = run(bare, "tile_resume", 0)
        assert code != 0 and res is None, (code, res)
    finally:
        shutil.rmtree(bare)
    print("ok bare checkout fails")
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
