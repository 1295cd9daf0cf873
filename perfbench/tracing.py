"""Spans, Spark job counters and a /proc RSS sampler for the benchmark.

Everything here is the benchmark's own instrumentation: spans wrap calls
into the engine's public functions from outside; nothing inside the engine
is patched.
"""

from __future__ import annotations

import json
import os
import threading
import time
import uuid
from contextlib import contextmanager


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written at the end.

    `enabled=False` turns `span` into a plain timer that records nothing, so
    the untraced runs pay no bookkeeping.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def duration(self, name: str) -> float:
        """Total wall time of every span with this name."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the time its children cover.

        Children of one span run sequentially on the driver thread, so their
        intervals do not overlap and the covered time is their summed length.
        """
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - child_time[i]
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


class JobCounter:
    """Spark jobs / tasks / failed tasks per call, via job groups.

    Reads `statusTracker()`, which works with the UI disabled. Counts are
    read right after each call, before the retained-jobs limit can evict
    anything.
    """

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()
        self._n = 0

    @contextmanager
    def group(self, out: dict):
        self._n += 1
        gid = f"perfbench-{self._n}"
        self.sc.setJobGroup(gid, gid)
        try:
            yield
        finally:
            self.sc.setJobGroup("perfbench-idle", "perfbench-idle")
            jobs = self.tracker.getJobIdsForGroup(gid)
            tasks = failed = 0
            for j in jobs:
                info = self.tracker.getJobInfo(j)
                for sid in info.stageIds if info else ():
                    st = self.tracker.getStageInfo(sid)
                    if st:
                        tasks += st.numTasks
                        failed += st.numFailedTasks
            out.update(jobs=len(jobs), tasks=tasks, failed_tasks=failed)


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the driver
    JVM and the Python workers it forks), sampled from /proc."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_rss_bytes(p) for p in _descendants(me))
            self.peak = max(self.peak, total)
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
