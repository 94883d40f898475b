"""Measurement pieces shared by the workloads.

- `Calls`: times every call the client makes into an engine module and, in
  a traced run, counts the Spark jobs, stages and tasks that call launched
  (one job group per call, read back through `statusTracker`).
- `Tracer`: in-memory spans (name, layer, start, end, parent, request id),
  written out when the run ends; self time = duration minus child cover.
- `RssSampler`: peak resident memory of this process and its descendants
  (the JVM and the Python workers), read from /proc.
- `summarize`: median plus the highest ladder percentile that still has at
  least ten samples beyond it.
"""

from __future__ import annotations

import itertools
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

import numpy as np

TAIL_LADDER = (99, 95, 90, 75, 50)
MIN_BEYOND = 10


def summarize(values: list[float]) -> dict:
    """Median and tail of `values`. The tail is the highest percentile of
    TAIL_LADDER with at least MIN_BEYOND samples above it (None if fewer
    than 2 * MIN_BEYOND samples exist)."""
    n = len(values)
    out = {"n": n, "p50": statistics.median(values) if values else None,
           "tail": None, "tail_pct": None}
    for p in TAIL_LADDER:
        if n * (100 - p) / 100 >= MIN_BEYOND:
            out["tail"] = float(np.percentile(values, p))
            out["tail_pct"] = p
            break
    return out


class Tracer:
    """Spans kept in memory; `enabled=False` makes every span a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._ids = itertools.count()

    @contextmanager
    def span(self, name: str, layer: str, req=None):
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        rec = {"id": sid, "name": name, "layer": layer, "req": req,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()
            self.spans.append(rec)

    def self_times(self) -> dict[int, float]:
        """span id -> duration minus the union of its children's intervals."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered = _union_s(kids.get(s["id"], []))
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str) -> None:
        self_s = self.self_times()
        for s in self.spans:
            s["self_s"] = self_s[s["id"]]
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _union_s(iv: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(iv):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Calls:
    """Per-call timing and (traced runs only) Spark job accounting.

    Every call into an engine layer goes through `call(layer, name)`; the
    yielded record gets `s` (wall seconds) and, when `account` is on,
    `jobs`, `stages`, `tasks` and `failed_tasks` of exactly the Spark work
    that call launched. A stage shared by two jobs (shuffle reuse) counts
    once, in the call that ran it; a skipped stage counts nowhere."""

    def __init__(self, spark, tracer: Tracer, account: bool):
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.account = account
        self.records: list[dict] = []
        self._gids = itertools.count()
        self._seen_stages: set[int] = set()
        self.account_s = 0.0  # time spent reading the counts back

    @contextmanager
    def call(self, layer: str, name: str, req=None):
        """`req`: the client request this call serves (default: a request
        of its own)."""
        if req is None:
            req = f"c{len(self.records)}"
        rec = {"layer": layer, "name": name, "req": req}
        gid = None
        if self.account:
            gid = f"perfbench-{next(self._gids)}"
            self.sc.setJobGroup(gid, f"{layer}.{name}")
        with self.tracer.span(name, layer, req):
            t0 = time.perf_counter()
            try:
                yield rec
            finally:
                rec["s"] = time.perf_counter() - t0
                if gid is not None:
                    t1 = time.perf_counter()
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    rec.update(self._count(gid))
                    self.account_s += time.perf_counter() - t1
                self.records.append(rec)

    def _count(self, gid: str) -> dict:
        # the status store is fed by the listener bus: drain it so every
        # job of this group (and its final task counts) is visible
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(gid)
        stages = tasks = failed = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in list(info.stageIds) if info else []:
                si = st.getStageInfo(sid)
                if si is None or sid in self._seen_stages:
                    continue
                ran = si.numCompletedTasks + si.numFailedTasks
                if ran == 0:
                    continue
                self._seen_stages.add(sid)
                stages += 1
                tasks += ran
                failed += si.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks,
                "failed_tasks": failed}

    def of(self, layer: str, name: str | None = None) -> list[dict]:
        return [r for r in self.records
                if r["layer"] == layer and (name is None or r["name"] == name)]


def speed_probe() -> float:
    """Millions of simple Python loop steps per second over ~0.1 s: a
    reading of how much CPU the box delivered around the timed loop (this
    VM has slow phases that loadavg and steal time do not show)."""
    done = 0
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < 0.1:
        x = 0
        for i in range(10_000):
            x += i & 7
        done += 10_000
    return done / (time.perf_counter() - t0) / 1e6


def _tree_rss_bytes(root: int) -> int:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler:
    """Samples the process tree's summed RSS every `interval` seconds on a
    daemon thread; `stop()` joins it and returns the peak in MiB."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(me))
            self._stop.wait(self.interval)

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))
        return self.peak / (1 << 20)


class Ops:
    """Attempted and failed client operations. A call that raises counts as
    failed (its traceback goes to stderr) and the run goes on; a retry is
    another attempt. Wrong answers found by the checks are added with
    `wrong()`."""

    def __init__(self, calls: Calls):
        self.calls = calls
        self.attempted = 0
        self.failed = 0

    def do(self, layer: str, name: str, fn, req=None, retries: int = 0):
        """Returns (result, call record); result is None if every attempt failed."""
        import sys
        import traceback

        for _ in range(retries + 1):
            self.attempted += 1
            try:
                with self.calls.call(layer, name, req) as rec:
                    return fn(), rec
            except Exception:  # the benchmark keeps running and reports it
                self.failed += 1
                traceback.print_exc(file=sys.stderr)
        return None, self.calls.records[-1]

    def wrong(self, n: int = 1) -> None:
        self.failed += n
