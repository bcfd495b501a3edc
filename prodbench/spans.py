"""Spans, layer wrappers and Spark stage metrics for the benchmark.

A span is recorded around each call into a layer (name, start, end,
parent span, the operation it belongs to).  Spans stay in memory and are
written once, when the run ends.  Each span runs its Spark jobs under
its own job group, so the stage metrics the Spark UI's REST API reports
per job can be attached to exactly one span — the innermost one open
when the job ran.

Layers are wrapped from here, by replacing module attributes: the
program itself carries no tracing code.
"""

from __future__ import annotations

import functools
import json
import math
import os
import sys
import threading
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager
from urllib.parse import urlparse

GROUP_KEY = "spark.jobGroup.id"
PACKAGE = "curw_mike_data_handler_spark"


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def tail_percentile(samples: list[float], beyond: int = 10) -> tuple[int, float] | None:
    """The highest whole percentile that leaves at least ``beyond``
    samples above it, by nearest rank: ``(p, value)``.  ``None`` when
    there are too few samples for any percentile to qualify."""
    n = len(samples)
    if n <= beyond:
        return None
    p = 100 * (n - beyond) // n
    rank = max(1, math.ceil(p * n / 100))
    return p, sorted(samples)[rank - 1]


def p50(samples: list[float], unit: str = "s") -> dict:
    """A timing's median, unit and sample count, as the summary prints it."""
    return {"value": median(samples), "unit": unit, "samples": len(samples)}


def tail(samples: list[float], unit: str = "s") -> dict:
    """A timing's tail percentile (see ``tail_percentile``), or why there is none."""
    t = tail_percentile(samples)
    if t is None:
        return {"value": None, "unit": unit, "samples": len(samples), "why": "needs more than ten samples"}
    return {"value": t[1], "unit": unit, "samples": len(samples), "percentile": t[0]}


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → its duration minus the part its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - covered(children[s["id"]], s["start"], s["end"])
        for s in spans
    }


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory span recorder.  ``active`` is False outside traced
    operations: wrappers then call straight through.

    ``overhead`` maps an operation to the time it spent on tracing alone:
    each span's own set-up and tear-down, plus the work only a traced
    operation does (``bookkeeping()`` blocks)."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.active = False
        self.op: int | None = None
        self.overhead: dict[int | None, float] = defaultdict(float)
        self._booking = 0  # open bookkeeping blocks: their time is counted once

    @contextmanager
    def span(self, name: str):
        entered = time.perf_counter()
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self.stack[-1] if self.stack else None,
            "op": self.op,
            "group": f"span-{sid}",
        }
        self.spans.append(rec)
        self.stack.append(sid)
        prev = self.sc.getLocalProperty(GROUP_KEY)
        self.sc.setLocalProperty(GROUP_KEY, rec["group"])
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self.sc.setLocalProperty(GROUP_KEY, prev)
            self.stack.pop()
            if not self._booking:
                self.overhead[self.op] += (rec["start"] - entered) + (time.perf_counter() - rec["end"])

    @contextmanager
    def bookkeeping(self):
        """Charge the block's wall to this operation's tracing overhead."""
        t0 = time.perf_counter()
        self._booking += 1
        try:
            yield
        finally:
            self._booking -= 1
            if not self._booking:
                self.overhead[self.op] += time.perf_counter() - t0

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def instrument(self, targets: list[tuple[str, object, str]]) -> None:
        """Wrap each ``(span name, owner, attribute)``.  A module-level
        function is replaced in every package module that imported it,
        so calls through any import path land in the wrapper.  A target
        the program no longer has is skipped: its layer reads 0."""
        for name, owner, attr in targets:
            orig = getattr(owner, attr, None)
            if orig is None:
                continue
            wrapped = self.wrap(name, orig)
            if isinstance(owner, type):
                setattr(owner, attr, wrapped)
                continue
            for mod in list(sys.modules.values()):
                if getattr(mod, "__name__", "").startswith(PACKAGE) and getattr(mod, attr, None) is orig:
                    setattr(mod, attr, wrapped)

    def attach(self, per_group: dict[str, dict]) -> None:
        """Attach each span's own Spark counts and its inclusive ones
        (its own plus its descendants')."""
        empty = dict.fromkeys(STAGE_FIELDS, 0)
        for s in self.spans:
            s["spark_self"] = dict(per_group.get(s["group"], empty))
            s["spark"] = dict(s["spark_self"])
        for s in reversed(self.spans):  # children are recorded after parents
            if s["parent"] is not None:
                acc = self.spans[s["parent"]]["spark"]
                for k, v in s["spark"].items():
                    acc[k] += v
        for sid, st in self_times(self.spans).items():
            self.spans[sid]["self_s"] = st

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(self.spans, fh)


# ---------------------------------------------------------------------------
# process CPU
# ---------------------------------------------------------------------------

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _proc_stat(pid: str) -> tuple[int, int]:
    """``(parent pid, CPU ticks)`` of one process; the ticks are its user
    and system time plus those of the children it has reaped."""
    with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
        stat = fh.read()
    fields = stat[stat.rindex(")") + 2 :].split()  # fields 3.. of proc(5)
    return int(fields[1]), sum(int(x) for x in fields[11:15])


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by process ``root`` and every live
    descendant (in local mode: the driver JVM, which runs the executors,
    and the Python workers it forks).  CPU time excludes steal."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                stats[int(name)] = _proc_stat(name)
            except (OSError, ValueError, IndexError):  # exited while listed
                pass
    children: dict[int, list[int]] = defaultdict(list)
    for pid, (ppid, _) in stats.items():
        children[ppid].append(pid)
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            ticks += stats[pid][1]
            todo.extend(children[pid])
    return ticks / CLK_TCK


# Median thread CPU time of ``loop_s()`` on the 4-core host the benchmark
# was built on (it read 1.1-1.9 ms as other tenants' load came and went)
REFERENCE_LOOP_S = 1.6e-3


def loop_s() -> float:
    """Thread CPU seconds of one fixed pure-Python loop."""
    t0 = time.thread_time()
    x = 0
    for i in range(20000):
        x += i * i
    return time.thread_time() - t0


class HostSpeed:
    """How fast the host runs a fixed piece of work, sampled through a
    run: a thread of its own times ``loop_s()`` every ``every`` seconds.

    On a shared host other tenants' load slows every thread (cores,
    caches and clock are shared), so the CPU seconds the same work takes
    rise and fall with it.  ``scale`` turns a window's CPU seconds into
    CPU seconds at a fixed host speed: it divides them by the median
    loop time sampled in that window and multiplies by
    ``REFERENCE_LOOP_S``.  The program's own threads slow the loop too,
    so a change that keeps more cores busy at once has part of its cost
    scaled away."""

    def __init__(self, every: float = 0.1):
        self.every = every
        self.samples: list[tuple[float, float]] = []  # (start, loop CPU seconds)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, name="host-speed", daemon=True)
        self._thread.start()

    def _sample(self) -> None:
        while not self._stop.wait(self.every):
            self.samples.append((time.perf_counter(), loop_s()))

    def scale(self, cpu_s: float, t0: float, t1: float) -> tuple[float, float]:
        """``(scaled CPU seconds, median loop seconds)`` of the window
        ``[t0, t1]`` in which this process and its children used
        ``cpu_s``; the sampler's own CPU in the window is taken out."""
        loops = [x for t, x in list(self.samples) if t0 <= t <= t1]
        speed = median(loops) if loops else loop_s()
        return (cpu_s - sum(loops)) * REFERENCE_LOOP_S / speed, speed

    def close(self) -> None:
        self._stop.set()
        self._thread.join()


# ---------------------------------------------------------------------------
# Spark stage metrics (UI REST API)
# ---------------------------------------------------------------------------

STAGE_FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "cpu_s",
    "run_s",
    "gc_s",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
    "output_mb",
)


def _rest(sc, path: str):
    port = urlparse(sc.uiWebUrl).port
    url = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def stage_metrics_by_group(sc, settle_s: float = 10.0) -> dict[str, dict]:
    """Job group → summed metrics of the stages its jobs ran.  A stage
    shared by several jobs (a reused shuffle) counts once, for the
    first job that listed it.  Waits until the UI has seen every job
    finish (its listener runs behind the scheduler)."""
    deadline = time.monotonic() + settle_s
    while True:
        jobs = _rest(sc, "jobs")
        running = [j for j in jobs if j["status"] == "RUNNING"]
        if not running or time.monotonic() > deadline:
            break
        time.sleep(0.1)
    stages = _rest(sc, "stages?status=complete")
    by_stage: dict[int, list[dict]] = defaultdict(list)
    for st in stages:
        by_stage[st["stageId"]].append(st)
    owner: dict[int, dict] = {}
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        for sid in j.get("stageIds", []):
            owner.setdefault(sid, j)
    out: dict[str, dict] = defaultdict(lambda: dict.fromkeys(STAGE_FIELDS, 0))
    for j in jobs:
        out[j.get("jobGroup")]["jobs"] += 1
    for sid, attempts in by_stage.items():
        job = owner.get(sid)
        if job is None:
            continue
        acc = out[job.get("jobGroup")]
        for st in attempts:
            acc["stages"] += 1
            acc["tasks"] += st.get("numCompleteTasks", 0)
            acc["cpu_s"] += st.get("executorCpuTime", 0) / 1e9
            acc["run_s"] += st.get("executorRunTime", 0) / 1e3
            acc["gc_s"] += st.get("jvmGcTime", 0) / 1e3
            acc["shuffle_read_mb"] += st.get("shuffleReadBytes", 0) / 1e6
            acc["shuffle_write_mb"] += st.get("shuffleWriteBytes", 0) / 1e6
            acc["spill_mb"] += (st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)) / 1e6
            acc["output_mb"] += st.get("outputBytes", 0) / 1e6
    return dict(out)
