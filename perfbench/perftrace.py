"""Measurement helpers: span recorder, Spark status-store reader and a
process-tree peak-RSS sampler.

Nothing here changes what the engine computes. Spans are recorded by the
benchmark around its own calls into the engine; each span tags the Spark jobs
it launches with one job group, so executor time can be attributed to layers
afterwards from the JVM status store (no REST UI, no network).
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


# ---------------------------------------------------------------- spans ----
@dataclass
class Span:
    run_id: str
    name: str
    start: float
    end: float
    parent: int | None  # index of the enclosing span in SpanRecorder.spans

    @property
    def dur(self) -> float:
        return self.end - self.start


class SpanRecorder:
    """In-memory spans with one run id; the innermost open span owns the
    Spark job group, so every job is attributed to exactly one layer."""

    def __init__(self, sc, run_id: str, base_group: str):
        self.sc = sc
        self.run_id = run_id
        self.base_group = base_group
        self.spans: list[Span] = []
        self._open: list[tuple[int, str]] = []  # (index, name)

    def group(self, name: str) -> str:
        return f"{self.run_id}/{name}"

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._open[-1][0] if self._open else None
        self.spans.append(Span(self.run_id, name, time.perf_counter(), 0.0, parent))
        self._open.append((idx, name))
        self.sc.setJobGroup(self.group(name), name)
        try:
            yield
        finally:
            self.spans[idx].end = time.perf_counter()
            self._open.pop()
            outer = self.group(self._open[-1][1]) if self._open else self.base_group
            self.sc.setJobGroup(outer, outer)

    def layer_times(self) -> dict[str, dict[str, float]]:
        """Per span name: inclusive wall, self time (wall minus the part its
        direct children cover) and span count."""
        child_cover = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child_cover[s.parent] += s.dur
        out: dict[str, dict[str, float]] = {}
        for i, s in enumerate(self.spans):
            t = out.setdefault(s.name, {"wall_s": 0.0, "self_s": 0.0, "count": 0})
            t["wall_s"] += s.dur
            t["self_s"] += s.dur - child_cover[i]
            t["count"] += 1
        return out

    def unattributed_s(self, root: str) -> float:
        """Part of the root span's wall not covered by any direct child."""
        t = self.layer_times()
        return t[root]["self_s"] if root in t else 0.0

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f, indent=1)


# --------------------------------------------------------- status store ----
def _opt(o):
    return o.get() if o.isDefined() else None


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def executor_totals(sc, groups: set[str]) -> dict[str, dict[str, float]]:
    """Executor work per job group, read from the live AppStatusStore.

    Jobs are attributed by job group (broadcast and AQE stage jobs run on
    other JVM threads but inherit the caller's group); a stage shared by
    several jobs counts once, for the earliest job that lists it. Spark 4.1's
    ``stageList`` takes (statuses, details, withSummaries, quantiles,
    taskStatus)."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    jobs = []
    for j in _seq(store.jobsList(None)):
        g = _opt(j.jobGroup())
        if g in groups:
            jobs.append((j.jobId(), g, [int(x) for x in _seq(j.stageIds())]))
    jobs.sort()
    stage_group: dict[int, str] = {}
    out = {
        g: {"jobs": 0, "tasks": 0, "failed_tasks": 0, "run_s": 0.0,
            "cpu_s": 0.0, "shuffle_bytes": 0}
        for g in groups
    }
    for _, g, stage_ids in jobs:
        out[g]["jobs"] += 1
        for sid in stage_ids:
            stage_group.setdefault(sid, g)
    if not stage_group:
        return out
    gw = sc._gateway
    for st in _seq(store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)):
        g = stage_group.get(st.stageId())
        if g is None:
            continue
        o = out[g]
        o["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
        o["failed_tasks"] += st.numFailedTasks()
        o["run_s"] += st.executorRunTime() / 1e3
        o["cpu_s"] += st.executorCpuTime() / 1e9
        o["shuffle_bytes"] += st.shuffleWriteBytes()
    return out


# ------------------------------------------------------------------ RSS ----
def _children() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # exited while listing
            continue
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(d))
    return children


def descendants(root: int) -> list[int]:
    """Live descendant pids of ``root``."""
    children = _children()
    out, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _tree_pss_bytes(root: int) -> int:
    """Proportional set size summed over the tree: pages shared between
    forked Python workers count once in total, not once per worker."""
    total = 0
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:  # exited while sampling
            pass
    return total


class RssSampler:
    """Peak resident memory of this process and all its descendants (driver
    Python, the Spark JVM, Arrow Python workers), sampled from /proc by one
    thread at a fixed interval."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        root = os.getpid()
        while not self._stop.wait(self.interval_s):
            rss = _tree_pss_bytes(root)
            with self._lock:
                self.peak = max(self.peak, rss)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def reset(self) -> None:
        with self._lock:
            self.peak = 0

    def peak_mb(self) -> float:
        with self._lock:
            return self.peak / 2**20

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
