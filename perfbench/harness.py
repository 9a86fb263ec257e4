"""Measurement plumbing shared by every workload: spans and self time,
Spark status-store aggregation per job group, process-tree memory sampling
and metric-name validation.

Everything here measures from outside the package: spans wrap the
benchmark's own calls into package functions, and Spark's counters come
from its status store. Nothing in this module imports the package.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

#: the benchmark contract's metric-name rule
METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def check_metric_names(names) -> None:
    """Raise ValueError naming every metric that breaks the name rule."""
    bad = sorted(n for n in names if not METRIC_NAME.fullmatch(n))
    if bad:
        raise ValueError(f"invalid metric names: {bad}")


# --- spans --------------------------------------------------------------------


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


class Tracer:
    """In-memory spans around the benchmark's calls into each layer.

    A disabled tracer records nothing and costs one branch per span, so
    the timed (untraced) passes and the traced pass run the same code.
    """

    def __init__(self, run_id: str, enabled: bool = True) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        span_id = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(span_id, name, time.perf_counter(), 0.0, parent, self.run_id)
        self.spans.append(s)
        self._stack.append(span_id)
        try:
            yield
        finally:
            self._stack.pop()
            s.end = time.perf_counter()

    def add(self, name: str, start: float, end: float, parent: int | None = None) -> None:
        """Record a span measured elsewhere (e.g. in a Spark worker)."""
        if self.enabled:
            self.spans.append(Span(len(self.spans), name, start, end, parent, self.run_id))

    def current(self) -> int | None:
        return self._stack[-1] if self._stack else None

    def dump(self, path: str, extra: dict | None = None) -> None:
        spans = [asdict(s) for s in self.spans]
        selfs = self_times(self.spans)
        for d in spans:
            d["self_s"] = selfs[d["span_id"]]
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": spans, **(extra or {})}, f, indent=1)


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover.

    Children may overlap each other (parallel worker spans under one
    driver span); the union is subtracted once, clipped to the parent.
    """
    children: dict[int, list[tuple[float, float]]] = {}
    by_id = {s.span_id: s for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in by_id:
            p = by_id[s.parent]
            lo, hi = max(s.start, p.start), min(s.end, p.end)
            if hi > lo:
                children.setdefault(s.parent, []).append((lo, hi))
    return {
        s.span_id: (s.end - s.start) - _covered(children.get(s.span_id, []))
        for s in spans
    }


# --- Spark status store ------------------------------------------------------

#: status-store StageData accessor → (metric name, scale to the metric unit)
STAGE_FIELDS = {
    "numTasks": ("tasks", 1),
    "executorRunTime": ("executor_run_s", 1e-3),  # ms
    "executorCpuTime": ("executor_cpu_s", 1e-9),  # ns
    "jvmGcTime": ("gc_s", 1e-3),  # ms
    "shuffleReadBytes": ("shuffle_read_bytes", 1),
    "shuffleWriteBytes": ("shuffle_write_bytes", 1),
    "diskBytesSpilled": ("spill_bytes", 1),
    "inputBytes": ("input_bytes", 1),
    "inputRecords": ("input_records", 1),
    "outputBytes": ("output_bytes", 1),
}
STAGE_METRICS = [name for name, _ in STAGE_FIELDS.values()]


def aggregate_jobs(
    job_ids: list[int],
    stage_ids_by_job: dict[int, list[int]],
    stage_metrics: dict[int, dict[str, float]],
) -> dict[str, float]:
    """Sum stage metrics over the jobs of one job group.

    A stage shared by several jobs (a reused shuffle) is counted once;
    a stage without metrics (skipped, or evicted from the store) adds
    nothing.
    """
    out = {"jobs": float(len(job_ids))}
    out.update({m: 0.0 for m in STAGE_METRICS})
    seen: set[int] = set()
    for j in job_ids:
        for sid in stage_ids_by_job.get(j, []):
            if sid in seen or sid not in stage_metrics:
                continue
            seen.add(sid)
            for m in STAGE_METRICS:
                out[m] += stage_metrics[sid].get(m, 0.0)
    return out


class StatusStore:
    """Reads job and stage metrics for job groups from Spark's
    ``AppStatusStore`` (populated with the UI disabled)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def totals(self, groups: list[str]) -> dict[str, float]:
        from py4j.protocol import Py4JJavaError

        job_ids = [j for g in groups for j in self.job_ids(g)]
        stage_ids_by_job: dict[int, list[int]] = {}
        stage_metrics: dict[int, dict[str, float]] = {}
        for j in job_ids:
            try:
                seq = self.store.job(j).stageIds()
            except Py4JJavaError:  # job evicted from the store
                continue
            sids = [seq.apply(i) for i in range(seq.size())]
            stage_ids_by_job[j] = sids
            for sid in sids:
                if sid in stage_metrics:
                    continue
                try:
                    st = self.store.lastStageAttempt(sid)
                except Py4JJavaError:  # skipped stage: no attempt
                    continue
                stage_metrics[sid] = {
                    name: float(getattr(st, field)()) * scale
                    for field, (name, scale) in STAGE_FIELDS.items()
                }
        return aggregate_jobs(job_ids, stage_ids_by_job, stage_metrics)


# --- memory ------------------------------------------------------------------


def _tree_pids(root: int) -> set[int]:
    """``root`` and all its descendants: the driver Python process, the
    JVM it launched, and the JVM's Python workers."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        parent[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree = {root}
    grew = True
    while grew:
        grew = False
        for pid, ppid in parent.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    return tree


def _tree_pss_bytes(root: int) -> int:
    """Summed proportional set size of the process tree under ``root``.

    PSS rather than RSS: the Python workers are forked from one daemon
    and share most of their pages, which a sum of RSS counts once per
    worker.
    """
    total = 0
    for pid in _tree_pids(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class MemorySampler:
    """Background sampler of the process tree's summed PSS; ``peak``
    covers only the windows between ``resume`` and ``pause``."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self._active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            if self._active.is_set():
                self.peak = max(self.peak, _tree_pss_bytes(os.getpid()))

    def resume(self) -> None:
        self._active.set()

    def pause(self) -> None:
        if self._active.is_set():
            self.peak = max(self.peak, _tree_pss_bytes(os.getpid()))
        self._active.clear()

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# --- small statistics --------------------------------------------------------


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def half_delivered_at(puts: list[dict], n_records: int) -> float:
    """End time of the put call that brought the delivered records to at
    least half of ``n_records``: the delivery time of the median record.

    ``puts`` are put-call spans with ``end``, ``records`` and ``failed``
    (records the call did not deliver). If half is never reached, the
    end of the last call.
    """
    delivered = 0
    for p in sorted(puts, key=lambda p: p["end"]):
        delivered += p["records"] - p["failed"]
        if 2 * delivered >= n_records:
            return p["end"]
    return max((p["end"] for p in puts), default=float("nan"))
