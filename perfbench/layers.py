"""Per-layer measurement for the benchmark, all from outside the package.

- ``Tracer`` keeps spans (name, start, end, parent, run id) in memory.
- ``ProcTree`` reads ``/proc`` for the Spark JVM and every process under
  it (the PySpark daemon and its forked Python workers): CPU ticks,
  proportional resident memory, and how many Python workers are alive.
- ``StreamProgress`` is a ``StreamingQueryListener`` that keeps each
  micro-batch's progress.
- ``fold_event_log`` reads Spark's JSON event log and folds the job and
  stage counters into per-pass layer totals.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager
from datetime import datetime

_HZ = os.sysconf("SC_CLK_TCK")


class Tracer:
    """Spans kept in memory; ``enabled=False`` makes ``span`` a no-op."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def add(self, name: str, start: float, end: float, parent: int | None) -> None:
        self.spans.append({
            "id": len(self.spans), "name": name, "start": start, "end": end,
            "parent": parent, "run": self.run_id,
        })

    def covering(self, t: float, prefix: str) -> dict | None:
        """The innermost closed span whose name starts with ``prefix``
        and whose interval holds ``t``."""
        best = None
        for s in self.spans:
            if s["name"].startswith(prefix) and s["end"] is not None and s["start"] <= t <= s["end"]:
                if best is None or s["start"] >= best["start"]:
                    best = s
        return best


def _stat(pid: int) -> tuple[int, str, int] | None:
    """(ppid, comm, own cpu ticks)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    lp, rp = raw.index("("), raw.rindex(")")
    rest = raw[rp + 2:].split()
    # rest[0] is field 3 (state); utime and stime are fields 14-15
    return int(rest[1]), raw[lp + 1:rp], int(rest[11]) + int(rest[12])


def _pss(pid: int) -> int:
    """Proportional set size in bytes: resident pages, each shared page
    divided among the processes that map it. Plain RSS would count the
    pages a forked worker shares with the daemon, or a short-lived fork
    of the JVM shares with it, once per process."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _is_python(comm: str) -> bool:
    return comm.startswith("python")


class ProcTree:
    """The process tree under ``root_pid``, sampled in a background
    thread for CPU, peak memory (as proportional set size) and the most
    Python workers alive at once. A Python worker is a Python process whose parent is also
    Python (forked from the PySpark daemon).

    CPU is the sum of each process's own CPU as last seen, over every
    process seen under the tree. The daemon lets the kernel reap its
    workers, so their time never reaches a parent's child-CPU counters;
    what a process spends after its last sample (at most one sampling
    interval) is missed."""

    def __init__(self, root_pid: int, interval_s: float = 0.1, pss_every: int = 3) -> None:
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.pss_every = pss_every  # memory is dearer to read than CPU
        self._n = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self.peak_pss_bytes = 0
        self.worker_peak = 0
        self._ticks: dict[int, tuple[bool, int]] = {}  # pid -> (python?, own ticks)

    def snapshot(self) -> dict[int, tuple[int, str, int]]:
        stats = {}
        for d in os.listdir("/proc"):
            if d.isdigit() and (st := _stat(int(d))) is not None:
                stats[int(d)] = st
        kids: dict[int, list[int]] = {}
        for pid, st in stats.items():
            kids.setdefault(st[0], []).append(pid)
        tree, todo = {}, [self.root_pid]
        while todo:
            pid = todo.pop()
            if pid in stats:
                tree[pid] = stats[pid]
                todo.extend(kids.get(pid, ()))
        with self._lock:
            for pid, st in tree.items():
                seen = self._ticks.get(pid, (False, 0))[1]
                self._ticks[pid] = (_is_python(st[1]), max(seen, st[2]))
        return tree

    def cpu_s(self, python_only: bool = False) -> float:
        """CPU seconds of every process seen so far (or of the Python ones)."""
        self.snapshot()
        with self._lock:
            ticks = [t for py, t in self._ticks.values() if py or not python_only]
        return sum(ticks) / _HZ

    def _sample(self) -> None:
        tree = self.snapshot()
        workers = sum(
            1 for st in tree.values()
            if _is_python(st[1]) and st[0] in tree and _is_python(tree[st[0]][1])
        )
        self._n += 1
        pss = sum(_pss(pid) for pid in tree) if self._n % self.pss_every == 0 else 0
        with self._lock:
            self.peak_pss_bytes = max(self.peak_pss_bytes, pss)
            self.worker_peak = max(self.worker_peak, workers)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def start(self) -> None:
        self._sample()
        self._thread = threading.Thread(target=self._loop, name="proc-sampler", daemon=True)
        self._thread.start()

    def reset_peak_pss(self) -> int:
        with self._lock:
            peak, self.peak_pss_bytes = self.peak_pss_bytes, 0
        return peak

    def reset_worker_peak(self) -> int:
        with self._lock:
            peak, self.worker_peak = self.worker_peak, 0
        return peak

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)


def stream_listener(batches: list[dict]):
    """A ``StreamingQueryListener`` that appends each micro-batch's
    start time and phase durations to ``batches``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamProgress(StreamingQueryListener):
        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
            batches.append({"start": start, "batch_id": p.batchId, "ms": dict(p.durationMs)})

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return StreamProgress()


# stage accumulable -> (layer metric, scale to the metric's unit)
_STAGE_COUNTERS = {
    "internal.metrics.executorRunTime": ("jvm.executor_run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("jvm.executor_cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("jvm.gc_s", 1e-3),
    "internal.metrics.diskBytesSpilled": ("jvm.spill_bytes", 1),
    "internal.metrics.input.bytesRead": ("io.input_bytes", 1),
    "internal.metrics.input.recordsRead": ("io.input_records", 1),
    "internal.metrics.output.bytesWritten": ("io.output_bytes", 1),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle.write_bytes", 1),
    "internal.metrics.shuffle.write.writeTime": ("shuffle.write_s", 1e-9),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle.read_bytes", 1),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle.read_bytes", 1),
    "internal.metrics.shuffle.read.fetchWaitTime": ("shuffle.fetch_wait_s", 1e-3),
}
STAGE_METRICS = sorted({m for m, _ in _STAGE_COUNTERS.values()})
JOB_METRICS = ["plans.build_jobs", "exec.jobs", "exec.stages", "exec.tasks"]


def _read_events(log_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isfile(path):
            with open(path) as f:
                events.extend(json.loads(line) for line in f if line.strip())
    return events


def fold_event_log(log_dir: str, tracer: Tracer, passes: list[dict]) -> list[dict]:
    """Per timed pass, the job/stage counters of every stage and job
    submitted inside it. A job's phase comes from the job group the
    benchmark set (``build:<slot>`` or ``exec:<slot>``); jobs Spark
    starts on its own threads (streaming micro-batches) carry no such
    group and take the phase of the benchmark span they ran inside."""
    totals = [dict.fromkeys(STAGE_METRICS + JOB_METRICS, 0.0) for _ in passes]

    def where(t_ms: float, group: str | None) -> tuple[int | None, str | None]:
        t = t_ms / 1000.0
        idx = next((i for i, p in enumerate(passes) if p["start"] <= t <= p["end"]), None)
        if group and ":" in group and group.split(":", 1)[0] in ("build", "exec"):
            return idx, group.split(":", 1)[0]
        span = tracer.covering(t, "plans.build") or tracer.covering(t, "exec.run")
        phase = None if span is None else ("build" if span["name"] == "plans.build" else "exec")
        return idx, phase

    submitted: dict[int, str | None] = {}
    for ev in _read_events(log_dir):
        kind = ev.get("Event")
        props = ev.get("Properties") or {}
        if kind == "SparkListenerJobStart":
            idx, phase = where(ev["Submission Time"], props.get("spark.jobGroup.id"))
            if idx is not None and phase is not None:
                totals[idx]["plans.build_jobs" if phase == "build" else "exec.jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            submitted[ev["Stage Info"]["Stage ID"]] = props.get("spark.jobGroup.id")
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if "Submission Time" not in info:
                continue
            idx, phase = where(info["Submission Time"], submitted.get(info["Stage ID"]))
            if idx is None:
                continue
            t = totals[idx]
            if phase == "exec":
                t["exec.stages"] += 1
                t["exec.tasks"] += info["Number of Tasks"]
            for acc in info.get("Accumulables", []):
                hit = _STAGE_COUNTERS.get(acc.get("Name"))
                if hit is not None:
                    t[hit[0]] += float(acc["Value"]) * hit[1]
    return totals
