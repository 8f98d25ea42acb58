"""Measurement from outside the program: spans, Spark event logs, /proc.

Nothing here reaches into ``servico_ocr_spark``. Spans wrap the
benchmark's own calls into the program's public functions; Spark's event
log and ``/proc`` supply what happens inside the JVM and its Python
workers.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from pathlib import Path

#: Spark local property that tags every job with the span that ran it
SPAN_PROPERTY = "perfbench.span"

_CLK_TCK = os.sysconf("SC_CLK_TCK")


class Tracer:
    """In-memory spans; written out once, when the run ends.

    A span records its name, start, end, parent and the run id shared by
    all spans of one pass. When given a SparkContext, the span id is set
    as a local property, so the event log ties each job to its span."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, run_id: str, sc=None):
        sid = len(self.spans)
        parent = self._open[-1] if self._open else None
        rec = {"id": sid, "name": name, "run_id": run_id, "parent": parent,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._open.append(sid)
        if sc is not None:
            sc.setLocalProperty(SPAN_PROPERTY, str(sid))
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._open.pop()
            if sc is not None:
                sc.setLocalProperty(
                    SPAN_PROPERTY, None if parent is None else str(parent)
                )

    def wall(self, sid: int) -> float:
        s = self.spans[sid]
        return s["end"] - s["start"]

    def self_time(self, sid: int) -> float:
        """Span duration minus the part of it its children cover."""
        s = self.spans[sid]
        covered = union_length(
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in self.spans if c["parent"] == sid
        )
        return (s["end"] - s["start"]) - covered

    def subtree(self, sid: int) -> set[int]:
        out, todo = set(), [sid]
        while todo:
            cur = todo.pop()
            out.add(cur)
            todo.extend(c["id"] for c in self.spans if c["parent"] == cur)
        return out

    def dump(self, path: Path) -> None:
        rows = [dict(s, self_s=self.self_time(s["id"])) for s in self.spans]
        path.write_text(json.dumps(rows, indent=1))


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


def event_log_files(log_dir: Path) -> list[Path]:
    """The event-log files under ``log_dir``: one uncompressed JSON-lines
    file per application, as ``start_spark`` asks Spark to write them
    (``spark.eventLog.compress=false``, ``spark.eventLog.rolling.enabled=
    false``). Anything else there, a compressed file or a rolling-log
    directory, raises instead of being skipped."""
    files = sorted(log_dir.iterdir())
    for f in files:
        if not f.is_file() or f.suffix in (".zstd", ".lz4", ".snappy", ".lzf"):
            raise ValueError(
                f"unexpected event log {f.name}: run with "
                "spark.eventLog.compress=false and "
                "spark.eventLog.rolling.enabled=false"
            )
    return files


def read_events(log_dir: Path) -> list[dict]:
    events = []
    for f in event_log_files(log_dir):
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def _num(value) -> float:
    try:
        return float(value)
    except (TypeError, ValueError):
        return 0.0


class EventLog:
    """Jobs, stages and tasks of one application, keyed by span id."""

    def __init__(self, events: list[dict]) -> None:
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        # SQL metrics kept outside tasks (e.g. a scan's "size of files read")
        # arrive as bare accumulator ids; the plan info names them
        self.exec_span: dict[int, str] = {}
        self.acc_names: dict[int, str] = {}
        self.plan_acc: dict[int, dict[str, float]] = {}
        updates = []
        for e in events:
            kind = e.get("Event", "")
            if kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                self._name_accumulators(e.get("sparkPlanInfo") or {})
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                updates.append(e)
            elif kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                if props.get("spark.sql.execution.id") and props.get(SPAN_PROPERTY):
                    self.exec_span[int(props["spark.sql.execution.id"])] = props[SPAN_PROPERTY]
                infos = e.get("Stage Infos", [])
                result = max(infos, key=lambda s: s["Stage ID"], default=None)
                self.jobs[e["Job ID"]] = {
                    "span": props.get(SPAN_PROPERTY),
                    "stages": list(e.get("Stage IDs", [])),
                    "name": result["Stage Name"] if result else "",
                    "start_ms": e.get("Submission Time"),
                    "end_ms": None,
                }
            elif kind == "SparkListenerJobEnd":
                job = self.jobs.get(e["Job ID"])
                if job is not None:
                    job["end_ms"] = e.get("Completion Time")
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                acc: dict[str, float] = {}
                for a in info.get("Accumulables", []):
                    name = a.get("Name")
                    if name:
                        acc[name] = acc.get(name, 0.0) + _num(a.get("Value"))
                stage = self._stage(info["Stage ID"])
                stage["name"] = info.get("Stage Name", "")
                stage["acc"] = acc
                # a cut is stored where it is computed: a persisted RDD
                # created by localCheckpoint, lazy or eager
                stage["cut_rdds"] = {
                    r["RDD ID"] for r in info.get("RDD Info", [])
                    if r.get("Callsite", "").startswith("localCheckpoint")
                    and (r.get("Storage Level", {}).get("Use Disk")
                         or r.get("Storage Level", {}).get("Use Memory"))}
            elif kind == "SparkListenerTaskEnd":
                m = e.get("Task Metrics") or {}
                stage = self._stage(e["Stage ID"])
                stage["task_run_ms"].append(_num(m.get("Executor Run Time")))
                stage["gc_ms"] += _num(m.get("JVM GC Time"))

        for e in updates:
            acc = self.plan_acc.setdefault(e["executionId"], {})
            for acc_id, value in e.get("accumUpdates", []):
                name = self.acc_names.get(acc_id)
                if name:
                    acc[name] = acc.get(name, 0.0) + _num(value)

    def _name_accumulators(self, node: dict) -> None:
        for m in node.get("metrics", []):
            self.acc_names[m["accumulatorId"]] = m["name"]
        for child in node.get("children", []):
            self._name_accumulators(child)

    def plan_metric(self, spans: set[int], name: str) -> float:
        keys = {str(s) for s in spans}
        return sum(acc.get(name, 0.0) for ex, acc in self.plan_acc.items()
                   if self.exec_span.get(ex) in keys)

    def _stage(self, sid: int) -> dict:
        return self.stages.setdefault(
            sid, {"name": "", "acc": {}, "task_run_ms": [], "gc_ms": 0.0,
                  "cut_rdds": set()}
        )

    def jobs_of(self, spans: set[int]) -> list[dict]:
        keys = {str(s) for s in spans}
        return [j for j in self.jobs.values() if j["span"] in keys]

    def stages_of(self, spans: set[int]) -> list[dict]:
        ids = {sid for j in self.jobs_of(spans) for sid in j["stages"]}
        # a stage skipped because its shuffle output was reused never
        # completes, so it has no entry
        return [self.stages[s] for s in sorted(ids) if s in self.stages]

    def metric(self, spans: set[int], name: str) -> float:
        return sum(s["acc"].get(name, 0.0) for s in self.stages_of(spans))

    def tasks(self, spans: set[int]) -> int:
        return sum(len(s["task_run_ms"]) for s in self.stages_of(spans))

    def cuts(self, spans: set[int]) -> tuple[int, float]:
        """``(cuts, seconds)``: lineage cuts materialized, and the wall of the
        jobs whose call site is ``localCheckpoint`` (eager cuts; a lazy cut
        is computed inside the job that first reads it)."""
        rdds = set().union(*(s["cut_rdds"] for s in self.stages_of(spans)))
        secs = sum(
            (j["end_ms"] - j["start_ms"]) / 1000.0 for j in self.jobs_of(spans)
            if j["name"].startswith("localCheckpoint")
            and j["start_ms"] is not None and j["end_ms"] is not None
        )
        return len(rdds), secs

    def job_wall(self, spans: set[int]) -> float:
        """Seconds during which at least one job of ``spans`` ran, by
        Spark's own clock (job submission to completion)."""
        return union_length(
            (j["start_ms"], j["end_ms"]) for j in self.jobs_of(spans)
            if j["start_ms"] is not None and j["end_ms"] is not None
        ) / 1000.0

    def python_stages(self, spans: set[int]) -> list[dict]:
        """Stages that ran a Python (``mapInPandas``) operator."""
        return [s for s in self.stages_of(spans)
                if "data sent to Python workers" in s["acc"]]


#: MapInPandas SQL metrics as Spark names them (sizes in bytes, times in ms)
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
PY_RUN_MS = "time to run Python workers"
PY_START_MS = "time to start Python workers"
SHUFFLE_WRITTEN = "internal.metrics.shuffle.write.bytesWritten"
RECORDS_READ = "internal.metrics.input.recordsRead"
SHUFFLE_RECORDS = "internal.metrics.shuffle.write.recordsWritten"
RECORDS_WRITTEN = "internal.metrics.output.recordsWritten"
SPILL_MEMORY = "internal.metrics.memoryBytesSpilled"
SPILL_DISK = "internal.metrics.diskBytesSpilled"
#: a file scan's SQL metric, kept outside tasks: bytes of the files it read
FILES_READ_BYTES = "size of files read"


# ---------------------------------------------------------------------------
# /proc
# ---------------------------------------------------------------------------


def _stat_fields(proc: Path, pid: int) -> list[str]:
    raw = (proc / str(pid) / "stat").read_text()
    # comm may hold spaces and parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def children_map(proc: Path = Path("/proc")) -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in proc.iterdir():
        if not entry.name.isdigit():
            continue
        try:
            ppid = int(_stat_fields(proc, int(entry.name))[1])
        except (OSError, ValueError, IndexError):
            continue  # exited while listing
        kids.setdefault(ppid, []).append(int(entry.name))
    return kids


def descendants(pid: int, proc: Path = Path("/proc")) -> list[int]:
    kids = children_map(proc)
    out, todo = [], list(kids.get(pid, []))
    while todo:
        cur = todo.pop()
        out.append(cur)
        todo.extend(kids.get(cur, []))
    return sorted(out)


def python_workers(jvm_pid: int, proc: Path = Path("/proc")) -> list[int]:
    """PySpark daemon and worker processes under the Spark JVM."""
    out = []
    for pid in descendants(jvm_pid, proc):
        try:
            cmd = (proc / str(pid) / "cmdline").read_bytes()
        except OSError:
            continue
        if b"pyspark" in cmd:
            out.append(pid)
    return out


def vm_hwm_mb(pid: int, proc: Path = Path("/proc")) -> float:
    """Peak resident set size (``VmHWM``) of one process, in MB."""
    for line in (proc / str(pid) / "status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")


def workers_vm_hwm_mb(workers: list[int], proc: Path = Path("/proc")) -> float:
    """The largest ``VmHWM`` among ``workers``; one that has exited since it
    was listed is skipped."""
    peak = 0.0
    for pid in workers:
        try:
            peak = max(peak, vm_hwm_mb(pid, proc))
        except (OSError, ValueError):
            continue  # exited, or a zombie with no memory left
    return peak


def cpu_seconds(pid: int, proc: Path = Path("/proc"),
                reaped_children: bool = False) -> float:
    """User + system CPU of one process; with ``reaped_children`` also the
    CPU of children it has already waited for (``cutime``/``cstime``)."""
    f = _stat_fields(proc, pid)
    ticks = int(f[11]) + int(f[12])
    if reaped_children:
        ticks += int(f[13]) + int(f[14])
    return ticks / _CLK_TCK


def workers_cpu_seconds(jvm_pid: int, proc: Path = Path("/proc")) -> float:
    total = 0.0
    for pid in python_workers(jvm_pid, proc):
        try:
            total += cpu_seconds(pid, proc, reaped_children=True)
        except (OSError, ValueError, IndexError):
            continue  # worker exited between listing and reading
    return total


def steal_seconds(proc: Path = Path("/proc")) -> float:
    """Machine-wide stolen CPU time so far (``/proc/stat`` cpu line)."""
    for line in (proc / "stat").read_text().splitlines():
        if line.startswith("cpu "):
            return int(line.split()[8]) / _CLK_TCK
    raise ValueError("no cpu line in /proc/stat")


def loadavg(proc: Path = Path("/proc")) -> list[float]:
    return [float(x) for x in (proc / "loadavg").read_text().split()[:3]]


def calibration_ms(loops: int = 200_000) -> float:
    """Median wall of five runs of a fixed single-thread Python loop: how
    fast this machine was at the moment, to explain a slow run."""

    def once() -> float:
        t0, x = time.perf_counter(), 0
        for i in range(loops):
            x += i * i % 7
        return (time.perf_counter() - t0) * 1000

    return statistics.median(once() for _ in range(5))


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def union_length(intervals) -> float:
    """Total length covered by ``(start, end)`` intervals, overlaps once."""
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100) of a non-empty list."""
    xs = sorted(values)
    rank = max(1, -(-len(xs) * q // 100))
    return xs[int(rank) - 1]


def tail_percentile(values: list[float], q: float) -> float | None:
    """``percentile(values, q)`` only where at least ten samples lie
    beyond it; ``None`` when the sample is too small to say."""
    if len(values) * (100 - q) / 100 < 10:
        return None
    return percentile(values, q)
