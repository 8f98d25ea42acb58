"""Event-log and /proc readers, spans and percentiles, on hand-made inputs
shaped like what Spark 4.1 and Linux write."""

import json
from pathlib import Path

import pytest

import tracing
from layers import PER_LAYER

BENCHMARK = Path(__file__).resolve().parents[2] / "BENCHMARK.json"


def job_start(job, stages, span, name):
    return {"Event": "SparkListenerJobStart", "Job ID": job,
            "Submission Time": 1000 * job, "Stage IDs": stages,
            "Stage Infos": [{"Stage ID": s, "Stage Name": name} for s in stages],
            "Properties": {tracing.SPAN_PROPERTY: span,
                           "spark.sql.execution.id": str(job)}}


def stage_done(stage, name, acc, rdds=()):
    return {"Event": "SparkListenerStageCompleted",
            "Stage Info": {"Stage ID": stage, "Stage Name": name,
                           "RDD Info": [
                               {"RDD ID": rid, "Callsite": site,
                                "Storage Level": {"Use Disk": stored,
                                                  "Use Memory": stored}}
                               for rid, site, stored in rdds],
                           "Accumulables": [
                               {"ID": i, "Name": k, "Value": str(v)}
                               for i, (k, v) in enumerate(acc)]}}


CUT = "localCheckpoint at NativeMethodAccessorImpl.java:0"


def task_end(stage, run_ms, gc_ms):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Metrics": {"Executor Run Time": run_ms, "JVM GC Time": gc_ms,
                             "Memory Bytes Spilled": 0}}


EVENTS = [
    {"Event": "SparkListenerLogStart", "Spark Version": "4.1.0"},
    job_start(0, [0], "3", "save at NativeMethodAccessorImpl.java:0"),
    task_end(0, 100, 5), task_end(0, 300, 7),
    stage_done(0, "save at NativeMethodAccessorImpl.java:0", [
        (tracing.PY_SENT, 1000), (tracing.PY_RETURNED, 4000),
        (tracing.PY_RUN_MS, 250), (tracing.PY_START_MS, 20),
        ("number of output rows", 10), ("number of output rows", 5),
        ("records read", 777)]),
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 900},
    job_start(1, [1, 2], "4", "localCheckpoint at NativeMethodAccessorImpl.java:0"),
    task_end(1, 50, 0),
    stage_done(1, "localCheckpoint at NativeMethodAccessorImpl.java:0",
               [(tracing.SHUFFLE_WRITTEN, 64), (tracing.SPILL_DISK, 8)],
               # an eager cut, a lazy one, the same cut seen again, and
               # an unstored RDD that only shares the call site
               rdds=[(7, CUT, True), (9, CUT, True), (7, CUT, True),
                     (8, CUT, False), (10, "map at x.py:3", True)]),
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2500},
    job_start(2, [3], None, "collect at x.py:1"),
    stage_done(3, "collect at x.py:1", [("records read", 5)]),
    {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
     "executionId": 0, "sparkPlanInfo": {
         "nodeName": "MapInPandas", "metrics": [], "children": [{
             "nodeName": "Scan parquet", "children": [],
             "metrics": [{"name": tracing.FILES_READ_BYTES, "accumulatorId": 108},
                         {"name": "number of files read", "accumulatorId": 106}]}]}},
    {"Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
     "executionId": 0, "accumUpdates": [[106, 16], [108, 4091165]]},
    {"Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
     "executionId": 0, "accumUpdates": [[108, 5], [999, 7]]},
]


def write_log(path: Path, events) -> Path:
    path.write_text("".join(json.dumps(e) + "\n" for e in events))
    return path


def test_event_log_metrics_by_span(tmp_path):
    write_log(tmp_path / "local-1", EVENTS)
    ev = tracing.EventLog(tracing.read_events(tmp_path))
    assert ev.metric({3}, tracing.PY_SENT) == 1000
    assert ev.metric({3}, "number of output rows") == 15  # same-name metrics add
    assert ev.metric({3, 4}, "records read") == 777  # untagged job excluded
    # SQL metrics kept outside tasks: named from the plan, tied to the span through
    # the execution id of its jobs
    assert ev.plan_metric({3}, tracing.FILES_READ_BYTES) == 4091170
    assert ev.plan_metric({4}, tracing.FILES_READ_BYTES) == 0
    assert ev.tasks({3}) == 2
    assert [s["task_run_ms"] for s in ev.python_stages({3, 4})] == [[100, 300]]
    assert ev.stages[0]["gc_ms"] == 12
    # stage 2 was skipped (never completed): no entry, no error
    assert len(ev.stages_of({4})) == 1
    assert ev.cuts({3, 4}) == (2, 1.5)
    assert ev.metric({4}, tracing.SPILL_DISK) == 8
    # job walls by Spark's clock: 0-900 ms and 1000-2500 ms; span 5 ran no job
    assert ev.job_wall({3}) == pytest.approx(0.9)
    assert ev.job_wall({3, 4}) == pytest.approx(2.4)
    assert ev.job_wall({5}) == 0.0


def test_unexpected_event_logs_refused(tmp_path):
    (tmp_path / "local-1.zstd").write_bytes(b"\x28\xb5\x2f\xfd")
    with pytest.raises(ValueError, match="compress"):
        tracing.read_events(tmp_path)
    (tmp_path / "local-1.zstd").unlink()
    # the rolling layout Spark writes by default
    roll = tmp_path / "eventlog_v2_local-1"
    roll.mkdir()
    write_log(roll / "events_1_local-1", EVENTS)
    with pytest.raises(ValueError, match="rolling"):
        tracing.read_events(tmp_path)


def fake_proc(root: Path, pid, ppid, cmd, utime=0, stime=0, cutime=0,
              cstime=0, hwm_kb=None):
    d = root / str(pid)
    d.mkdir(parents=True)
    comm = "(python3 (worker))"  # spaces and parentheses in comm
    fields = ["S", str(ppid)] + ["0"] * 9 + [str(utime), str(stime),
                                             str(cutime), str(cstime)] + ["0"] * 5
    (d / "stat").write_text(f"{pid} {comm} " + " ".join(fields) + "\n")
    (d / "cmdline").write_bytes(b"\0".join(c.encode() for c in cmd) + b"\0")
    status = "Name:\tx\n" + (f"VmHWM:\t  {hwm_kb} kB\n" if hwm_kb else "")
    (d / "status").write_text(status)


def test_proc_readers(tmp_path):
    tick = tracing._CLK_TCK
    fake_proc(tmp_path, 10, 1, ["java", "-cp", "x"], utime=3 * tick, stime=tick)
    fake_proc(tmp_path, 20, 10, ["python3", "-m", "pyspark.daemon"],
              cutime=2 * tick, hwm_kb=51200)
    fake_proc(tmp_path, 21, 20, ["python3", "-m", "pyspark.daemon"],
              utime=tick, hwm_kb=140 * 1024)
    fake_proc(tmp_path, 30, 10, ["bash", "-c", "true"])
    fake_proc(tmp_path, 40, 1, ["python3", "-m", "pyspark.daemon"])  # not ours
    (tmp_path / "stat").write_text(
        f"cpu  1 2 3 4 5 6 7 {5 * tick} 0 0\ncpu0 1 2 3 4 5 6 7 8 0 0\n")
    (tmp_path / "loadavg").write_text("0.50 1.25 2.00 1/100 999\n")
    (tmp_path / "self").mkdir()  # non-numeric entries are skipped

    assert tracing.descendants(10, tmp_path) == [20, 21, 30]
    assert tracing.python_workers(10, tmp_path) == [20, 21]
    assert tracing.vm_hwm_mb(21, tmp_path) == 140.0
    assert tracing.cpu_seconds(10, tmp_path) == 4.0
    assert tracing.cpu_seconds(20, tmp_path) == 0.0
    assert tracing.cpu_seconds(20, tmp_path, reaped_children=True) == 2.0
    assert tracing.workers_cpu_seconds(10, tmp_path) == 3.0
    assert tracing.steal_seconds(tmp_path) == 5.0
    assert tracing.loadavg(tmp_path) == [0.5, 1.25, 2.0]
    with pytest.raises(ValueError):
        tracing.vm_hwm_mb(30, tmp_path)
    # a worker gone since it was listed, or one with no VmHWM, is skipped
    assert tracing.workers_vm_hwm_mb([20, 21, 30, 99], tmp_path) == 140.0
    assert tracing.workers_vm_hwm_mb([], tmp_path) == 0.0


def test_self_time_subtracts_covered_children():
    tr = tracing.Tracer()
    with tr.span("pass", "r0"):
        with tr.span("a", "r0"):
            pass
        with tr.span("b", "r0"):
            pass
    tr.spans[0].update(start=0.0, end=10.0)
    tr.spans[1].update(start=1.0, end=4.0)
    tr.spans[2].update(start=3.0, end=6.0)  # overlaps a: counted once
    assert tr.self_time(0) == pytest.approx(5.0)
    assert tracing.union_length([(3, 6), (1, 4), (8, 9)]) == 6
    assert tr.subtree(0) == {0, 1, 2}
    assert [s["parent"] for s in tr.spans] == [None, 0, 0]
    assert {s["run_id"] for s in tr.spans} == {"r0"}


def test_percentiles():
    xs = list(range(1, 1001))
    assert tracing.percentile(xs, 50) == 500
    assert tracing.tail_percentile(xs, 99) == 990
    assert tracing.tail_percentile(xs[:999], 99) is None


def test_benchmark_json_names_every_reported_metric():
    spec = json.loads(BENCHMARK.read_text())
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == [
        tuple(x) for x in PER_LAYER]
    from workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert [w["why"] for w in spec["workloads"]] == [
        w.why for w in WORKLOADS.values()]


def test_unknown_workload_is_rejected(capsys):
    import run

    with pytest.raises(SystemExit) as exc:
        run.parse_args(["--workload", "ocr_mulitpage", "--seed", "0",
                        "--seconds", "1", "--trace", "0"])
    assert exc.value.code == 2
    assert "unknown workload 'ocr_mulitpage'" in capsys.readouterr().err


def test_any_seed_gives_ids_the_corpus_can_hold():
    from workloads import REPLICA_STRIDE, seed_salt

    assert seed_salt(0) == 0  # the pinned seed keeps the sf0.1 ids
    for seed in (1, -1, 987_654_321, 2**64 + 5, -(10**30)):
        # the corpus adds the id as seconds to 2026-01-01: it must stay
        # below year 9999, and below the 10**12 of its decimal(18, 6)
        assert 0 <= seed_salt(seed) + 20 * REPLICA_STRIDE < 2.5e11
    assert len({seed_salt(s) for s in range(1000)}) == 1000


def chain(counts):
    """Spans of one plan chain and its traced pass, and an event log in
    which span ``i`` ran one stage counting ``counts[i]`` records (read,
    shuffled, written)."""
    tr = tracing.Tracer()
    for name in ("plan.scan", "plan.exchange", "plan.write"):
        with tr.span(name, "plans0"):
            pass
    with tr.span("pass", "pass0"):
        pass
    events = []
    for i, (read, shuffled, written) in enumerate(counts):
        events += [job_start(i, [i], str(i), "save"), stage_done(i, "save", [
            (tracing.RECORDS_READ, read), (tracing.SHUFFLE_RECORDS, shuffled),
            (tracing.RECORDS_WRITTEN, written)])]
    return tracing.EventLog(events), tr


def test_chain_problems_catch_a_missing_or_doubled_layer():
    from layers import _chain_problems

    good = [(10, 0, 0), (10, 10, 0), (10, 10, 10), (10, 10, 10)]
    assert _chain_problems(*chain(good)) == []
    # the chain stops short of the pass: its write is missing
    bad = _chain_problems(*chain(good[:2] + [(10, 10, 0), (10, 10, 10)]))
    assert len(bad) == 1 and bad[0].startswith("plan.write (plans0) counts")
    # a layer run twice in the last plan
    bad = _chain_problems(*chain(good[:2] + [(10, 20, 10), (10, 10, 10)]))
    assert len(bad) == 1 and "the traced pass" in bad[0]
    # a plan that leaves out a layer of the plan before it
    bad = _chain_problems(*chain(good[:2] + [(10, 0, 10), (10, 0, 10)]))
    assert bad == ["plan.write (plans0) counts fewer "
                   f"['{tracing.SHUFFLE_RECORDS}'] than the plan before it"]


def test_timing_warnings():
    from layers import _timing_warnings

    m = {"trace.pass_s": 10.0}
    assert _timing_warnings(m, {"scan": 2.0, "kernel": 5.0, "write": 3.0}) == []
    assert m["trace.layer_sum_s"] == 10.0 and m["trace.accounting_err"] == 0.0
    assert _timing_warnings(m, {"scan": 4.0, "kernel": -1.5, "write": 7.5}) == [
        "kernel wall is -1.500 s"]
    assert _timing_warnings(m, {"scan": 2.0, "kernel": 5.0}) == [
        "layer walls sum to 7.000 s, the traced pass took 10.000 s"]
