"""The traced run: one workload's pass split into the program's layers.

Three sources, all outside the program:

1. cumulative plans over the same input, each adding one layer to the
   last; the differences between their walls are the layer walls;
2. Spark's event log (stage and task metrics, the ``MapInPandas`` SQL
   metrics), tied to spans through a job-local property;
3. a single-process replay of the per-doc public functions.

On the query surface the layers are the spans of the queries themselves.
Every traced run reports every per-layer metric; a layer the workload
does not run reports 0. A traced run whose layers, by Spark's own record
counts, do not add up to its traced pass (see ``_chain_problems`` and
``_traced_queries``) is reported as not correct.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager
from pathlib import Path

import pyarrow.parquet as pq

import checks
import tracing
from sparkctl import (jvm_gc_seconds, jvm_pid, kill_session, shutdown,
                      start_spark)
from workloads import IterQueries, OcrResume, Run, parquet_size

HERE = Path(__file__).resolve().parent
#: repetitions of each plan and of the traced and untraced passes (the
#: query surface's passes are long enough to run once)
REPEATS = 2
#: seconds after start by which the 1-core side of the scaling pair must
#: have ended, so that the traced run ends within three minutes
SCALE_DEADLINE_S = 170

#: (name, unit, better) of every per-layer metric
PER_LAYER = [
    ("scan.wall_s", "s", "lower"),
    ("scan.bytes_read", "bytes", "lower"),
    ("estimate.wall_s", "s", "lower"),
    ("exchange.wall_s", "s", "lower"),
    ("exchange.shuffle_bytes", "bytes", "lower"),
    ("exchange.pages_max_over_mean", "ratio", "lower"),
    ("kernel.task_s_max_over_median", "ratio", "lower"),
    ("boundary.wall_s", "s", "lower"),
    ("boundary.bytes_to_py", "bytes", "lower"),
    ("boundary.bytes_from_py", "bytes", "lower"),
    ("boundary.py_run_s", "s", "lower"),
    ("boundary.py_start_s", "s", "lower"),
    ("boundary.worker_rss_mb", "MB", "lower"),
    ("parse.us_p50", "us", "lower"),
    ("tokenizer.us_p50", "us", "lower"),
    ("tokenizer.us_p99", "us", "lower"),
    ("analyze.us_p50", "us", "lower"),
    ("analyze.us_p99", "us", "lower"),
    ("kernel.wall_s", "s", "lower"),
    ("render.us_p50", "us", "lower"),
    ("render.us_p99", "us", "lower"),
    ("render.wall_s", "s", "lower"),
    ("html_extract.us_p50", "us", "lower"),
    ("html_extract.us_p99", "us", "lower"),
    ("replay.samples", "count", "higher"),
    ("write.wall_s", "s", "lower"),
    ("write.files", "count", "lower"),
    ("write.bytes", "bytes", "lower"),
    ("resume.wall_s", "s", "lower"),
    ("resume.skipped", "count", "higher"),
    ("resume.redone", "count", "lower"),
    ("query.pagerank.wall_s", "s", "lower"),
    ("query.communities.wall_s", "s", "lower"),
    ("query.chain_components.wall_s", "s", "lower"),
    ("query.bpe_merges.wall_s", "s", "lower"),
    ("cuts.count", "count", "lower"),
    ("cuts.wall_s", "s", "lower"),
    ("ops.stages", "count", "lower"),
    ("ops.shuffle_bytes", "bytes", "lower"),
    ("ops.spill_bytes", "bytes", "lower"),
    ("jvm.gc_s", "s", "lower"),
    ("jvm.cpu_s", "s", "lower"),
    ("py.cpu_s", "s", "lower"),
    ("spark.tasks", "count", "lower"),
    ("setup.session_s", "s", "lower"),
    ("setup.input_s", "s", "lower"),
    ("setup.warm_s", "s", "lower"),
    ("scale.docs_per_s_1core", "docs/s", "higher"),
    ("scale.eff_1toN", "ratio", "higher"),
    ("scale.outputs_identical", "count", "higher"),
    ("trace.pass_s", "s", "lower"),
    ("trace.untraced_pass_s", "s", "lower"),
    ("trace.layer_sum_s", "s", "lower"),
    ("trace.jobs_s", "s", "lower"),
    ("trace.accounting_err", "ratio", "lower"),
    ("trace.overhead_s", "s", "lower"),
]
#: the traced layer walls should sum to the traced pass within this share
#: of it, and no layer wall be negative by more than this share; on this
#: machine's timings that is a warning, not a failure
ACCOUNTING_TOLERANCE = 0.10
#: Spark's counts of the work a plan did. The same work gives the same
#: counts however fast the machine ran, and adding a layer to a plan never
#: lowers them.
WORK_COUNTERS = (tracing.RECORDS_READ, tracing.SHUFFLE_RECORDS,
                 tracing.RECORDS_WRITTEN)


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def traced(bench) -> dict:
    """Run the workload traced and return the result with per-layer metrics."""
    if isinstance(bench.wl, IterQueries):
        return _traced_queries(bench)
    return _traced_extraction(bench)


# ---------------------------------------------------------------------------
# shared by both traced runs
# ---------------------------------------------------------------------------


def _start(bench, m: dict) -> Run:
    spark = start_spark(bench.run_dir, bench.cores)
    m["setup.session_s"] = time.time() - bench.t_start
    return Run(spark, bench.args.seed, bench.cores)


def _untraced_then_log(bench, run: Run, m: dict, repeats: int) -> list[float]:
    """Set up, time ``repeats`` untraced passes, then restart the
    SparkContext with the event log on."""
    st = bench.setup(run)
    m["setup.input_s"], m["setup.warm_s"] = st["input_s"], st["warm_s"]
    untraced = [bench.one_pass(run)[1] for _ in range(repeats)]
    # the event log is fixed when a SparkContext starts: restart it in the
    # same (warm) JVM with the log on
    run.spark.stop()
    run.spark = start_spark(bench.run_dir, bench.cores, _log_dir(bench))
    return untraced


def _log_dir(bench) -> Path:
    return bench.run_dir / "eventlog"


def _traced_pass(bench, run: Run, k: int, body) -> dict:
    """One pass under a ``pass`` span, with the process counters it moved."""
    spark = run.spark
    pid = jvm_pid(spark)
    before = _process_counters(spark, pid)
    out = bench.out_dir()
    bench.wl.before_pass(run, out)
    with run.tracer.span("pass", f"pass{k}", spark.sparkContext) as s:
        body(out)
    after = _process_counters(spark, pid)
    return {"out": out, "span": s["id"], "wall": s["end"] - s["start"],
            "delta": [b - a for a, b in zip(before, after)]}


def _process_counters(spark, pid: int) -> tuple[float, float, float]:
    return (tracing.cpu_seconds(pid), tracing.workers_cpu_seconds(pid),
            jvm_gc_seconds(spark))


def _finish(bench, m: dict, ev: tracing.EventLog, tr: tracing.Tracer,
            passes: list[dict], untraced: list[float], results: list,
            layers: dict[str, float], problems: list[str]) -> dict:
    """Process and trace metrics, the layer-accounting check, the spans and
    the result. ``problems`` with the layer split make the run incorrect."""
    walls = [p["wall"] for p in passes]
    spans = set().union(*(tr.subtree(p["span"]) for p in passes))
    m["spark.tasks"] = ev.tasks(spans) / len(passes)
    m["jvm.cpu_s"] = _median(p["delta"][0] for p in passes)
    m["py.cpu_s"] = _median(p["delta"][1] for p in passes)
    m["jvm.gc_s"] = _median(p["delta"][2] for p in passes)
    m["trace.pass_s"] = _median(walls)
    m["trace.untraced_pass_s"] = _median(untraced)
    m["trace.overhead_s"] = m["trace.pass_s"] - m["trace.untraced_pass_s"]
    m["trace.jobs_s"] = _median(ev.job_wall(tr.subtree(p["span"])) for p in passes)
    warnings = _timing_warnings(m, layers)
    for msg in problems:
        print(f"perfbench: layer accounting failed: {msg}", file=sys.stderr)
    for msg in warnings:
        print(f"perfbench: layer timing (warning): {msg}", file=sys.stderr)
    tr.dump(bench.records / f"{bench.run_dir.name}.spans.json")
    bench.context.update(untraced_walls=untraced, traced_walls=walls,
                         layer_walls=layers, accounting_problems=problems,
                         accounting_warnings=warnings,
                         checks=[r.__dict__ for r in results])
    units = {name: unit for name, unit, _ in PER_LAYER}
    out = bench.result(
        sum(r.attempted for r in results), sum(r.failed for r in results),
        sum(r.matched for r in results), sum(r.checked for r in results),
        {k: (v, units[k]) for k, v in m.items()})
    out["correct"] = out["correct"] and not problems
    return out


def _timing_warnings(m: dict, layers: dict[str, float]) -> list[str]:
    """Where the layer walls, on the clock, fail to account for the traced
    pass. Two timings of the same work differ here by up to a tenth from
    one minute to the next, so these are reported, not failed."""
    pass_s, tol = m["trace.pass_s"], ACCOUNTING_TOLERANCE
    layer_sum = m["trace.layer_sum_s"] = sum(layers.values())
    m["trace.accounting_err"] = abs(layer_sum - pass_s) / pass_s
    warnings = [f"{name} wall is {w:.3f} s" for name, w in layers.items()
                if w < -tol * pass_s]
    if m["trace.accounting_err"] > tol:
        warnings.append(f"layer walls sum to {layer_sum:.3f} s, the traced "
                        f"pass took {pass_s:.3f} s")
    return warnings


# ---------------------------------------------------------------------------
# extraction workloads: cumulative plans, replay, scaling pair
# ---------------------------------------------------------------------------


def _traced_extraction(bench) -> dict:
    wl = bench.wl
    m = {name: 0.0 for name, _, _ in PER_LAYER}
    run = _start(bench, m)
    try:
        untraced = _untraced_then_log(bench, run, m, REPEATS)
        bench.one_pass(run)  # starts the new context's Python workers
        passes = []
        for k in range(REPEATS):
            # each plan chain runs right before the traced pass its last plan
            # is compared with, so both see the machine at the same speed
            _run_plans(bench, run, k)
            passes.append(_traced_pass(
                bench, run, k, lambda out: wl.timed_pass(run, out)))
        workers = tracing.python_workers(jvm_pid(run.spark))
        m["boundary.worker_rss_mb"] = tracing.workers_vm_hwm_mb(workers)
    finally:
        shutdown(run.spark)

    # from here on this process only reads files; the 1-core side of the
    # scaling pair has a CPU to itself until it ends
    child = _start_scaling(bench, wl) if isinstance(wl, OcrResume) else None
    try:
        with _off_core(child):
            t0 = time.perf_counter()
            replay = wl.replay()
            bench.context["replay_s"] = time.perf_counter() - t0
            wl.prepare_reference(run)
            results = [wl.check(p["out"]) for p in passes]
            _table_metrics(m, wl, passes[-1]["out"], run.partitions)
            _replay_metrics(m, replay)
            events = tracing.EventLog(tracing.read_events(_log_dir(bench)))
            _event_metrics(m, events, run.tracer, passes)
            if child is not None:
                _finish_scaling(m, bench, wl, passes, child, events, run.tracer)
    finally:
        if child is not None and child["proc"].poll() is None:
            kill_session(child["proc"])
    tr = run.tracer
    layers = _layer_walls(tr)
    for layer, wall in layers.items():
        m[f"{layer}.wall_s"] = wall
    return _finish(bench, m, events, tr, passes, untraced, results, layers,
                   _chain_problems(events, tr))


def _run_plans(bench, run: Run, k: int) -> None:
    """Run chain ``k`` of cumulative plans, each under a ``plan.*`` span."""
    out = bench.out_dir()
    bench.wl.before_pass(run, out)
    for layer, fn in bench.wl.plans(run, out):
        with run.tracer.span(f"plan.{layer}", f"plans{k}", run.spark.sparkContext):
            fn()


def _layer_walls(tr: tracing.Tracer) -> dict[str, float]:
    """Layer wall = median over the chains of its plan's wall minus that of
    the plan before."""
    plans: dict[str, list[float]] = {}
    for s in tr.spans:
        if s["name"].startswith("plan."):
            plans.setdefault(s["name"][len("plan."):], []).append(tr.wall(s["id"]))
    layers, prev = {}, 0.0
    for layer, walls in plans.items():
        med = _median(walls)
        layers[layer], prev = med - prev, med
    return layers


def _chain_problems(ev: tracing.EventLog, tr: tracing.Tracer) -> list[str]:
    """What is wrong with the plan chains, by Spark's own counts of the
    work each plan did (``WORK_COUNTERS``): a plan must count no less than
    the plan before it, since it adds a layer to it, and each chain's last
    plan must count exactly what the traced pass after it counts. A layer
    left out of a plan, run twice, or missing at the end of the chain
    fails one of the two."""
    def work(sid: int) -> dict[str, float]:
        spans = tr.subtree(sid)
        return {name: ev.metric(spans, name) for name in WORK_COUNTERS}

    chains: dict[str, list[dict]] = {}
    for s in tr.spans:
        if s["name"].startswith("plan."):
            chains.setdefault(s["run_id"], []).append(s)
    passes = [s for s in tr.spans if s["name"] == "pass"]
    problems = []
    for plans, p in zip(chains.values(), passes):
        counts = [work(s["id"]) for s in plans]
        for s, before, now in zip(plans[1:], counts, counts[1:]):
            fewer = [k for k in WORK_COUNTERS if now[k] < before[k]]
            if fewer:
                problems.append(f"{s['name']} ({s['run_id']}) counts fewer "
                                f"{fewer} than the plan before it")
        if counts[-1] != work(p["id"]):
            problems.append(f"{plans[-1]['name']} ({plans[-1]['run_id']}) "
                            f"counts {counts[-1]}, the traced pass "
                            f"{work(p['id'])}")
    return problems


def _table_metrics(m: dict, wl, out: Path, partitions: int) -> None:
    """Write size, resume counts and per-partition page balance, read from
    the committed table of the last traced pass."""
    nbytes, files = parquet_size(out)
    cols = ["url", "partition_id"] + (["est_pages"] if wl.face == "ocr" else [])
    rows = pq.read_table(str(out), columns=cols).to_pylist()
    if isinstance(wl, OcrResume):
        done_bytes, done_files = parquet_size(wl.input / "committed")
        nbytes, files = nbytes - done_bytes, files - done_files
        rows = [r for r in rows if r["url"] not in wl.committed_urls]
        m["resume.skipped"] = wl.n_input - len(rows)
        m["resume.redone"] = wl.redone(out)
    m["write.bytes"], m["write.files"] = nbytes, files
    if wl.face == "ocr":
        pages: dict[int, int] = {}
        for r in rows:
            pages[r["partition_id"]] = pages.get(r["partition_id"], 0) + r["est_pages"]
        mean = sum(pages.values()) / partitions
        m["exchange.pages_max_over_mean"] = max(pages.values()) / mean if mean else 0.0


def _replay_metrics(m: dict, replay: dict[str, list[float]]) -> None:
    m["replay.samples"] = min(len(us) for us in replay.values())
    for layer, us in replay.items():
        m[f"{layer}.us_p50"] = tracing.percentile(us, 50)
        if f"{layer}.us_p99" in m:
            p99 = tracing.tail_percentile(us, 99)
            if p99 is None:
                raise RuntimeError(f"{layer}: {len(us)} samples are too few for a p99")
            m[f"{layer}.us_p99"] = p99


def _event_metrics(m: dict, ev: tracing.EventLog, tr: tracing.Tracer,
                   passes: list[dict]) -> None:
    """Per-pass event-log metrics, averaged over the traced passes."""
    n = len(passes)
    spans = set().union(*(tr.subtree(p["span"]) for p in passes))
    m["scan.bytes_read"] = ev.plan_metric(spans, tracing.FILES_READ_BYTES) / n
    m["exchange.shuffle_bytes"] = ev.metric(spans, tracing.SHUFFLE_WRITTEN) / n
    m["boundary.bytes_to_py"] = ev.metric(spans, tracing.PY_SENT) / n
    m["boundary.bytes_from_py"] = ev.metric(spans, tracing.PY_RETURNED) / n
    m["boundary.py_run_s"] = ev.metric(spans, tracing.PY_RUN_MS) / 1000 / n
    m["boundary.py_start_s"] = ev.metric(spans, tracing.PY_START_MS) / 1000 / n
    last = tr.subtree(passes[-1]["span"])
    task_ms = [t for s in ev.python_stages(last) for t in s["task_run_ms"]]
    if task_ms:
        med = statistics.median(task_ms)
        m["kernel.task_s_max_over_median"] = max(task_ms) / med if med else 0.0


# ---------------------------------------------------------------------------
# 1 -> N scaling pair
# ---------------------------------------------------------------------------


def _level_layers(ev: tracing.EventLog, spans: set[int]) -> dict:
    """The pass's stage-level split at one parallelism level."""
    py = ev.python_stages(spans)
    rest = [s for s in ev.stages_of(spans) if s not in py]
    return {
        "pre_exchange_task_s": sum(sum(s["task_run_ms"]) for s in rest) / 1000,
        "kernel_task_s": sum(sum(s["task_run_ms"]) for s in py) / 1000,
        "py_run_s": ev.metric(spans, tracing.PY_RUN_MS) / 1000,
        "gc_s": sum(s["gc_ms"] for s in ev.stages_of(spans)) / 1000,
    }


def _start_scaling(bench, wl) -> dict:
    """Start the 1-core side of the scaling pair: this script again, pinned
    to one CPU (so at ``local[1]``), on this run's input, in a session of
    its own so that it can be stopped with everything under it."""
    core = min(os.sched_getaffinity(0))
    cmd = ["taskset", "-c", str(core), sys.executable, str(HERE / "run.py"),
           "--workload", wl.name, "--seed", str(bench.args.seed),
           "--seconds", "0", "--trace", "1", "--scale-input", str(wl.input)]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, start_new_session=True)
    return {"proc": proc, "core": core, "t0": time.time()}


@contextmanager
def _off_core(child: dict | None):
    """Keep every thread of this process off the CPU the 1-core child is
    pinned to while the block runs."""
    if child is None:
        yield
        return
    mine = os.sched_getaffinity(0)
    tasks = [int(t) for t in os.listdir("/proc/self/task")]
    _set_affinity(tasks, (mine - {child["core"]}) or mine)
    try:
        yield
    finally:
        _set_affinity(tasks, mine)


def _set_affinity(tasks: list[int], cpus: set[int]) -> None:
    for t in tasks:
        try:
            os.sched_setaffinity(t, cpus)
        except ProcessLookupError:
            pass  # a thread that has ended


def _finish_scaling(m: dict, bench, wl, passes: list[dict], child: dict,
                    ev: tracing.EventLog, tr: tracing.Tracer) -> None:
    """Wait for the 1-core child and compare its throughput and committed
    table with this process's traced passes."""
    proc = child["proc"]
    left = SCALE_DEADLINE_S - (time.time() - bench.t_start)
    try:
        stdout, _ = proc.communicate(timeout=max(1.0, left))
    except subprocess.TimeoutExpired:
        # the scale.* metrics stay 0 rather than the run overstaying
        kill_session(proc)
        print("perfbench: the 1-core scaling run was stopped at the run's "
              "deadline; scale.* metrics are 0", file=sys.stderr)
        bench.context["scale"] = {"stopped_after_s": time.time() - child["t0"]}
        return
    if proc.returncode != 0:
        raise RuntimeError(f"1-core scaling run exited with {proc.returncode}")
    rec = json.loads(stdout.decode().strip().splitlines()[-1])
    mine = checks.bucket_digests(wl.committed(passes[-1]["out"]), wl.outputs)
    rate_n = wl.docs_per_pass() / _median(p["wall"] for p in passes)
    m["scale.docs_per_s_1core"] = rec["docs_per_s"]
    m["scale.eff_1toN"] = rate_n / (bench.cores * rec["docs_per_s"])
    m["scale.outputs_identical"] = float(rec["buckets"] == mine)
    bench.context["scale"] = {
        "wall_s": time.time() - child["t0"],
        "docs_per_s": {"1": rec["docs_per_s"], str(bench.cores): rate_n},
        "layers": {"1": rec["layers"], str(bench.cores): _level_layers(
            ev, tr.subtree(passes[-1]["span"]))},
    }


def scale_child(bench) -> dict:
    """The 1-core side of the scaling pair: one warm and one traced pass
    over the parent's input, then a record of throughput, stage-level
    layers and output digests, which ``main`` prints as its last line. The
    parent checks the outputs against its own committed table."""
    wl, args = bench.wl, bench.args
    spark = start_spark(bench.run_dir, bench.cores, _log_dir(bench))
    run = Run(spark, args.seed, bench.cores)
    try:
        wl.input = Path(args.scale_input)
        bench.one_pass(run)
        out, wall = bench.one_pass(run, span="pass", run_id="pass0")
        buckets = checks.bucket_digests(wl.committed(out), wl.outputs)
    finally:
        shutdown(spark)
    docs = pq.read_table(wl.pages_path, columns=["url"]).num_rows
    if isinstance(wl, OcrResume):
        docs -= pq.read_table(str(wl.input / "committed"), columns=["url"]).num_rows
    ev = tracing.EventLog(tracing.read_events(_log_dir(bench)))
    return {"docs_per_s": docs / wall, "buckets": buckets,
            "layers": _level_layers(ev, run.tracer.subtree(0))}


# ---------------------------------------------------------------------------
# the query surface: one span per query
# ---------------------------------------------------------------------------


def _traced_queries(bench) -> dict:
    """The timed queries under a traced pass, then the traced-only ones;
    the layers are the query spans."""
    wl = bench.wl
    m = {name: 0.0 for name, _, _ in PER_LAYER}
    run = _start(bench, m)
    tr = run.tracer
    try:
        # a query pass is long enough to run once
        untraced = _untraced_then_log(bench, run, m, 1)

        def queries(out, names, run_id):
            for q in names:
                with tr.span(f"query.{q}", run_id, run.spark.sparkContext):
                    wl.timed_pass(run, out, names=[q])

        passes = [_traced_pass(bench, run, 0,
                               lambda out: queries(out, wl.timed, "pass0"))]
        extra = bench.out_dir()
        queries(extra, wl.traced_only, "traced_only")
    finally:
        shutdown(run.spark)
    wl.prepare_reference(run, names=wl.timed + wl.traced_only)
    results = [wl.check(p["out"]) for p in passes]
    results.append(wl.check(extra, names=wl.traced_only))
    events = tracing.EventLog(tracing.read_events(_log_dir(bench)))
    query_spans = set()
    for s in tr.spans:
        if s["name"].startswith("query."):
            m[f"{s['name']}.wall_s"] = tr.wall(s["id"])
            query_spans.add(s["id"])
    m["cuts.count"], m["cuts.wall_s"] = events.cuts(query_spans)
    m["ops.stages"] = len(events.stages_of(query_spans))
    m["ops.shuffle_bytes"] = events.metric(query_spans, tracing.SHUFFLE_WRITTEN)
    m["ops.spill_bytes"] = (events.metric(query_spans, tracing.SPILL_MEMORY)
                            + events.metric(query_spans, tracing.SPILL_DISK))
    pass_span = passes[0]["span"]
    layers = {s["name"]: tr.wall(s["id"]) for s in tr.spans
              if s["parent"] == pass_span}
    # a job tagged with the pass itself ran outside every query span
    outside = len(events.jobs_of({pass_span}))
    problems = [f"{outside} jobs of the traced pass ran outside every query"
                ] if outside else []
    return _finish(bench, m, events, tr, passes, untraced, results, layers,
                   problems)
