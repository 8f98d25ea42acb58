#!/usr/bin/env python3
"""Benchmark of the extraction engine: one workload, one closed-loop client.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The process starts ``local[N]`` Spark
(N = the CPUs it may use), builds the workload's inputs from the seed,
warms up, then submits one batch pass at a time for ``--seconds`` seconds.
Every pass writes a fresh committed table, and every table is checked
against the reference after the timed window. The last stdout line is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` reports the
per-layer metrics instead: it times the same pass untraced, then restarts
the SparkContext with Spark's event log on and times the traced pass, the
cumulative per-layer plans and a single-process replay of the per-doc
functions. Spans and a run record (with steal time and load average) go
to ``.bench_run/records``; everything else the run writes is removed.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

import tracing  # noqa: E402
from sparkctl import shutdown, start_spark  # noqa: E402
from workloads import WORKLOADS, Run  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
#: input generation runs this many times; set-up reports the median
SETUP_REPEATS = 3


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    # the 1-core side of the traced run's scaling pair runs this script
    # again, pinned to one CPU, on the input this names
    p.add_argument("--scale-input", default=None, help=argparse.SUPPRESS)
    args = p.parse_args(argv)
    if args.workload not in WORKLOADS:
        p.error(f"unknown workload {args.workload!r}; "
                f"known: {', '.join(sorted(WORKLOADS))}")
    return args


# ---------------------------------------------------------------------------
# passes
# ---------------------------------------------------------------------------


class Bench:
    def __init__(self, args: argparse.Namespace, t_start: float) -> None:
        self.args = args
        self.t_start = t_start
        self.cores = len(os.sched_getaffinity(0))
        self.wl = WORKLOADS[args.workload]()
        self.run_dir = ROOT / ".bench_run" / (
            f"{args.workload}-s{args.seed}-t{args.trace}-c{self.cores}-{os.getpid()}")
        self.records = ROOT / ".bench_run" / "records"
        self.n_pass = 0
        self.context = {"steal_s": -tracing.steal_seconds(),
                        "loadavg_start": tracing.loadavg(),
                        "cores": self.cores}

    def environment(self) -> None:
        for d in ("tmp", "spark-local"):
            (self.run_dir / d).mkdir(parents=True, exist_ok=True)
        self.records.mkdir(parents=True, exist_ok=True)
        path = os.environ.get("PYTHONPATH")
        # executor Python workers import the package from the checkout, and
        # the traced run's identity mapInPandas body from this directory
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [str(ROOT), str(HERE)] + ([path] if path else []))
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["SPARK_LOCAL_DIRS"] = str(self.run_dir / "spark-local")
        os.environ["TMPDIR"] = str(self.run_dir / "tmp")
        sys.path.insert(0, str(ROOT))

    def out_dir(self) -> Path:
        self.n_pass += 1
        return self.run_dir / f"pass{self.n_pass}"

    def one_pass(self, run: Run, span: str | None = None,
                 run_id: str = "") -> tuple[Path, float]:
        out = self.out_dir()
        self.wl.before_pass(run, out)
        if span is None:
            t0 = time.perf_counter()
            self.wl.timed_pass(run, out)
            return out, time.perf_counter() - t0
        with run.tracer.span(span, run_id, run.spark.sparkContext) as s:
            self.wl.timed_pass(run, out)
        return out, s["end"] - s["start"]

    def setup(self, run: Run) -> dict:
        inputs = []
        for k in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            self.wl.build_input(run, self.run_dir / f"input{k}")
            inputs.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        self.wl.prefill(run)
        for _ in range(self.wl.warm_passes):
            self.one_pass(run)
        self.context["input_walls"] = inputs
        return {"input_s": statistics.median(inputs),
                "warm_s": time.perf_counter() - t0}

    def timed(self, run: Run) -> list[tuple[Path, float]]:
        self.context["calib_ms_before"] = tracing.calibration_ms()
        passes, spent = [], 0.0
        while len(passes) < self.wl.min_passes or spent < self.args.seconds:
            out, wall = self.one_pass(run)
            passes.append((out, wall))
            spent += wall
        self.context["calib_ms_after"] = tracing.calibration_ms()
        return passes

    # -- untraced run ----------------------------------------------------

    def end_to_end(self) -> dict:
        spark = start_spark(self.run_dir, self.cores)
        session_s = time.time() - self.t_start
        run = Run(spark, self.args.seed, self.cores)
        try:
            st = self.setup(run)
            passes = self.timed(run)
            self.context["timed_end_s"] = time.time() - self.t_start
            self.wl.prepare_reference(run)
            results = [self.wl.check(o) for o, _ in passes]
            self.context["checked_s"] = time.time() - self.t_start
        finally:
            shutdown(spark)
        self.context["stopped_s"] = time.time() - self.t_start
        docs = self.wl.docs_per_pass()
        rates = [docs / wall for _, wall in passes]
        attempted = sum(r.attempted for r in results)
        failed = sum(r.failed for r in results)
        matched = sum(r.matched for r in results)
        checked = sum(r.checked for r in results)
        per_row = statistics.median(r.bytes / max(r.rows, 1) for r in results)
        self.context.update(
            pass_walls=[w for _, w in passes], setup_session_s=session_s, **st,
            checks=[r.__dict__ for r in results])
        return self.result(attempted, failed, matched, checked, {
            "docs_per_s": (statistics.median(rates), "docs/s"),
            "setup_s": (session_s + st["input_s"] + st["warm_s"], "s"),
            "out_bytes_per_doc": (per_row, "bytes/doc"),
            "ok_frac": (1 - failed / attempted, "ratio"),
            "match_frac": (matched / max(checked, 1), "ratio"),
        })

    def result(self, attempted, failed, matched, checked, metrics) -> dict:
        ok = failed == 0 and checked > 0 and matched == checked
        return {
            "correct": ok,
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {k: {"value": float(v), "unit": u}
                        for k, (v, u) in metrics.items()},
        }

    def finish(self, out: dict) -> None:
        self.context["steal_s"] += tracing.steal_seconds()
        self.context["loadavg_end"] = tracing.loadavg()
        self.context["wall_s"] = time.time() - self.t_start
        name = self.run_dir.name
        (self.records / f"{name}.json").write_text(
            json.dumps({"context": self.context, "result": out}, indent=1))


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "servico_ocr_spark" / "__init__.py").is_file() or not (
            ROOT / "__spark_entry__.py").is_file():
        print(f"perfbench: the program is not at {ROOT}; run from the root "
              "of a checkout", file=sys.stderr)
        return 2
    bench = Bench(args, T_START)
    bench.environment()
    try:
        if args.scale_input:
            from layers import scale_child

            out = scale_child(bench)
        elif args.trace:
            from layers import traced

            out = traced(bench)
        else:
            out = bench.end_to_end()
        bench.finish(out)
    finally:
        shutil.rmtree(bench.run_dir, ignore_errors=True)
    print(json.dumps({"context": bench.context}, default=str))
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
