"""Lifetime of the benchmark's Spark process: start, inspect, stop."""

from __future__ import annotations

import os
import signal
import subprocess
import time
from pathlib import Path

import tracing


def start_spark(run_dir: Path, cores: int, event_log: Path | None = None):
    from servico_ocr_spark.session import get_spark

    conf = {
        # the whole local[N] JVM heap; the inputs are small
        "spark.driver.memory": "2g",
        "spark.local.dir": str(run_dir / "spark-local"),
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "false",
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log.as_uri(),
            # plain JSON lines in one file: the parser carries no codec
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]",
                      shuffle_partitions=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def jvm_gc_seconds(spark) -> float:
    mf = spark._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1000


def shutdown(spark) -> None:
    """Stop Spark, end the JVM and wait for it and its Python workers."""
    from pyspark import SparkContext

    pid = jvm_pid(spark)
    workers = tracing.python_workers(pid)
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    _reap([pid, *workers])


def kill_session(proc: subprocess.Popen) -> None:
    """Kill a child started with ``start_new_session=True`` together with
    every process under it (its Spark JVM and Python workers), and wait
    until all of them have ended."""
    under = tracing.descendants(proc.pid)
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    _reap(under)


def _reap(pids: list[int]) -> None:
    """Wait up to 20 s for ``pids`` to end, then kill the ones left."""
    deadline = time.time() + 20
    for w in pids:
        while _alive(w) and time.time() < deadline:
            time.sleep(0.05)
        if _alive(w):
            try:
                os.kill(w, signal.SIGKILL)
            except ProcessLookupError:
                pass  # ended since the check


def _alive(pid: int) -> bool:
    try:
        state = (Path("/proc") / str(pid) / "stat").read_text()
    except OSError:
        return False
    return state[state.rindex(")") + 2] != "Z"
