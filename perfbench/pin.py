#!/usr/bin/env python3
"""Pin the full-table reference of the extraction workloads at seed 0.

    python3 perfbench/pin.py WORKLOAD

For every url of an extraction workload's seed-0 input, computes the
single-process reference row (``pipeline.analyze_page_row`` or ``extract_main``) and
stores, in ``pinned.json``, a digest per url-hash bucket, the urls whose
reference status is ``erro``, and a fingerprint of the input. It then runs
one real pass and refuses to pin if the committed table disagrees with
the reference. An existing entry is never replaced: a pinned digest that
stops matching is a finding about the program, not a file to regenerate.
"""

from __future__ import annotations

import json
import shutil
import sys
import time

import checks
import run as bench_run
from sparkctl import shutdown, start_spark
from workloads import PINNED, PINNED_SEED, Extraction, Run, input_fingerprint


def main(name: str) -> int:
    import pyarrow.parquet as pq

    pinned = json.loads(PINNED.read_text()) if PINNED.exists() else {}
    if name in pinned:
        print(f"{name} is already pinned", file=sys.stderr)
        return 1
    args = bench_run.parse_args(["--workload", name, "--seed", str(PINNED_SEED),
                                 "--seconds", "0", "--trace", "0"])
    bench = bench_run.Bench(args, time.time())
    if not isinstance(bench.wl, Extraction):
        print(f"{name} is not an extraction workload", file=sys.stderr)
        return 2
    bench.environment()
    spark = start_spark(bench.run_dir, bench.cores)
    run = Run(spark, PINNED_SEED, bench.cores)
    wl = bench.wl
    try:
        wl.build_input(run, bench.run_dir / "input")
        wl.prefill(run)
        out, _ = bench.one_pass(run)
        table = pq.read_table(wl.pages_path, columns=["url", "html"])
        ref = [wl.reference_row(r["url"], r["html"]) for r in table.to_pylist()]
        got = checks.bucket_digests(wl.committed(out), wl.outputs)
    finally:
        shutdown(spark)
    want = checks.bucket_digests(ref, wl.outputs)
    shutil.rmtree(bench.run_dir, ignore_errors=True)
    bad = [i for i, (a, b) in enumerate(zip(got, want)) if a != b]
    if bad:
        print(f"{name}: committed table differs from the reference in "
              f"buckets {bad}; not pinned", file=sys.stderr)
        return 1
    pinned[name] = {
        "input": input_fingerprint(table),
        "erro": sorted(r["url"] for r in ref if r["status"] == "erro"),
        "buckets": want,
    }
    PINNED.write_text(json.dumps(pinned, indent=1, sort_keys=True) + "\n")
    print(f"{name}: pinned {len(ref)} urls", file=sys.stderr)
    return 0


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1]))
