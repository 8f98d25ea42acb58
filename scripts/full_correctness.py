"""Full-surface, tri-scale correctness artifact (VERDICT r4 item 3).

Runs the driver-shaped gate (tests/driver_sim.run_gate) over EVERY
queries() entry at sf0.001 / sf0.01 / sf0.1 and writes ONE JSON with
per-query match rows per sf, so the round artifact covers the whole
surface instead of the driver's 50-query sample.

The session runs with ``spark.sql.codegen.fallback=false``: a stage
whose generated code does not compile fails its query instead of
silently running interpreted. Headlines count what was verified:
full-oracle matches apart from rows-only records (no oracle at that
sf; only the row count is recorded).

Usage: python scripts/full_correctness.py [out.json] [sf_dir ...]
Default out: CORRECTNESS_full_r5.json in the repo root; default sfs:
the three testdata scales. Exits non-zero on any mismatch.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

import driver_sim  # noqa: E402  (tests/driver_sim.py)

DEFAULT_SFS = [
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
]


def main() -> None:
    args = sys.argv[1:]
    out = args[0] if args else os.path.join(REPO, "CORRECTNESS_full_r5.json")
    sf_dirs = args[1:] or DEFAULT_SFS

    from servico_ocr_spark.session import get_spark

    spark = get_spark(
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={"spark.sql.codegen.fallback": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    artifact: dict = {"sfs": {}}
    all_failed: dict[str, list[str]] = {}
    for sf_dir in sf_dirs:
        key = os.path.basename(sf_dir.rstrip("/"))
        print(f"=== {key} ===", flush=True)
        results = driver_sim.run_gate(spark, sf_dir)
        failed = driver_sim.gate_failures(results)
        n_full = sum(1 for r in results.values() if r["check"] == "full")
        n_full_match = sum(
            1 for n, r in results.items()
            if r["check"] == "full" and n not in failed
        )
        artifact["sfs"][key] = {
            "queries": results,
            "n_queries": len(results),
            "n_full_oracle": n_full,
            "n_full_oracle_match": n_full_match,
            "n_rows_only": len(results) - n_full,
            "failed": failed,
        }
        all_failed[key] = failed
        print(f"=== {key}: {n_full_match}/{n_full} full-oracle matches, "
              f"{len(results) - n_full} rows-only (not oracle-checked), "
              f"{len(failed)} failed ===", flush=True)
    spark.stop()

    per_sf = artifact["sfs"].values()
    total = sum(v["n_queries"] for v in per_sf)
    n_match = sum(v["n_full_oracle_match"] for v in per_sf)
    n_full = sum(v["n_full_oracle"] for v in per_sf)
    n_rows = sum(v["n_rows_only"] for v in per_sf)
    n_bad = sum(len(f) for f in all_failed.values())
    artifact["summary"] = {
        "total_checks": total,
        "full_oracle_checks": n_full,
        "full_oracle_matches": n_match,
        "rows_only_checks": n_rows,
        "failed_checks": n_bad,
        "codegen_fallback": False,
        "all_match": n_bad == 0,
    }
    with open(out, "w") as fh:
        json.dump(artifact, fh, indent=1)
    print(f"wrote {out}: {n_match}/{n_full} full-oracle matches, "
          f"{n_rows} rows-only, {n_bad} failed")
    if n_bad:
        print("FAILED:", {k: v for k, v in all_failed.items() if v})
        sys.exit(1)
    print("ALL MATCH (full-oracle records; rows-only counted apart)")


if __name__ == "__main__":
    main()
