"""Simulates the driver's correctness gate: run every queries() entry on
Spark and its oracle_sql() twin on DuckDB over the same sf dir; compare
row count, schema, and order-insensitive values.

Usage: python tests/driver_sim.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
from typing import NamedTuple

import duckdb
import pandas as pd

# this file's own checkout, so a gate run from a second checkout imports
# that checkout's __spark_entry__ in this process, as its workers do
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def duck_con(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        else:
            try:
                # dtype-insensitive numeric compare (int32 vs int64 etc.);
                # float64 is exact for all engine values (< 2^53)
                df[c] = pd.to_numeric(df[c]).astype("float64")
            except (ValueError, TypeError):
                df[c] = df[c].astype(str)
    return (
        df.sort_values(list(df.columns), kind="mergesort")
        .reset_index(drop=True)
    )


def _dtype_family(s: pd.Series) -> str:
    k = s.dtype.kind
    return "int" if k in "iu" else ("float" if k == "f" else "other")


class Problem(NamedTuple):
    """One difference ``compare`` found: ``kind`` is ``columns``,
    ``dtype_family``, ``rows`` or ``values``."""

    kind: str
    message: str


def schema_match(problems: list[Problem]) -> bool:
    """The gate's ``schema_match``: no ``columns`` or ``dtype_family``
    problem (the two kinds the driver's schema check would see)."""
    return not any(p.kind in ("columns", "dtype_family") for p in problems)


def compare(name, spark_df, duck_df) -> list[Problem]:
    if sorted(spark_df.columns) != sorted(duck_df.columns):
        return [Problem(
            "columns",
            f"columns differ: spark={sorted(spark_df.columns)} "
            f"duck={sorted(duck_df.columns)}",
        )]
    # dtype-strict: the driver hashes rendered values, so an int64 Spark
    # column vs a float64 oracle column (e.g. DuckDB sum(BIGINT) returning
    # HUGEINT -> float64) hash-mismatches even when values are equal.
    # normalize() below would mask that; flag it here first.
    problems = [
        Problem(
            "dtype_family",
            f"dtype family mismatch in {c}: spark={spark_df[c].dtype} "
            f"duck={duck_df[c].dtype} (driver hash sees int vs float)",
        )
        for c in sorted(spark_df.columns)
        if {_dtype_family(spark_df[c]), _dtype_family(duck_df[c])}
        == {"int", "float"}
    ]
    if problems:
        return problems
    if len(spark_df) != len(duck_df):
        problems.append(Problem(
            "rows", f"row count: spark={len(spark_df)} duck={len(duck_df)}"))
    a, b = normalize(spark_df.copy()), normalize(duck_df.copy())
    if len(a) == len(b) and not a.equals(b):
        diff_cols = [c for c in a.columns if not a[c].equals(b[c])]
        problems.append(
            Problem("values", f"values differ in columns {diff_cols}"))
        for c in diff_cols[:2]:
            neq = a[c] != b[c]
            idx = neq[neq].index[:3]
            for i in idx:
                problems.append(Problem("values", f"  {c}[{i}]: "
                                        f"spark={a[c][i]!r} duck={b[c][i]!r}"))
    return problems


def _golden_sf() -> str | None:
    # the flagship oracles are committed golden parquets generated at ONE
    # sf (tests/golden/INPUTS.json); at any other sf_dir they would
    # false-fail on correct code, so fall back to a rows-only check there.
    # The driver itself always gates at the golden sf (sf0.01).
    try:
        import json as _json

        with open(os.path.join(os.path.dirname(__file__), "golden",
                               "INPUTS.json")) as fh:
            return _json.load(fh)["sf_dir"].rstrip("/")
    except Exception:
        return None


# extract_neardups' oracle reads the golden texts parquet too (its
# minhash SQL runs over extract_texts_sf0.01.parquet) — at any other sf
# the Spark side sees a different corpus and the compare false-fails on
# correct code (first surfaced by the r5 tri-scale artifact run: 26
# spark rows vs the golden corpus's 19 at sf0.1).
GOLDEN_ONLY = {"extract_docs", "extract_lineage", "extract_neardups"}


def run_gate(spark, sf_dir: str, only: set[str] | None = None,
             verbose: bool = True) -> dict[str, dict]:
    """Run the driver-shaped correctness gate for every queries() entry at
    ``sf_dir``; return one record per query in the driver's
    CORRECTNESS_r*.json shape (rows_match / schema_match / hash_match /
    spark_rows / oracle_rows / err, plus ``check`` = full|rows_only). A
    rows_only record has no oracle: its schema_match and hash_match are
    None (not checked), never True."""
    import __spark_entry__ as entrymod

    con = duck_con(sf_dir)
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    golden_sf = _golden_sf()
    results: dict[str, dict] = {}

    def say(msg):
        if verbose:
            print(msg, flush=True)

    for name, fn in qs.items():
        if only and name not in only:
            continue
        rec = {"rows_match": False, "schema_match": False,
               "hash_match": False, "spark_rows": None,
               "oracle_rows": None, "err": None, "check": "full"}
        results[name] = rec
        rows_only_reason = None
        if (name in GOLDEN_ONLY and golden_sf is not None
                and os.path.realpath(sf_dir) != os.path.realpath(golden_sf)):
            rows_only_reason = f"golden oracle is for {golden_sf}"
        elif name not in oracles:
            rows_only_reason = "no oracle"
        try:
            sdf = fn(spark, sf_dir)
            spdf = sdf.toPandas()
        except Exception as exc:
            rec["err"] = f"spark error: {str(exc)[:300]}"
            say(f"[FAIL] {name}: {rec['err']}")
            continue
        rec["spark_rows"] = len(spdf)
        if rows_only_reason is not None:
            # no oracle ran: the query completed and its rows were
            # counted; schema and values were never compared
            rec["check"] = "rows_only"
            rec["rows_match"] = True
            rec["schema_match"] = rec["hash_match"] = None
            say(f"[rows] {name}: {len(spdf)} rows "
                f"({rows_only_reason}; rows-only)")
            continue
        try:
            ddf = con.execute(oracles[name]).df()
        except Exception as exc:
            rec["err"] = f"duckdb error: {str(exc)[:300]}"
            say(f"[FAIL] {name}: {rec['err']}")
            continue
        rec["oracle_rows"] = len(ddf)
        problems = compare(name, spdf, ddf)
        rec["rows_match"] = len(spdf) == len(ddf)
        rec["schema_match"] = schema_match(problems)
        rec["hash_match"] = not problems
        if problems:
            rec["err"] = "; ".join(p.message for p in problems[:5])
            say(f"[FAIL] {name}: {rec['err']}")
        else:
            say(f"[ ok ] {name}: {len(spdf)} rows match")
    con.close()
    return results


def gate_failures(results: dict[str, dict]) -> list[str]:
    """Names with an error or a check that ran and failed; a check that
    did not run (None, rows_only records) fails nothing."""
    return [n for n, r in results.items()
            if r["err"] or False in (r["rows_match"], r["schema_match"],
                                     r["hash_match"])]


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from servico_ocr_spark.session import get_spark

    unknown = sorted(only - set(entrymod.queries()))
    if unknown:
        sys.exit(
            f"unknown query name(s) {unknown} — not in queries(); "
            "a typo here would otherwise gate a partial set silently"
        )
    spark = get_spark(master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    results = run_gate(spark, sf_dir, only or None)
    spark.stop()
    failed = gate_failures(results)
    if failed:
        print("FAILED:", failed)
        sys.exit(1)
    print("ALL MATCH")


if __name__ == "__main__":
    main()
