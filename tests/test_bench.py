"""The benchmark harness's query selection and the correctness gate's
failure rule (no Spark)."""

import pytest

import __spark_entry__ as entrymod
import bench
from tests.driver_sim import gate_failures


def test_suite_covers_every_bench_query():
    qs = entrymod.queries()
    assert bench.suite_names(None, qs) == bench.BENCH_QUERIES


def test_suite_refuses_unknown_names():
    qs = entrymod.queries()
    with pytest.raises(SystemExit, match="no_such_query"):
        bench.suite_names(["extract_docs", "no_such_query"], qs)
    missing = {k: v for k, v in qs.items() if k != bench.BENCH_QUERIES[0]}
    with pytest.raises(SystemExit, match=bench.BENCH_QUERIES[0]):
        bench.suite_names(None, missing)


def test_gate_fails_only_what_it_checked():
    def rec(check, rows, schema, hashed, err=None):
        return {"check": check, "rows_match": rows, "schema_match": schema,
                "hash_match": hashed, "err": err}

    results = {
        "exact": rec("full", True, True, True),
        "rows_only": rec("rows_only", True, None, None),
        "wrong_values": rec("full", True, True, False, "value diff"),
        "wrong_rows": rec("full", False, True, False),
        "crashed": rec("rows_only", False, None, None, "spark error"),
    }
    assert gate_failures(results) == ["wrong_values", "wrong_rows",
                                      "crashed"]
