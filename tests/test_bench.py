"""The benchmark harness's query selection (no Spark)."""

import pytest

import __spark_entry__ as entrymod
import bench


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
