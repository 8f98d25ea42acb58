"""The correctness gate's ``compare``: one problem kind per kind of
difference, and ``schema_match`` keyed on the kinds (no Spark)."""

import pandas as pd
import pytest

from tests.driver_sim import compare, schema_match

WANT = pd.DataFrame({"k": [1, 2], "v": ["a", "b"]})


@pytest.mark.parametrize("got, kind, schema_ok", [
    (pd.DataFrame({"k": [1, 2], "w": ["a", "b"]}), "columns", False),
    (pd.DataFrame({"k": [1.0, 2.0], "v": ["a", "b"]}), "dtype_family", False),
    (pd.DataFrame({"k": [1], "v": ["a"]}), "rows", True),
    (pd.DataFrame({"k": [1, 2], "v": ["a", "c"]}), "values", True),
], ids=["columns", "dtype_family", "rows", "values"])
def test_compare_reports_the_kind(got, kind, schema_ok):
    problems = compare("q", got, WANT)
    assert problems and {p.kind for p in problems} == {kind}
    assert all(p.message for p in problems)
    assert schema_match(problems) is schema_ok


def test_equal_frames_have_no_problem():
    got = WANT.iloc[::-1].reset_index(drop=True)
    assert compare("q", got, WANT) == []
    assert schema_match([])
