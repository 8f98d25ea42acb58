"""The correctness gate's ``compare``: one problem kind per kind of
difference, and ``schema_match`` keyed on the kinds; and which checkout
``driver_sim`` puts on ``sys.path`` (no Spark)."""

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

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


def test_driver_sim_puts_its_own_checkout_first(tmp_path):
    """Imported from a second checkout, driver_sim must put THAT
    checkout first on sys.path: this process then imports the same
    ``__spark_entry__`` as the Python workers, which import the
    caller's package. A fixed path there made a gate run from a copy
    fail every Python-stage query (``Can't get attribute``)."""
    tests = tmp_path / "tests"
    tests.mkdir()
    shutil.copy(Path(__file__).with_name("driver_sim.py"), tests)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    code = ("import sys; sys.path.insert(0, sys.argv[1]); "
            "import driver_sim, json; print(json.dumps(sys.path))")
    out = subprocess.run(
        [sys.executable, "-c", code, str(tests)], cwd=tmp_path, env=env,
        capture_output=True, text=True, check=True, timeout=120,
    ).stdout
    path = json.loads(out)
    assert path[0] == str(tmp_path)
    this_checkout = str(Path(__file__).resolve().parent.parent)
    assert this_checkout not in path
