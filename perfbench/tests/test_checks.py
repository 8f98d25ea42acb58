"""The correctness counters must be able to fail.

A committed table is written with pyarrow and read back through the same
path a benchmark run uses (``Extraction.check``), with a missing row, a
duplicated row or an altered text injected."""

from pathlib import Path

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import checks
from workloads import IterQueries, OcrResume, WebSmall

N = 200


def ocr_rows():
    rows = []
    for i in range(N):
        url = f"https://example.test/src{i % 5}/{i}"
        erro = i % 37 == 3
        text = None if erro else f"text of {i}"
        rows.append({
            "url": url, "status": "erro" if erro else "ok",
            "extracted_text": text, "clean_text": text,
            "md": None if erro else f"# {i}", "html_render": None if erro else f"<p>{i}</p>",
            "partition_id": i % 4, "dthr": "2026-01-01 00:00:00",
        })
    return rows


def write(rows, path):
    path.mkdir()
    pq.write_table(pa.Table.from_pylist(rows), str(path / "part-0.parquet"))
    return path


def ocr_workload(rows, pinned=None):
    wl = OcrResume()
    wl.expected = {r["url"]: (r["status"] if checks.in_sample(r["url"], 4) else None)
                   for r in rows}
    wl.reference = {r["url"]: checks.row_digest(r, checks.OCR_OUTPUTS)
                    for r in rows if checks.in_sample(r["url"], 4)}
    wl.pinned = pinned
    return wl


def fracs(result):
    return (1 - result.failed / result.attempted, result.matched / result.checked)


def test_clean_table_passes(tmp_path):
    rows = ocr_rows()
    pinned = checks.bucket_digests(rows, checks.OCR_OUTPUTS)
    result = ocr_workload(rows, pinned).check(write(rows, tmp_path / "t"))
    assert fracs(result) == (1.0, 1.0)
    assert result.checked == N


@pytest.mark.parametrize("pinned", [False, True])
@pytest.mark.parametrize("fault", ["missing", "duplicated", "altered", "status"])
def test_injected_fault_is_counted(tmp_path, fault, pinned):
    rows = ocr_rows()
    wl = ocr_workload(rows, checks.bucket_digests(rows, checks.OCR_OUTPUTS)
                      if pinned else None)
    # a sampled url, so the fault shows even without the pinned digest
    victim = next(i for i, r in enumerate(rows)
                  if checks.in_sample(r["url"], 4) and r["status"] == "ok")
    bad = [dict(r) for r in rows]
    if fault == "missing":
        del bad[victim]
    elif fault == "duplicated":
        bad.append(dict(bad[victim]))
    elif fault == "altered":
        bad[victim]["clean_text"] += " "
    else:
        bad[victim]["status"] = "erro"
    ok_frac, match_frac = fracs(wl.check(write(bad, tmp_path / "t")))
    assert match_frac < 1
    if fault != "altered":  # an altered text is a mismatch, not a lost doc
        assert ok_frac < 1


def test_unsampled_alteration_caught_only_by_pinned_digest(tmp_path):
    rows = ocr_rows()
    victim = next(i for i, r in enumerate(rows) if not checks.in_sample(r["url"], 4))
    bad = [dict(r) for r in rows]
    bad[victim]["md"] = "# changed"
    path = write(bad, tmp_path / "t")
    assert fracs(ocr_workload(rows).check(path))[1] == 1.0
    pinned = checks.bucket_digests(rows, checks.OCR_OUTPUTS)
    _, match_frac = fracs(ocr_workload(rows, pinned).check(path))
    assert match_frac < 1


def test_lineage_columns_are_not_compared(tmp_path):
    rows = ocr_rows()
    wl = ocr_workload(rows, checks.bucket_digests(rows, checks.OCR_OUTPUTS))
    moved = [dict(r, partition_id=7, dthr="2030-01-01 00:00:00") for r in rows]
    assert fracs(wl.check(write(moved, tmp_path / "t"))) == (1.0, 1.0)


def test_unknown_url_fails():
    rows = ocr_rows()
    extra = dict(rows[0], url="https://example.test/never-input")
    assert checks.fail_count(rows + [extra], {r["url"]: None for r in rows}) == 1


def test_web_reference_row_matches_committed_shape():
    result = {"main_text": "a b", "spans": [(0, 1), (2, 3)]}
    ref = checks.web_reference_row("u", result)
    committed = {"url": "u", "status": "ok", "main_text": "a b",
                 "spans": [{"start": 0, "end": 1}, {"start": 2, "end": 3}]}
    assert (checks.row_digest(ref, WebSmall().outputs)
            == checks.row_digest(committed, WebSmall().outputs))
    committed["spans"][1]["end"] = 4
    assert (checks.row_digest(ref, WebSmall().outputs)
            != checks.row_digest(committed, WebSmall().outputs))


def test_query_check_counts_mismatch_and_missing(tmp_path):
    wl = IterQueries()
    oracle = pd.DataFrame({"node": [1, 2, 3], "label": [1, 1, 3]})
    wl.oracle = {"pagerank": oracle, "communities": oracle}
    out = tmp_path / "pass"
    (out / "pagerank").mkdir(parents=True)
    # Spark's int32 against DuckDB's int64, rows in another order: equal
    pq.write_table(pa.table({"label": pa.array([3, 1, 1], pa.int32()),
                             "node": pa.array([3, 2, 1], pa.int32())}),
                   str(out / "pagerank" / "part-0.parquet"))
    names = ("pagerank", "communities")
    result = wl.check(out, names)
    assert (result.attempted, result.failed, result.matched) == (2, 1, 1)
    (out / "communities").mkdir()
    pq.write_table(pa.table({"node": [1, 2, 3], "label": [1, 2, 3]}),
                   str(out / "communities" / "part-0.parquet"))
    result = wl.check(out, names)
    assert (result.failed, result.matched) == (0, 1)


def test_unknown_query_name_fails_before_any_pass(tmp_path, monkeypatch):
    monkeypatch.syspath_prepend(str(Path(__file__).resolve().parents[2]))
    wl = IterQueries()
    wl.traced_only = wl.traced_only + ("pagerank_v2",)
    with pytest.raises(SystemExit, match="pagerank_v2"):
        wl.build_input(run=None, dest=tmp_path)
