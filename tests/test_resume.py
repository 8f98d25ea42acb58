"""What a resumable run (``pipeline.run_resumable``) does with the output
directory it resumes from, on both extraction faces: no directory, or one
with nothing committed, is a fresh run; tasks left uncommitted by a
crashed job are reprocessed, never published; an unreadable table fails
the run before it appends anything."""

import os
import shutil

import pytest

from servico_ocr_spark.corpus import build_corpus, html_pages_from_documents
from servico_ocr_spark.pipeline import run_resumable
from servico_ocr_spark.schemas import PAGES_SCHEMA

SF = "/root/testdata/sf0.001"
N = 4
FACES = ["ocr", "web"]
TEXT = {"ocr": "extracted_text", "web": "main_text"}


def _pages(spark, face, n=N):
    if face == "ocr":
        return spark.createDataFrame(build_corpus(n), schema=PAGES_SCHEMA)
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(n)
    return html_pages_from_documents(docs)


def _listing(path):
    return sorted(
        os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
    )


@pytest.mark.parametrize("face", FACES)
def test_missing_output_dir_is_a_fresh_run(spark, tmp_path, face):
    out = str(tmp_path / "out")
    run_resumable(spark, _pages(spark, face), out, face=face)
    assert spark.read.parquet(out).count() == N


@pytest.mark.parametrize("face", FACES)
def test_uncommitted_output_dir_is_a_fresh_run(spark, tmp_path, face):
    """A first run that died before any commit leaves only a task
    attempt under ``_temporary``: nothing was committed, so nothing is
    skipped."""
    out = tmp_path / "out"
    attempt = out / "_temporary" / "0" / "_temporary" / "attempt_0"
    attempt.mkdir(parents=True)
    (attempt / "part-0000.parquet").write_bytes(b"x")
    run_resumable(spark, _pages(spark, face), str(out), face=face)
    assert spark.read.parquet(str(out)).count() == N


@pytest.mark.parametrize("layout", ["task_dir", "bare_file"])
@pytest.mark.parametrize("face", FACES)
def test_tasks_of_a_crashed_job_are_redone_not_published(
    spark, tmp_path, face, layout
):
    """A job that crashed between its task commits and its job commit
    leaves 6 rows under ``_temporary/0`` (in a committed task's directory,
    Hadoop's v1 layout, or as a bare file). Resuming over 4 committed urls
    must end with exactly one row per url and the text of a clean run."""
    pages = _pages(spark, face, 8)
    urls = sorted(r["url"] for r in pages.select("url").collect())
    clean = str(tmp_path / "clean")
    run_resumable(spark, pages, clean, face=face)
    want = {r["url"]: r[TEXT[face]]
            for r in spark.read.parquet(clean).collect()}

    out = tmp_path / "out"
    run_resumable(spark, pages.where(pages.url.isin(urls[:4])), str(out),
                  face=face)
    crashed = str(tmp_path / "crashed")
    run_resumable(spark, pages.where(pages.url.isin(urls[2:])), crashed,
                  face=face)
    task = out / "_temporary" / "0"
    if layout == "task_dir":
        task = task / "task_202610190000_0000_m_000000"
    task.mkdir(parents=True)
    for part in _listing(crashed):
        if part.endswith(".parquet"):
            shutil.copy(part, task)

    run_resumable(spark, pages, str(out), face=face)
    got = [(r["url"], r[TEXT[face]])
           for r in spark.read.parquet(str(out)).collect()]
    assert sorted(u for u, _ in got) == urls
    assert dict(got) == want


@pytest.mark.parametrize("face", FACES)
def test_corrupt_output_dir_raises_and_appends_nothing(
    spark, tmp_path, face
):
    out = tmp_path / "out"
    out.mkdir()
    (out / "part-0000.parquet").write_bytes(b"not a parquet file")
    before = _listing(out)
    with pytest.raises(Exception, match="CANNOT_READ_FILE_FOOTER"):
        run_resumable(spark, _pages(spark, face), str(out), face=face)
    assert _listing(out) == before
