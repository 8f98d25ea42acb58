"""What a resumable run does with the output directory it resumes from,
on both extraction faces (``pipeline.run_resumable`` and
``webtext.run_web_resumable``): no directory, or one with nothing
committed, is a fresh run; an unreadable table fails the run before it
appends anything."""

import os

import pytest

from servico_ocr_spark.corpus import build_corpus, html_pages_from_documents
from servico_ocr_spark.operators.webtext import run_web_resumable
from servico_ocr_spark.pipeline import run_resumable
from servico_ocr_spark.schemas import PAGES_SCHEMA

SF = "/root/testdata/sf0.001"
N = 4

RUNNERS = {"ocr": run_resumable, "web": run_web_resumable}


def _pages(spark, face):
    if face == "ocr":
        return spark.createDataFrame(build_corpus(N), schema=PAGES_SCHEMA)
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(N)
    return html_pages_from_documents(docs)


def _listing(path):
    return sorted(
        os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
    )


@pytest.mark.parametrize("face", ["ocr", "web"])
def test_missing_output_dir_is_a_fresh_run(spark, tmp_path, face):
    out = str(tmp_path / "out")
    RUNNERS[face](spark, _pages(spark, face), out)
    assert spark.read.parquet(out).count() == N


@pytest.mark.parametrize("face", ["ocr", "web"])
def test_uncommitted_output_dir_is_a_fresh_run(spark, tmp_path, face):
    """A first run that died before any commit leaves only a task
    attempt under ``_temporary``: nothing was committed, so nothing is
    skipped."""
    out = tmp_path / "out"
    attempt = out / "_temporary" / "0" / "_temporary" / "attempt_0"
    attempt.mkdir(parents=True)
    (attempt / "part-0000.parquet").write_bytes(b"x")
    RUNNERS[face](spark, _pages(spark, face), str(out))
    assert spark.read.parquet(str(out)).count() == N


@pytest.mark.parametrize("face", ["ocr", "web"])
def test_corrupt_output_dir_raises_and_appends_nothing(
    spark, tmp_path, face
):
    out = tmp_path / "out"
    out.mkdir()
    (out / "part-0000.parquet").write_bytes(b"not a parquet file")
    before = _listing(out)
    with pytest.raises(Exception, match="CANNOT_READ_FILE_FOOTER"):
        RUNNERS[face](spark, _pages(spark, face), str(out))
    assert _listing(out) == before
