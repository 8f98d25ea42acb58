"""The packaged job: ``scripts/submit_extraction.sh --face ocr|web`` ships
the engine as a ``--py-files`` zip through ``spark-submit`` and commits
exactly one row per input url, typed by the face's schema."""

import os
import subprocess
from pathlib import Path

import pytest

from servico_ocr_spark.corpus import build_corpus, html_pages_from_documents
from servico_ocr_spark.pipeline import FACES
from servico_ocr_spark.schemas import PAGES_SCHEMA

REPO = Path(__file__).resolve().parent.parent
SF = "/root/testdata/sf0.001"
N = 40


def _types(schema):
    return [(f.name, f.dataType.simpleString()) for f in schema.fields]


@pytest.mark.parametrize("face", ["web", "ocr"])
def test_submit_commits_one_row_per_url(spark, tmp_path, face):
    if face == "ocr":
        pages = spark.createDataFrame(build_corpus(N), schema=PAGES_SCHEMA)
    else:
        pages = html_pages_from_documents(
            spark.read.parquet(f"{SF}/documents.parquet").limit(N))
    src, out = str(tmp_path / "pages"), str(tmp_path / "out")
    pages.write.parquet(src)
    # the engine must reach the job through --py-files alone
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    subprocess.run(
        ["bash", str(REPO / "scripts" / "submit_extraction.sh"), src, out,
         "--face", face, "--master", "local[2]"],
        check=True, capture_output=True, timeout=300, cwd=tmp_path, env=env,
    )
    table = spark.read.parquet(out)
    urls = [r["url"] for r in table.select("url").collect()]
    assert len(urls) == len(set(urls)) == N
    assert _types(table.schema) == _types(FACES[face].schema)
