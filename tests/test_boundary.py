"""Edge cases of the extraction faces' one Arrow boundary
(``boundary.map_documents``), for the OCR face (``pipeline.run_extraction``)
and the web face (``webtext.extract_main_content``)."""

from functools import partial

import pyarrow as pa
import pytest
from pyspark.sql.pandas.types import to_arrow_schema

from servico_ocr_spark.boundary import documents_kernel
from servico_ocr_spark.operators.webtext import (
    MAIN_CONTENT_SCHEMA,
    _main_content_row,
    extract_main_content,
)
from servico_ocr_spark.pipeline import _analyze_row, run_extraction
from servico_ocr_spark.schemas import ANALYSIS_SCHEMA

CORRUPT = [
    (f"https://example.test/corrupt/{i}", bytes([0, 255, 26, i, 0]))
    for i in range(3)
]
LIST_AND_STRUCT_COLS = [
    f.name for f in ANALYSIS_SCHEMA.fields
    if f.dataType.typeName() in ("array", "struct")
]

ocr_kernel = partial(
    documents_kernel, per_doc=_analyze_row,
    schema=to_arrow_schema(ANALYSIS_SCHEMA),
)
web_kernel = partial(
    documents_kernel,
    per_doc=partial(_main_content_row, url_col="url", html_col="html",
                    min_words=0),
    schema=to_arrow_schema(MAIN_CONTENT_SCHEMA),
)


def test_all_corrupt_partition_gives_null_error_rows(spark):
    pages = spark.createDataFrame(CORRUPT, "url string, html binary")
    out = run_extraction(pages, balance=False)
    assert out.schema == ANALYSIS_SCHEMA
    rows = out.collect()
    assert [r["status"] for r in rows] == ["erro"] * len(CORRUPT)
    for r in rows:
        assert all(r[name] is None for name in LIST_AND_STRUCT_COLS)


@pytest.mark.parametrize("kernel", [ocr_kernel, web_kernel],
                         ids=["ocr", "web"])
def test_empty_partition_yields_no_batch(kernel):
    empty = pa.RecordBatch.from_pylist(
        [{"url": "u", "html": b"x", "est_pages": 1, "partition_id": 0}]
    ).slice(0, 0)
    assert list(kernel(iter([]))) == []
    assert list(kernel(iter([empty, empty]))) == []


@pytest.mark.parametrize("face", ["ocr", "web"])
def test_null_url_fails_the_task(spark, face):
    pages = spark.createDataFrame(
        [("https://example.test/ok", b"<p>x</p>"), (None, b"<p>y</p>")],
        "url string, html binary",
    )
    out = (run_extraction(pages, balance=False) if face == "ocr"
           else extract_main_content(pages))
    with pytest.raises(Exception, match="NullPointerException"):
        out.collect()
