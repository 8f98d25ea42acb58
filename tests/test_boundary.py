"""Edge cases of the one Arrow boundary (``boundary.map_documents``): the
per-document wrapper around it (``pipeline.document_row``) for both faces
of ``pipeline.extract``, and the fan-out shape (an ``array<struct>``
column, then ``inline`` in the JVM) of the stages that emit zero or
several rows per input row."""

from functools import partial

import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType, LongType, StructField, StructType,
)

from servico_ocr_spark.boundary import documents_kernel, map_documents
from servico_ocr_spark.corpus import build_corpus, html_pages_from_documents
from servico_ocr_spark.pipeline import (
    FACES, JOB_TS, document_row, extract, run_extraction,
)
from servico_ocr_spark.schemas import ANALYSIS_SCHEMA, PAGES_SCHEMA
from servico_ocr_spark.sources.warc import (
    WARC_RECORDS_SCHEMA, read_warc_records,
)

SF = "/root/testdata/sf0.001"
CORRUPT = [
    (f"https://example.test/corrupt/{i}", bytes([0, 255, 26, i, 0]))
    for i in range(3)
]
LIST_AND_STRUCT_COLS = [
    f.name for f in ANALYSIS_SCHEMA.fields
    if f.dataType.typeName() in ("array", "struct")
]
LINEAGE = ["partition_id", "status", "error", "dthr"]


def _kernel(face):
    return partial(
        documents_kernel, per_doc=partial(document_row, FACES[face].kernel),
        schema=to_arrow_schema(FACES[face].schema),
    )


def test_all_corrupt_partition_gives_null_error_rows(spark):
    pages = spark.createDataFrame(CORRUPT, "url string, html binary")
    out = run_extraction(pages.coalesce(1), num_partitions=1)
    assert out.schema == ANALYSIS_SCHEMA
    rows = out.collect()
    assert [r["status"] for r in rows] == ["erro"] * len(CORRUPT)
    for r in rows:
        assert all(r[name] is None for name in LIST_AND_STRUCT_COLS)


@pytest.mark.parametrize("face", ["ocr", "web"])
def test_empty_partition_yields_no_batch(face):
    kernel = _kernel(face)
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
    with pytest.raises(Exception, match="NullPointerException"):
        extract(pages, FACES[face]).collect()


@pytest.mark.parametrize("face", ["ocr", "web"])
def test_raising_kernel_gives_erro_row_with_reference_message(face):
    """The shared wrapper routes a kernel's exception to a ``status='erro'``
    row with the reference message (``Erro: {msg[:30]}...``) and NULL
    outputs; the row fits the face's schema."""

    def boom(url, html):
        raise ValueError("x" * 40 if url.endswith("long") else "bad page")

    rows = [
        document_row(boom, {"url": f"https://example.test/{tail}",
                            "html": b"", "partition_id": 3})
        for tail in ("short", "long")
    ]
    assert [r["error"] for r in rows] == ["Erro: bad page",
                                          f"Erro: {'x' * 30}..."]
    batch = pa.RecordBatch.from_pylist(
        rows, schema=to_arrow_schema(FACES[face].schema))
    for r in batch.to_pylist():
        lineage = (r["status"], r["partition_id"], r["dthr"])
        assert lineage == ("erro", 3, JOB_TS)
        outputs = set(r) - {"url", *LINEAGE}
        assert all(r[c] is None for c in outputs)


def test_both_faces_write_the_same_lineage(spark, tmp_path):
    """Both faces carry the lineage columns with one type each and the
    same constant ``dthr``; ``partition_id`` names a task of the run."""
    pages = {
        "ocr": spark.createDataFrame(build_corpus(8), schema=PAGES_SCHEMA),
        "web": html_pages_from_documents(
            spark.read.parquet(f"{SF}/documents.parquet").limit(8)),
    }
    lineage = {}
    for face, df in pages.items():
        out = str(tmp_path / face)
        extract(df, FACES[face], num_partitions=2).write.parquet(out)
        table = spark.read.parquet(out)
        lineage[face] = (
            [(c, table.schema[c].dataType) for c in LINEAGE],
            {r["dthr"] for r in table.select("dthr").collect()},
        )
        assert {r["partition_id"] for r in table.collect()} <= {0, 1}
    assert lineage["ocr"] == lineage["web"]
    assert lineage["ocr"][1] == {JOB_TS}


ITEM = StructType([StructField("j", LongType(), False)])
FAN_OUT = StructType([
    StructField("k", LongType(), False),
    StructField("items", ArrayType(ITEM, False), True),
])


def test_fan_out_gives_zero_one_or_k_rows_per_doc(spark):
    """0, 1 and k rows per doc; a NULL array gives none; the empty
    partitions of an 8-way split of 4 rows give none; the output keeps the
    struct's field types and nullability."""

    def _items(row):  # local: shipped to the workers by value
        n = row["n"]
        return {"k": row["k"],
                "items": None if n is None else [{"j": j} for j in range(n)]}

    docs = spark.createDataFrame(
        [(1, 0), (2, 1), (3, 4), (4, None)], "k long, n int")
    out = map_documents(docs.repartition(8), _items, FAN_OUT).select(
        "k", F.inline("items"))
    assert out.schema == StructType([FAN_OUT["k"], *ITEM.fields])
    assert sorted(tuple(r) for r in out.collect()) == [
        (2, 0), (3, 0), (3, 1), (3, 2), (3, 3)]
    none = map_documents(docs.where("k < 0"), _items, FAN_OUT)
    assert none.select("k", F.inline("items")).collect() == []


def test_fan_out_partition_of_only_malformed_warc_blobs(spark):
    """Every blob of the one partition is malformed: each gives exactly one
    error row, typed by ``WARC_RECORDS_SCHEMA``, and the task succeeds."""
    blobs = spark.createDataFrame(
        [(1, b"HTTP/1.1 200 OK\r\n\r\nbody"),
         (2, b"WARC/1.0\r\nContent-Length: 5"),
         (3, b"WARC/1.0\r\nContent-Length: -126\r\n\r\nabc"),
         (4, b"WARC/1.0\r\nContent-Length: 99\r\n\r\nshort")],
        "blob_id long, warc binary",
    ).coalesce(1)
    out = read_warc_records(blobs)
    assert out.schema == WARC_RECORDS_SCHEMA
    got = sorted((r["blob_id"], r["rec_index"], r["n_bytes"], r["error"])
                 for r in out.collect())
    assert got == [(1, 0, 0, "bad magic"), (2, 0, 0, "truncated header"),
                   (3, 0, 0, "bad content-length"),
                   (4, 0, 5, "truncated payload")]
