"""WARC (ISO 28500) record splitting — Common Crawl's container format
as a first-class source.

A WARC file is a concatenation of records, each a ``WARC/x.y`` header
block terminated by CRLFCRLF, followed by exactly ``Content-Length``
payload octets and a CRLFCRLF record separator. The parser follows the
spec's framing rule: records are delimited by ``Content-Length``
arithmetic, NEVER by scanning for the ``WARC/`` magic — payloads may
legally contain the magic bytes (a page quoting a WARC file must not
split the record). Malformed input degrades per-blob, not per-job: a
truncated or unframable record emits one error row and parsing of that
blob stops (everything after an unframable point is unattributable),
while other blobs in the same task are unaffected — the pipeline's
error-isolation contract (pipeline.py's corrupt-input rule).

Scale shape: one pass of the binary blob column through
``boundary.map_documents`` (``mapInArrow``, no pandas) — embarrassingly
parallel, no shuffle; a blob never spans tasks (the parquet row is the
atom, matching how Common Crawl WARCs are processed per file). Python
returns each blob's records as one array column and the JVM fans them
out to rows with ``inline``. Memory is bounded by the largest single blob
per batch, the same bound the OCR rasterizer already lives with.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType, BinaryType, LongType, StringType, StructField, StructType,
)

from ..boundary import map_documents

WARC_RECORDS_SCHEMA = StructType(
    [
        StructField("blob_id", LongType(), False),
        StructField("rec_index", LongType(), False),
        StructField("url", StringType(), True),
        StructField("warc_ts", StringType(), True),
        StructField("payload", BinaryType(), True),
        StructField("n_bytes", LongType(), False),
        StructField("error", StringType(), True),
    ]
)

_COLS = [f.name for f in WARC_RECORDS_SCHEMA.fields][1:]
# the boundary's row: one blob, its records as one array column
_BLOB_RECORDS_SCHEMA = StructType([
    WARC_RECORDS_SCHEMA["blob_id"],
    StructField("records", ArrayType(WARC_RECORDS_SCHEMA[1:], False), False),
])


def split_warc_records(blob: bytes) -> list[tuple]:
    """Pure-Python record splitter (the kernel, reused verbatim by the
    unit tests as their oracle): list of
    ``(rec_index, url, warc_ts, payload, n_bytes, error)``."""
    recs: list[tuple] = []
    pos, i, n = 0, 0, len(blob)
    while pos < n:
        while blob[pos:pos + 2] == b"\r\n":  # inter-record separators
            pos += 2
        if pos >= n:
            break
        end_hdr = blob.find(b"\r\n\r\n", pos)
        if end_hdr < 0:
            recs.append((i, None, None, None, 0, "truncated header"))
            break
        header = blob[pos:end_hdr].decode("ascii", "replace")
        lines = header.split("\r\n")
        if not lines[0].startswith("WARC/"):
            recs.append((i, None, None, None, 0, "bad magic"))
            break
        fields = {}
        for line in lines[1:]:
            k, _, v = line.partition(":")
            fields[k.strip().lower()] = v.strip()
        url = fields.get("warc-target-uri")
        ts = fields.get("warc-date")
        digits = fields.get("content-length", "")
        if not (digits.isascii() and digits.isdigit()):  # 1*DIGIT: no sign
            recs.append((i, url, ts, None, 0, "bad content-length"))
            break
        clen = int(digits)
        start = end_hdr + 4
        payload = blob[start:start + clen]
        if len(payload) < clen:
            recs.append(
                (i, url, ts, None, len(payload), "truncated payload")
            )
            break
        recs.append((i, url, ts, payload, clen, None))
        pos = start + clen
        i += 1
    return recs


def _blob_records(row: dict) -> dict:
    return {
        "blob_id": row["blob_id"],
        "records": [
            dict(zip(_COLS, rec)) for rec in split_warc_records(row["warc"])
        ],
    }


def read_warc_records(
    blobs: DataFrame,
    id_col: str = "blob_id",
    payload_col: str = "warc",
) -> DataFrame:
    """Split a binary WARC-blob column into one row per record:
    ``(blob_id, rec_index, url, warc_ts, payload, n_bytes, error)``.
    Well-formed records carry ``error = NULL``; a malformed record is
    one non-null-``error`` row ending that blob's parse (framing after
    an unframable point is guesswork — refuse rather than misattribute
    payload bytes to the wrong url). A NULL blob gives no rows."""
    blobs = blobs.where(F.col(payload_col).isNotNull()).select(
        F.col(id_col).cast("long").alias("blob_id"),
        F.col(payload_col).alias("warc"),
    )
    return map_documents(blobs, _blob_records, _BLOB_RECORDS_SCHEMA).select(
        "blob_id", F.inline("records")
    )
