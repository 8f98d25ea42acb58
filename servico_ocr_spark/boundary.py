"""The one JVM↔Python boundary outside ``streaming/``.

Every Python stage of the engine crosses into Python through
:func:`map_documents`: Arrow record batches in through ``mapInArrow``, one
dict per input row out, rebuilt into a record batch of the declared
schema. No pandas on either side: a row is a plain dict, so list and
struct columns go straight between Arrow and the per-row function's own
lists and dicts.

``pipeline.extract`` runs both extraction faces (OCR and web,
``pipeline.FACES``) through it with ``pipeline.document_row`` around the
face's kernel. A stage that emits zero or several rows per input row
returns them as one ``array<struct>`` column and ends in
``.select(key, F.inline(col))``, so the fan-out happens in the JVM
(``sources.warc.read_warc_records``, ``operators.multimodal.sample_frames``);
a NULL or empty array gives no rows. A stage that skips rows filters them
in the JVM before the boundary.
"""

from __future__ import annotations

from functools import partial
from typing import Callable, Iterable, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def documents_kernel(
    batches: Iterable[pa.RecordBatch],
    per_doc: Callable[[dict], dict],
    schema: pa.Schema,
) -> Iterator[pa.RecordBatch]:
    """``mapInArrow`` body: ``per_doc`` over every row of every batch, one
    output batch per non-empty input batch (an empty partition yields
    none)."""
    for batch in batches:
        rows = [per_doc(row) for row in batch.to_pylist()]
        if rows:
            yield pa.RecordBatch.from_pylist(rows, schema=schema)


def map_documents(
    df: DataFrame, per_doc: Callable[[dict], dict], schema: StructType
) -> DataFrame:
    """``df`` → one row per input row, ``per_doc(row)`` each, typed by
    ``schema``. ``per_doc`` takes a dict of ``df``'s columns and returns a
    dict with (at least) every field of ``schema``; a missing key is NULL.
    It must be picklable: Spark ships it to the Python workers."""
    kernel = partial(
        documents_kernel, per_doc=per_doc, schema=to_arrow_schema(schema)
    )
    return df.mapInArrow(kernel, schema)
