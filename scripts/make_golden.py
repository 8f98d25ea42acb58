"""Generate the committed golden oracles for the flagship kernel queries.

``extract_docs`` / ``extract_lineage`` run the per-document extraction
kernel (greedy reading-order rewrite, stateful page renumbering —
non-SQL-expressible), so their DuckDB oracle is a committed golden parquet
instead of a SQL twin. The golden is produced HERE by the single-threaded
pure-Python oracle path (:func:`servico_ocr_spark.pipeline.analyze_page_row`
— the same path `tests/test_reference_differential.py` proves byte-identical
to the actual reference), NOT by the Spark mapInArrow stage. The driver's
hash row therefore checks: distributed Spark execution ≡ committed
single-threaded oracle output.

Spark is used only for the `pages_from_documents` JVM projection (payload
bytes must match what the Spark query feeds the kernel — `to_json` field
order is an engine detail we must not re-implement divergently in Python).

Usage: python scripts/make_golden.py [sf_dir]
Regenerate ONLY when testdata changes (TESTDATA.md: deterministic, seed=42)
or when the kernel semantics change deliberately. The committed input
fingerprint in tests/golden/INPUTS.json lets tests detect silent drift.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

GOLDEN_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                          "tests", "golden")

# [0-9], NOT \d: Python \d matches Unicode digits (and int() parses them)
# while the Spark twin's JVM regexp_extract is ASCII-only — pin identical
# ASCII semantics so the golden can never diverge on exotic digits.
_N_PAGES_RE = re.compile(r'"n_pages":([0-9]+)')


def _est_pages(html: bytes) -> int:
    """Python mirror of pipeline.with_page_estimate (120-byte prefix scan)."""
    prefix = bytes(html)[:120].decode("utf-8", errors="replace")
    m = _N_PAGES_RE.search(prefix)
    return int(m.group(1)) if m else 1


def golden_frames(
    pages_rows: list,
) -> tuple[pd.DataFrame, pd.DataFrame, pd.DataFrame]:
    """(extract_docs, extract_lineage, extract_texts goldens) from
    (url, html) rows, via the pure-Python oracle kernel. extract_texts
    carries the full extracted_text per ok url — the input table for
    oracles of queries that run DOWNSTREAM of extraction (extract_neardups
    computes minhash over it in SQL)."""
    from servico_ocr_spark.pipeline import analyze_page_row, document_row

    docs, lineage, texts = [], [], []
    for url, html in pages_rows:
        # the Spark stage's own per-doc wrapper, errors routed to 'erro'
        row = document_row(analyze_page_row, {
            "url": url, "html": bytes(html), "partition_id": None})
        lineage.append(
            {"url": url, "status": row["status"], "est_pages": _est_pages(html)}
        )
        if row["status"] == "ok":
            docs.append(
                {
                    "url": url,
                    "paginas": row["paginas"],
                    "pagina_tipo": row["pagina_tipo"],
                    "qtd_letras": row["qtd_letras"],
                    "qtd_palavras": row["qtd_palavras"],
                    "text_len": len(row["extracted_text"]),
                    "n_spans": len(row["spans"]),
                }
            )
            texts.append({"url": url, "extracted_text": row["extracted_text"]})
    # sort by url: the committed file must not encode Spark's scan-split
    # row order (a partitioning change would otherwise fail the drift test
    # with zero semantic drift); the driver's compare is order-insensitive
    docs_df = (
        pd.DataFrame(docs).sort_values("url").reset_index(drop=True)
    )
    lin = pd.DataFrame(lineage)
    lineage_df = (
        lin.groupby("status", as_index=False)
        .agg(n_docs=("url", "size"), est_pages_sum=("est_pages", "sum"))
        .sort_values("status")
        .reset_index(drop=True)
    )
    texts_df = (
        pd.DataFrame(texts).sort_values("url").reset_index(drop=True)
    )
    return docs_df, lineage_df, texts_df


DOCS_ARROW_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("paginas", pa.int32()),
        ("pagina_tipo", pa.string()),
        ("qtd_letras", pa.int32()),
        ("qtd_palavras", pa.int32()),
        ("text_len", pa.int32()),
        ("n_spans", pa.int32()),
    ]
)
LINEAGE_ARROW_SCHEMA = pa.schema(
    [("status", pa.string()), ("n_docs", pa.int64()), ("est_pages_sum", pa.int64())]
)
TEXTS_ARROW_SCHEMA = pa.schema(
    [("url", pa.string()), ("extracted_text", pa.string())]
)


def collect_pages(spark, sf_dir: str) -> list:
    from servico_ocr_spark.corpus import pages_from_documents

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rows = pages_from_documents(docs).select("url", "html").collect()
    return [(r["url"], r["html"]) for r in rows]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from servico_ocr_spark.session import get_spark

    spark = get_spark(master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    pages_rows = collect_pages(spark, sf_dir)
    spark.stop()

    docs_df, lineage_df, texts_df = golden_frames(pages_rows)
    os.makedirs(GOLDEN_DIR, exist_ok=True)
    pq.write_table(
        pa.Table.from_pandas(docs_df, schema=DOCS_ARROW_SCHEMA, preserve_index=False),
        os.path.join(GOLDEN_DIR, "extract_docs_sf0.01.parquet"),
    )
    pq.write_table(
        pa.Table.from_pandas(
            lineage_df, schema=LINEAGE_ARROW_SCHEMA, preserve_index=False
        ),
        os.path.join(GOLDEN_DIR, "extract_lineage_sf0.01.parquet"),
    )
    pq.write_table(
        pa.Table.from_pandas(
            texts_df, schema=TEXTS_ARROW_SCHEMA, preserve_index=False
        ),
        os.path.join(GOLDEN_DIR, "extract_texts_sf0.01.parquet"),
    )
    with open(f"{sf_dir}/documents.parquet", "rb") as fh:
        input_md5 = hashlib.md5(fh.read()).hexdigest()
    with open(os.path.join(GOLDEN_DIR, "INPUTS.json"), "w") as fh:
        json.dump(
            {
                "sf_dir": sf_dir,
                "documents_parquet_md5": input_md5,
                "n_docs_rows": len(docs_df),
                "lineage_rows": len(lineage_df),
            },
            fh,
            indent=2,
        )
    print(f"golden written: {len(docs_df)} docs rows, "
          f"{len(lineage_df)} lineage rows, input md5 {input_md5}")


if __name__ == "__main__":
    main()
