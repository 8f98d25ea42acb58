"""Declared schemas for every engine table.

The reference's schema is fixed by convention only (hardcoded dict keys,
app/util_ocr.py:6-24, README.md:31-51); the engine declares them as Spark
StructTypes so Catalyst can prune/push down and the Arrow boundary is typed.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# Input table per BASELINE.json input_hint — Common-Crawl-style pages.
PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), True),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)

# Enriched box record (app/util_ocr.py:6-24 after cleanup at :296-299;
# ordem_y survives cleanup in the reference output and is kept).
BOX_STRUCT = StructType(
    [
        StructField("pagina", IntegerType(), True),
        StructField("box", IntegerType(), True),
        StructField("id", IntegerType(), True),
        StructField("pagina_la", ArrayType(IntegerType()), True),
        StructField("pagina_tipo", StringType(), True),
        StructField("box_xyla", ArrayType(IntegerType()), True),
        StructField("alt_linhas", IntegerType(), True),
        StructField("alt_linhas_med", IntegerType(), True),
        StructField("qtd_linhas", IntegerType(), True),
        StructField("qtd_boxes", IntegerType(), True),
        StructField("qtd_letras", IntegerType(), True),
        StructField("qtd_palavras", IntegerType(), True),
        StructField("margens_edsi", ArrayType(IntegerType()), True),
        StructField("bordas", ArrayType(StringType()), True),
        StructField("texto", StringType(), True),
        StructField("tipo", StringType(), True),
        StructField("tipo_sugerido", StringType(), True),
        StructField("ordem_y", DoubleType(), True),
    ]
)

SPAN_STRUCT = StructType(
    [
        StructField("box_id", IntegerType(), True),
        StructField("start", IntegerType(), True),
        StructField("end", IntegerType(), True),
        StructField("tipo", StringType(), True),
    ]
)

# One row per document out of the extraction stage: docs + boxes + lineage
# in a single pass (split into the three output tables by column selects).
ANALYSIS_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("status", StringType(), False),
        StructField("error", StringType(), True),
        StructField("paginas", IntegerType(), True),
        StructField("n_boxes", IntegerType(), True),
        StructField("mean_conf", DoubleType(), True),
        StructField("qtd_letras", IntegerType(), True),
        StructField("qtd_palavras", IntegerType(), True),
        StructField("pagina_tipo", StringType(), True),
        StructField("extracted_text", StringType(), True),
        StructField("clean_text", StringType(), True),
        StructField("md", StringType(), True),
        StructField("html_render", StringType(), True),
        StructField("spans", ArrayType(SPAN_STRUCT), True),
        StructField("boxes", ArrayType(BOX_STRUCT), True),
        StructField("partition_id", IntegerType(), True),
        StructField("dthr", StringType(), True),
        StructField("est_pages", LongType(), True),
    ]
)

# One row per page out of the web face (core/html_extract.extract_main),
# with the same lineage columns as ANALYSIS_SCHEMA. The kernel is total, so
# ``error`` stays NULL.
WEB_ANALYSIS_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("main_text", StringType(), True),
        StructField("spans", ArrayType(StructType([
            StructField("start", IntegerType(), False),
            StructField("end", IntegerType(), False),
        ])), True),
    ]
    + [
        StructField(name, LongType(), True)
        for name in (
            "n_blocks", "n_kept", "n_dropped_link", "n_links",
            "main_chars", "main_words",
        )
    ]
    + [
        StructField("partition_id", IntegerType(), True),
        StructField("status", StringType(), False),
        StructField("error", StringType(), True),
        StructField("dthr", StringType(), True),
    ]
)

DOCS_COLUMNS = [
    "url", "paginas", "pagina_tipo", "extracted_text", "clean_text",
    "spans", "mean_conf", "qtd_letras", "qtd_palavras", "md", "html_render",
]
LINEAGE_COLUMNS = [
    "url", "partition_id", "status", "error", "dthr", "paginas", "n_boxes",
    "mean_conf", "est_pages",
]
