"""Spark face of the HTML main-content extractor (north-rule web face).

``extract_main_content`` runs the pure kernel
(`core/html_extract.extract_main`) through the same one Arrow boundary as
the OCR pipeline (`boundary.map_documents`, a ``mapInArrow``): the scan
stays JVM-side and column-pruned to ``(url, html)``, the per-document
Python work sees plain dicts, and everything downstream (hashing, joins,
dedup over the extracted text) is whole-stage-codegen DataFrame
expressions again.

At 100 TB the operator is embarrassingly parallel (no shuffle at all —
``.explain`` shows scan → MapInArrow, nothing else), so scaling is
bounded by input split sizing (`spark.sql.files.maxPartitionBytes`) and
kernel throughput, not the planner. Skewed page sizes are mild compared
with the OCR path's multipage PDFs (HTML bytes per doc vary ~10², not
10⁴); reuse `pipeline.run_extraction`'s salted repartition if a corpus
proves otherwise.
"""

from __future__ import annotations

import re
from functools import partial

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import (
    ArrayType, IntegerType, LongType, StringType, StructField, StructType,
)

from ..boundary import map_documents
from ..core.html_extract import extract_main

SPAN_SCHEMA = StructType(
    [
        StructField("start", IntegerType(), False),
        StructField("end", IntegerType(), False),
    ]
)

MAIN_CONTENT_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("main_text", StringType(), True),
        StructField("spans", ArrayType(SPAN_SCHEMA), True),
        StructField("n_blocks", LongType(), True),
        StructField("n_kept", LongType(), True),
        StructField("n_dropped_link", LongType(), True),
        StructField("n_links", LongType(), True),
        StructField("main_chars", LongType(), True),
        StructField("main_words", LongType(), True),
    ]
)

_METRIC_COLS = (
    "n_blocks", "n_kept", "n_dropped_link", "n_links",
    "main_chars", "main_words",
)


def _main_content_row(
    row: dict, url_col: str, html_col: str, min_words: int
) -> dict:
    r = extract_main(row[html_col], min_words=min_words)
    out = {col: r[col] for col in _METRIC_COLS}
    # passed through unchanged: the schema declares url non-null, so a
    # null url fails the task loudly instead of writing a keyless row
    out["url"] = row[url_col]
    out["main_text"] = r["main_text"]
    out["spans"] = [{"start": start, "end": end} for start, end in r["spans"]]
    return out


def extract_main_content(
    pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    min_words: int = 0,
) -> DataFrame:
    """pages(url, html:binary) → main text + spans + block metrics.

    Lenient end to end: corrupt bytes decode with replacement and parse
    leniently (``html.parser`` never raises), so a bad page yields an
    empty/odd row, never a failed task — the reference's error-isolation
    stance (app/util_processar_pasta.py:412-421) without a side channel,
    because unlike OCR there is no exception path to route.
    """
    per_doc = partial(
        _main_content_row, url_col=url_col, html_col=html_col,
        min_words=min_words,
    )
    return map_documents(
        pages.select(url_col, html_col), per_doc, MAIN_CONTENT_SCHEMA
    )


def web_analysis(
    pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    min_words: int = 0,
) -> DataFrame:
    """Web-face analog of ``pipeline.run_extraction``'s analysis table:
    the main-content extraction plus lineage columns (``partition_id``,
    ``status``, ``dthr``), mirroring the OCR face's per-row lineage
    (schemas.LINEAGE_COLUMNS; reference status lifecycle
    app/util_processar_pasta.py:146-156). ``status`` is always ``'ok'``:
    the HTML kernel is total (corrupt bytes decode with replacement and
    the scanner never raises), so unlike OCR there is no error path to
    route — a bad page is an ordinary row with zero blocks.

    ``spark_partition_id()`` is taken directly on the mapInArrow output
    (no exchange in between), so it identifies the exact task that ran
    the kernel for each row — at 10^12 docs that is what a re-run /
    straggler investigation needs to find the offending input split.
    """
    return (
        extract_main_content(
            pages, url_col=url_col, html_col=html_col, min_words=min_words
        )
        .withColumn("partition_id", F.spark_partition_id())
        .withColumn("status", F.lit("ok"))
        .withColumn(
            "dthr", F.date_format(F.current_timestamp(), "yyyy-MM-dd HH:mm:ss")
        )
    )


def web_partition_metrics(analysis: DataFrame) -> DataFrame:
    """Per-partition rollup of a ``web_analysis`` result: one row per
    executed input partition with page counts and extraction-quality
    sums (the web-face twin of the north rule's per-partition lineage +
    metrics). Partial aggregation (map-side combine) makes this a
    near-free side output even at full scale."""
    return analysis.groupBy("partition_id").agg(
        F.count("*").cast("long").alias("n_pages"),
        F.sum("n_blocks").alias("total_blocks"),
        F.sum("n_kept").alias("kept_blocks"),
        F.sum("n_dropped_link").alias("link_dropped_blocks"),
        F.sum("n_links").alias("total_links"),
        F.sum("main_chars").alias("total_chars"),
        F.sum("main_words").alias("total_words"),
    )


def run_web_resumable(
    spark,
    pages: DataFrame,
    output_path: str,
    min_words: int = 0,
    url_buckets: int | None = None,
) -> None:
    """Checkpointed, resumable web-face batch run: anti-join processed
    urls → extract → append (exactly ``pipeline.run_resumable`` with the
    HTML kernel in place of OCR). Safe to re-run after a crash; every
    url is written exactly once."""
    from ..pipeline import resume_filter, write_analysis

    todo = resume_filter(spark, pages, output_path)
    write_analysis(
        web_analysis(todo, min_words=min_words), output_path,
        url_buckets=url_buckets,
    )


def drop_repeated_paragraphs(
    docs: DataFrame,
    max_df: int,
    id_col: str = "url",
    text_col: str = "main_text",
    sep: str = "\n",
) -> DataFrame:
    """Corpus-level boilerplate paragraph removal (CCNet/RefinedWeb-style).

    A paragraph that occurs more than ``max_df`` times across the corpus
    (cookie banners, footers that survived per-page heuristics, templated
    blurbs) is dropped from EVERY document; remaining paragraphs are
    re-joined in original order. All JVM expressions, two inherent
    shuffles and ONE pass over the input: a window count partitioned by
    the paragraph text (exact — partitioning by a hash digest instead
    would merge distinct paragraphs at 10^12-paragraph scale: birthday
    collisions on 48 bits are certain there), then a groupBy on the
    document id to reassemble. Every input document survives: empty/null
    texts ride through ``posexplode_outer`` as sentinel rows instead of a
    restoring join (which would re-execute the expensive upstream — e.g.
    the extraction MapInArrow — a second time just to list ids), and the
    sentinel rows are salted with the doc id in the window key so a
    corpus with many empty documents cannot create a hot '' partition.

    A paragraph with corpus-wide df ~10^8 makes its window partition a
    straggler — same measured trade as the minhash word-df cap
    (`dedup._cap_doc_freq`, BENCH/PLANS.md §5): the count-only window
    beat the groupBy+join-back shape and the skew is one linear scan.

    Returns (id_col, clean_text, n_paras, n_kept, n_dropped).
    """
    # F.split takes a Java regex while F.array_join below re-joins with
    # the LITERAL sep — escape so a metachar separator ('|', '.') splits
    # literally too (re.escape backslash-escapes punctuation only, which
    # Java Pattern reads identically).
    paras = (
        docs.select(
            id_col, F.posexplode_outer(F.split(text_col, re.escape(sep)))
        )
        .withColumnRenamed("pos", "p_idx")
        .withColumnRenamed("col", "para")
    )
    real = F.col("para").isNotNull() & (F.col("para") != "")
    paras = paras.withColumn(
        "salt", F.when(real, F.lit("")).otherwise(F.col(id_col))
    )
    paras = paras.withColumn(
        "df",
        F.count(F.when(real, F.lit(1))).over(
            Window.partitionBy("para", "salt")
        ),
    )
    keep = real & (F.col("df") <= F.lit(max_df))
    return (
        paras.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(keep, F.struct("p_idx", "para"))
                        )
                    ),
                    lambda x: x["para"],
                ),
                sep,
            ).alias("clean_text"),
            F.sum(real.cast("long")).alias("n_paras"),
            F.sum(keep.cast("long")).alias("n_kept"),
        )
        .select(
            id_col,
            "clean_text",
            "n_paras",
            "n_kept",
            (F.col("n_paras") - F.col("n_kept")).alias("n_dropped"),
        )
    )
