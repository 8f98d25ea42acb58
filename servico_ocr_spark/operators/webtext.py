"""Spark face of the HTML main-content extractor (north-rule web face).

:func:`web_analysis` is ``pipeline.extract`` with the web face
(``pipeline.FACES["web"]``): the pure kernel
(`core/html_extract.extract_main`) runs through the same one Arrow
boundary and lineage wrapper as the OCR face, the scan stays JVM-side and
column-pruned to ``(url, html)``, and everything downstream (hashing,
joins, dedup over the extracted text) is whole-stage-codegen DataFrame
expressions again.

At 100 TB the face is embarrassingly parallel (no shuffle at all —
``.explain`` shows scan → MapInArrow, nothing else), so scaling is
bounded by input split sizing (`spark.sql.files.maxPartitionBytes`) and
kernel throughput, not the planner. Skewed page sizes are mild compared
with the OCR path's multipage PDFs (HTML bytes per doc vary ~10², not
10⁴); set the face's ``balanced`` if a corpus proves otherwise.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, Window, functions as F

from ..pipeline import FACES, extract


def web_analysis(pages: DataFrame) -> DataFrame:
    """pages(url, html:binary) → WEB_ANALYSIS_SCHEMA: main text, spans,
    block metrics and the lineage columns of the OCR face (reference
    status lifecycle app/util_processar_pasta.py:146-156). ``status`` is
    always ``'ok'`` and ``error`` NULL: the kernel is total (corrupt bytes
    decode with replacement and the scanner never raises), so a bad page
    is an ordinary row with zero blocks. ``partition_id`` names the task
    that ran the kernel — what a re-run or straggler investigation needs
    to find the offending input split."""
    return extract(pages, FACES["web"])


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
