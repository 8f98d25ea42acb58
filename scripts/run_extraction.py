"""spark-submit entrypoint for the resumable extraction job of either face.

    spark-submit --py-files servico_ocr_spark.zip \
        scripts/run_extraction.py <input_pages_path> <output_path> \
        [--face ocr|web] [--partitions N]

Reads the pages table (url, warc_ts, html, text, lang), anti-joins already
processed urls (resume), runs the face's extraction (OCR layout analysis,
the default, or the web face's HTML main-content strip), appends the
analysis table with per-row lineage. Re-running after any failure is safe:
every url is written exactly once (the reference's folder-queue crash
recovery, app/util_processar_pasta.py:238-251, as a data-plane property).
"""

from __future__ import annotations

import argparse

from pyspark.sql import SparkSession

from servico_ocr_spark.pipeline import FACES, run_resumable
from servico_ocr_spark.sources import read_pages


def main() -> None:
    parser = argparse.ArgumentParser()
    parser.add_argument("input_path")
    parser.add_argument("output_path")
    parser.add_argument("--face", choices=sorted(FACES), default="ocr")
    parser.add_argument("--partitions", type=int, default=None)
    args = parser.parse_args()

    spark = SparkSession.builder.appName(
        f"servico-ocr-extraction-{args.face}").getOrCreate()
    pages = read_pages(spark, args.input_path)
    run_resumable(spark, pages, args.output_path,
                  num_partitions=args.partitions, face=args.face)
    spark.stop()


if __name__ == "__main__":
    main()
