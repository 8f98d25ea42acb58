"""Structured-Streaming wrapper: the reference's continuous folder-polling
scheduler (app/util_processar_pasta.py:253-353 — poll entrada/, move files,
backpressure, crash-requeue) re-expressed as an incremental batch stream.

``readStream`` over the pages table + ``Trigger.AvailableNow`` processes
everything that has arrived since the last checkpoint and stops; the
checkpoint directory replaces the folder lifecycle and the FileLock
mutual exclusion. Each micro-batch is one :func:`pipeline.run_resumable`
call, so the streaming face writes through the batch writer. The commit
log alone is at-least-once (a crash after the append but before the
batch's commit entry replays the batch); exactly-once comes from the
resume anti-join, which drops the replayed urls already committed.
Re-running the job is the reference's restart-requeue behavior
(app/util_processar_pasta.py:238-251) with no duplicate work.

No watermarks/event-time windows are needed: the reference has no
event-time semantics (SURVEY.md §2.10) — this is incremental batch, which
is also the honest production shape for crawl snapshots.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..pipeline import run_resumable
from ..schemas import PAGES_SCHEMA


def run_available_now(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    num_partitions: int | None = None,
) -> None:
    """Process all pending page files once (Trigger.AvailableNow) and stop.

    Each micro-batch runs the batch path's resumable OCR extraction
    (foreachBatch), so streaming and batch can never diverge
    semantically.
    """
    stream = spark.readStream.schema(PAGES_SCHEMA).parquet(input_path)
    (
        stream.writeStream.foreachBatch(
            lambda batch_df, batch_id: run_resumable(
                batch_df.sparkSession, batch_df, output_path, num_partitions
            )
        )
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
