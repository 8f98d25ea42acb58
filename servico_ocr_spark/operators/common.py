"""Shared column builders for the cross-document operators.

Every primitive here is a deterministic JVM expression, and each has an
exact DuckDB-SQL twin (used by the driver's correctness oracles in
``__spark_entry__.py``), so operator results are engine-portable:

- ``h48(col)``: first 12 hex chars of md5 as a 48-bit non-negative BIGINT.
  Spark: ``conv(substr(md5(x),1,12),16,10)``; DuckDB:
  ``('0x' || substr(md5(x),1,12))::BIGINT``.
- ``norm_text``: the reference normalization (X1, app/util_ocr.py:309-320)
  as pure SQL: accent translate → symbol strip → lower.

It also holds :func:`cut`, the one place that decides how a lineage is
cut.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..core.text import ACCENT_DST, ACCENT_SRC


def cut(df: DataFrame) -> DataFrame:
    """Cut ``df``'s lineage: same rows, and a logical plan that is one
    ``LogicalRDD`` with nothing upstream. Every cut in the package and
    the driver entry goes through here, so this is the whole policy:

    - **When.** Cut a frame that is referenced several times downstream
      (a loop's static table, a round's state, a frame read under
      several partitionings). Uncut, every reference inlines the whole
      upstream: the driver re-analyses and (AQE) re-plans it each
      round, and consumers that need different hash partitionings
      re-execute it, since ReuseExchange cannot dedupe them. Where the
      consumers share an exchange, AQE already reuses it and a cut
      measured neutral to worse.
    - **Lazy.** No job of its own: the first action downstream (often a
      loop's convergence count or checksum) stores the blocks. Under
      AQE, building the cut's RDD runs its upstream query stages at the
      call, so a slow query's wall can sit in constructing the
      DataFrame: split build from action first when diagnosing one.
    - **Local.** Blocks live in executor storage only; losing an
      executor that holds them fails the job instead of recomputing.
    - **Attribute ids survive.** Joining the cut frame again with a
      frame derived from it (a walk's frontier against its neighbor
      table) needs fresh ``.alias()`` names on both sides.

    Spark's event log and UI show every cut as the call site
    ``localCheckpoint at NativeMethodAccessorImpl.java:0``.
    """
    return df.localCheckpoint(eager=False)


def h48(col: Column) -> Column:
    """Deterministic 48-bit hash, portable across Spark and DuckDB."""
    return F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("long")


def norm_text(col: Column) -> Column:
    """Reference text normalization (accent fold, symbol→space, lower)."""
    return F.lower(
        F.regexp_replace(
            F.translate(col, ACCENT_SRC, ACCENT_DST), "[^0-9a-zA-Z ]", " "
        )
    )


def words_array(col: Column) -> Column:
    """Non-empty whitespace tokens of the normalized text."""
    return F.filter(F.split(norm_text(col), " "), lambda x: x != "")


def distinct_words(col: Column) -> Column:
    return F.array_distinct(words_array(col))
