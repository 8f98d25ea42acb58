"""Stateful streaming operators: streaming twins of batch operators.

:func:`_fold` is the custom-stateful-operator extension point. It owns
the whole ``applyInPandasWithState`` protocol — per-key state read (or
started from ``init``), empty batches skipped, ``state.update``, one
REFRESHED row per key a micro-batch touched, append mode, no timeout —
so a twin is only its state schema, a pure ``step(acc, batch) -> acc``
and the projection of the state into its output row. Every fold twin
emits a changelog in append mode, so any sink works: an Iceberg/Delta
sink MERGEs it, a plain file sink keeps the row with the highest
(strictly monotone) counter per key.

:func:`dedupe_stream` needs no Python at all (JVM ``dropDuplicates``
state), and :func:`running_source_totals` demonstrates the Spark 4
``transformWithStateInPandas`` API.
"""

from __future__ import annotations

from typing import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)


def _fold(
    df: DataFrame,
    keys: list[str],
    state_schema: str,
    output_schema: str,
    init: tuple,
    step: Callable[[tuple, pd.DataFrame], tuple],
    emit: Callable[[tuple], tuple],
) -> DataFrame:
    """Group ``df`` by ``keys`` and fold every micro-batch into per-key
    state: ``acc = step(acc, batch)`` per non-empty pandas batch,
    starting from the stored state or ``init``. Each touched key emits
    one ``output_schema`` row: the key, then ``emit(acc)``. A NULL key
    is a key like any other (pandas hands a NULL long key over as NaN;
    it is emitted as NULL)."""
    columns = [field.split()[0] for field in output_schema.split(",")]

    def fn(
        key, batches: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        acc = state.get if state.exists else init
        touched = False
        for batch in batches:
            if not batch.empty:
                acc = step(acc, batch)
                touched = True
        if touched:
            state.update(acc)
            row = [None if pd.isna(k) else k for k in key] + list(emit(acc))
            yield pd.DataFrame([row], columns=columns)

    return df.groupBy(*keys).applyInPandasWithState(
        fn,
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def dedupe_stream(stream: DataFrame, key_col: str) -> DataFrame:
    """Streaming twin of the batch cache-hit anti-join (J4,
    app/app_controller.py:77-79): the first row of each ``key_col`` value
    is emitted, every later arrival (same micro-batch or any later one)
    is dropped — JVM ``dropDuplicates`` state persisted in the
    checkpoint, so re-delivery across micro-batches cannot re-emit. A
    NULL key is one key."""
    return stream.dropDuplicates([key_col])


class _RunningTotalsProcessor(StatefulProcessor):
    """ValueState-backed running (n_docs, chars_sum) per key — the
    streaming twin of the batch `source_rollup` leaf rows, kept
    exactly-once across micro-batches and restarts by the state store
    (reference status counters, app/util_processar_pasta.py:137-168,
    re-expressed as managed streaming state)."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        from pyspark.sql.types import LongType, StructField, StructType

        self._totals = handle.getValueState(
            "totals",
            StructType([
                StructField("n_docs", LongType()),
                StructField("chars_sum", LongType()),
            ]),
        )

    def handleInputRows(self, key, rows, timerValues):
        prev = self._totals.get() if self._totals.exists() else None
        n_docs, chars_sum = (int(prev[0]), int(prev[1])) if prev else (0, 0)
        for batch in rows:
            n_docs += len(batch)
            chars_sum += int(batch["n_chars"].sum())
        self._totals.update((n_docs, chars_sum))
        yield pd.DataFrame(
            {"source": [key[0]], "n_docs": [n_docs],
             "chars_sum": [chars_sum]}
        )

    def close(self) -> None:
        pass


def running_source_totals(stream: DataFrame) -> DataFrame:
    """Streaming DataFrame (source, n_chars, ...) → one updated
    (source, n_docs, chars_sum) row per key per micro-batch, running
    across the stream's lifetime.

    Uses ``transformWithStateInPandas`` (the current-generation
    stateful API: typed state variables + timers + TTL) rather than
    the legacy ``applyInPandasWithState`` under :func:`_fold` — both
    are kept so the engine demonstrates each API generation. Runtime
    requirements beyond pyspark: the RocksDB state store provider (set
    ``spark.sql.streaming.stateStore.providerClass`` to
    ``...state.RocksDBStateStoreProvider``) AND the ``protobuf``
    Python package — the API's state-server protocol imports
    ``google.protobuf`` in the streaming Python runner, and without it
    the query fails at start with
    STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE (as where pyspark is
    installed without protobuf; the test skip-gates on the import).
    """
    return stream.groupBy("source").transformWithStateInPandas(
        _RunningTotalsProcessor(),
        outputStructType="source string, n_docs long, chars_sum long",
        outputMode="Update",
        timeMode="None",
    )


def latest_crawl_stream(
    stream: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    id_col: str = "doc_id",
) -> DataFrame:
    """Streaming twin of the batch ``operators.urls.latest_crawl``
    ("freshest crawl wins, ties to smallest id"): per-url state holds the
    running (best_ts, keep_id, n_crawls), and every micro-batch emits the
    REFRESHED row for each url it touched (final row per url = highest
    ``n_crawls``).

    State is O(1) per url regardless of recrawl count — the same
    "argmax inside the aggregate" rule as the batch operator's max_by,
    applied across micro-batches instead of across partitions."""

    def step(acc: tuple, batch: pd.DataFrame) -> tuple:
        ts, keep_id, n = acc
        b = batch.sort_values(
            [ts_col, id_col], ascending=[False, True]
        ).iloc[0]
        bts, bid = b[ts_col], int(b[id_col])
        if ts is None or bts > ts or (bts == ts and bid < keep_id):
            ts, keep_id = bts, bid
        return ts, keep_id, n + len(batch)

    return _fold(
        stream, [url_col],
        "ts timestamp, keep_id long, n long",
        "url string, keep_id long, last_crawl_ts timestamp, n_crawls long",
        (None, None, 0), step, lambda s: (s[1], s[0], s[2]),
    )


def sessionize_stream(
    stream: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    gap_s: int = 1800,
) -> DataFrame:
    """Streaming twin of the batch driver query ``sessionize`` (lag-gap
    session counting: a row starts a new session when it is the user's
    first event or arrives more than ``gap_s`` seconds after the
    previous one). Per-user state is O(1) — just (last_ts, n_sessions,
    n_events) — and every micro-batch emits the REFRESHED per-user
    totals it touched (final row per user = highest ``n_events``). A
    NULL user is one user, as in the batch ``groupBy``.

    Ordering contract: rows are sorted by (ts, id) WITHIN each
    micro-batch, and the fold assumes micro-batches arrive per-key in
    event-time order (true for replay/backfill sources; an
    out-of-order live source needs a watermark + sort stage upstream —
    the gap rule is not commutative, so late data would need
    re-folding, which O(1) state deliberately does not keep).
    """

    def step(acc: tuple, batch: pd.DataFrame) -> tuple:
        last_ts, n_sessions, n_events = acc
        t = batch.sort_values([ts_col, id_col])[ts_col].reset_index(drop=True)
        prev = t.shift(1)
        if last_ts is not None:
            prev.iloc[0] = last_ts
        gaps = (t - prev).dt.total_seconds()
        n_sessions += int((gaps.isna() | (gaps > gap_s)).sum())
        return t.iloc[-1], n_sessions, n_events + len(t)

    return _fold(
        stream, [user_col],
        "last_ts timestamp, n_sessions long, n_events long",
        "user_id long, n_sessions long, n_events long",
        (None, 0, 0), step, lambda s: s[1:],
    )


def _count_stream(
    rows: DataFrame, keys: list[str], counter: str, weight: str | None = None
) -> DataFrame:
    """Per-key running counter over ``rows``: the sum of ``weight``, or
    the row count. Output ``(*keys, counter)``, all long."""

    def step(acc: tuple, batch: pd.DataFrame) -> tuple:
        return (acc[0] + int(batch[weight].sum() if weight else len(batch)),)

    return _fold(
        rows, keys, f"{counter} long",
        ", ".join(f"{c} long" for c in (*keys, counter)),
        (0,), step, lambda s: s,
    )


def cms_stream(
    stream: DataFrame,
    value_col: str,
    depth: int = 4,
    width: int = 16,
    weight_col: str | None = None,
) -> DataFrame:
    """Streaming twin of the batch ``operators.stats.cms_sketch``: a
    count-min sketch maintained as streaming state. The stateless cell
    projection is ``operators.stats.cms_cells`` — the SAME expressions
    as the batch path (shared-subplan discipline) — and each sketch
    cell is a state key holding one running counter; output
    ``(d, col, cms)``.

    This is the sketch-as-state shape: unlike the per-url/per-user
    twins above, the state-store key space is BOUNDED at depth·width
    cells no matter how many distinct values the stream carries — a
    10^12-token stream costs the state store exactly the sketch, which
    is the streaming analogue of why one carries a sketch at all.
    CMS updates are commutative and associative, so arrival order
    across micro-batches cannot change the final cells — the twin is
    exactly the batch sketch over the union of batches (tested)."""
    from ..operators.stats import cms_cells

    # a NULL value hashes to no cell (the batch sketch's col-NULL row is
    # never read by a point estimate)
    cells = cms_cells(stream, value_col, depth, width, weight_col).where(
        F.col("col").isNotNull()
    )
    return _count_stream(cells, ["d", "col"], "cms", weight="_w")


def nb_count_stream(
    stream: DataFrame,
    label_col: str = "y",
    text_col: str = "text",
    dims: int = 256,
) -> DataFrame:
    """Online NB classifier training (the cms_stream discipline:
    model-as-state): the sufficient statistics of
    ``operators.classify.nb_train`` — per-(dim, y) presence counters
    plus the ``CLS_DIM`` class counters — maintained as streaming
    state over a stream of labeled documents; output ``(dim, y, cnt)``.
    The stateless projection is ``operators.classify.nb_count_rows``,
    shared VERBATIM with the batch path (per-doc dedup happens inside
    the row via ``array_distinct``, so no stateful relational distinct
    is needed — what makes the projection stream-legal).

    State-store key space is bounded at ``2·(dims+1)`` keys no matter
    how many documents arrive — the model IS the state, the streaming
    analogue of why one hashes features at all. Counts are commutative
    and associative, so the final changelog equals the batch counts
    over the union of micro-batches in any arrival order; feeding the
    final cells through the shared ``nb_weights_from_counts`` yields
    the EXACT batch-trained weights (tested)."""
    from ..operators.classify import nb_count_rows

    # a NULL label adds to no count in batch nb_train either
    rows = nb_count_rows(stream, label_col, text_col, dims).where(
        F.col("y").isNotNull()
    )
    return _count_stream(rows, ["dim", "y"], "cnt")


def dsir_count_stream(
    stream: DataFrame,
    target_col: str = "t",
    text_col: str = "text",
    dims: int = 256,
) -> DataFrame:
    """Online DSIR model training (model-as-state, the
    ``nb_count_stream`` discipline): the sufficient statistics of
    ``operators.classify.dsir_weights`` — per-(dim, target-flag)
    hashed-gram occurrence counters — maintained as streaming state
    over a stream of flagged documents; output ``(dim, t, cnt)``. The
    stateless projection is ``operators.classify.dsir_count_rows``,
    shared with the batch arithmetic (grams built inside the row, so
    no window and no relational distinct — stream-legal).

    State-store key space is bounded at ``2·dims`` keys no matter how
    many documents arrive. Counts are commutative and associative, so
    the changelog's final cells equal the batch bucket counts over the
    union of micro-batches in any arrival order; pivoting them into
    (rb, tb) and feeding the shared ``dsir_dim_weights`` reproduces
    the EXACT batch-trained importance model (tested)."""
    from ..operators.classify import dsir_count_rows

    # a NULL flag is not a target (batch: target = ``t = 1``) but its
    # grams still count as raw
    rows = dsir_count_rows(stream, target_col, text_col, dims).withColumn(
        "t", F.coalesce("t", F.lit(0).cast("long"))
    )
    return _count_stream(rows, ["dim", "t"], "cnt")
