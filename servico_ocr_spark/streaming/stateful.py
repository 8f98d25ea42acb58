"""Custom stateful streaming operator: exactly-once-per-key emission.

``applyInPandasWithState`` implementation of streaming dedupe — the
streaming twin of the batch cache-hit anti-join (J4,
app/app_controller.py:77-79): the first row of each key is emitted, every
later arrival (same micro-batch or any later one) is dropped. State is one
flag per key, persisted in the streaming state store, so re-delivery
across micro-batches cannot re-emit.

This is the "custom stateful operator" extension point: the same shape
(groupByKey → pandas state function) hosts sessionization, per-host crawl
budgets, incremental per-domain quality counters, etc.
"""

from __future__ import annotations

from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StructType


STATE_SCHEMA = "seen boolean"


def _dedupe_fn(
    key, batches: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    emitted = state.exists and state.get[0]
    for batch in batches:
        if emitted or batch.empty:
            continue
        yield batch.iloc[[0]]
        emitted = True
    state.update((bool(emitted),))


def dedupe_stream(
    stream: DataFrame, key_col: str, output_schema: StructType
) -> DataFrame:
    """Streaming DataFrame → streaming DataFrame with the first occurrence
    of each ``key_col`` value only, across all micro-batches."""
    return stream.groupBy(key_col).applyInPandasWithState(
        _dedupe_fn,
        outputStructType=output_schema,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# transformWithStateInPandas (Spark 4 stateful API) — running per-key totals
# ---------------------------------------------------------------------------

try:  # the v2 stateful API needs pyspark >= 4.0
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

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
        the legacy ``applyInPandasWithState`` above — both are kept so the
        engine demonstrates each API generation. Runtime requirements
        beyond pyspark: the RocksDB state store provider (set
        ``spark.sql.streaming.stateStore.providerClass`` to
        ``...state.RocksDBStateStoreProvider``) AND the ``protobuf``
        Python package — the API's state-server protocol imports
        ``google.protobuf`` in the streaming Python runner, and without it
        the query fails at start with
        STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE (observed in this
        sandbox, which ships pyspark without protobuf; the test
        skip-gates on the import accordingly).
        """
        return stream.groupBy("source").transformWithStateInPandas(
            _RunningTotalsProcessor(),
            outputStructType="source string, n_docs long, chars_sum long",
            outputMode="Update",
            timeMode="None",
        )

except ImportError:  # pragma: no cover - pyspark < 4 fallback

    def running_source_totals(stream: DataFrame) -> DataFrame:
        """Unavailable: the v2 stateful API needs pyspark >= 4.0."""
        raise RuntimeError(
            "transformWithStateInPandas requires pyspark >= 4.0; use "
            "dedupe_stream/applyInPandasWithState on this runtime"
        )


LATEST_CRAWL_STATE_SCHEMA = "ts timestamp, keep_id long, n long"
LATEST_CRAWL_OUTPUT_SCHEMA = (
    "url string, keep_id long, last_crawl_ts timestamp, n_crawls long"
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
    REFRESHED row for each url it touched — a changelog stream in append
    mode, so any sink works: an Iceberg/Delta sink MERGEs it, a plain
    file sink keeps the row with the highest ``n_crawls`` per url (the
    counter is strictly monotone, so it is its own version stamp).

    State is O(1) per url regardless of recrawl count — the same
    "argmax inside the aggregate" rule as the batch operator's max_by,
    applied across micro-batches instead of across partitions."""
    from pyspark.sql.types import StructType as _St  # noqa: F401

    def fn(
        key, batches: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            ts, keep_id, n = state.get
        else:
            ts, keep_id, n = None, None, 0
        touched = False
        for batch in batches:
            if batch.empty:
                continue
            touched = True
            n += len(batch)
            b = batch.sort_values(
                [ts_col, id_col], ascending=[False, True]
            ).iloc[0]
            bts, bid = b[ts_col], int(b[id_col])
            if (
                ts is None
                or bts > ts
                or (bts == ts and bid < keep_id)
            ):
                ts, keep_id = bts, bid
        state.update((ts, keep_id, int(n)))
        if touched:
            yield pd.DataFrame(
                {
                    "url": [key[0]],
                    "keep_id": [keep_id],
                    "last_crawl_ts": [ts],
                    "n_crawls": [int(n)],
                }
            )

    return stream.groupBy(url_col).applyInPandasWithState(
        fn,
        outputStructType=LATEST_CRAWL_OUTPUT_SCHEMA,
        stateStructType=LATEST_CRAWL_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


SESSIONIZE_STATE_SCHEMA = "last_ts timestamp, n_sessions long, n_events long"
SESSIONIZE_OUTPUT_SCHEMA = "user_id long, n_sessions long, n_events long"


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
    totals it touched: a changelog stream in append mode, same contract
    as :func:`latest_crawl_stream` (final row per user = row with the
    highest ``n_events``; the counter is strictly monotone).

    Ordering contract: rows are sorted by (ts, id) WITHIN each
    micro-batch, and the fold assumes micro-batches arrive per-key in
    event-time order (true for replay/backfill sources; an
    out-of-order live source needs a watermark + sort stage upstream —
    the gap rule is not commutative, so late data would need
    re-folding, which O(1) state deliberately does not keep).
    """

    def fn(
        key, batches: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            last_ts, n_sessions, n_events = state.get
        else:
            last_ts, n_sessions, n_events = None, 0, 0
        touched = False
        for batch in batches:
            if batch.empty:
                continue
            touched = True
            b = batch.sort_values([ts_col, id_col])
            t = b[ts_col].reset_index(drop=True)
            prev = t.shift(1)
            if last_ts is not None:
                prev.iloc[0] = last_ts
            gaps = (t - prev).dt.total_seconds()
            n_sessions += int((gaps.isna() | (gaps > gap_s)).sum())
            n_events += len(b)
            last_ts = t.iloc[-1]
        state.update((last_ts, int(n_sessions), int(n_events)))
        if touched:
            yield pd.DataFrame(
                {
                    "user_id": [int(key[0])],
                    "n_sessions": [int(n_sessions)],
                    "n_events": [int(n_events)],
                }
            )

    return stream.groupBy(user_col).applyInPandasWithState(
        fn,
        outputStructType=SESSIONIZE_OUTPUT_SCHEMA,
        stateStructType=SESSIONIZE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


CMS_STATE_SCHEMA = "cms long"
CMS_OUTPUT_SCHEMA = "d long, col long, cms long"


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
    cell is a state key holding one running counter, refreshed rows
    emitted per micro-batch (changelog in append mode; final row per
    cell = highest ``cms``, the counter is monotone).

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
    # never read by a point estimate); its key would kill the stream
    cells = cms_cells(stream, value_col, depth, width, weight_col).where(
        F.col("col").isNotNull()
    )

    def fn(
        key, batches: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n = int(state.get[0]) if state.exists else 0
        touched = False
        for batch in batches:
            if batch.empty:
                continue
            touched = True
            n += int(batch["_w"].sum())
        state.update((int(n),))
        if touched:
            yield pd.DataFrame(
                {"d": [int(key[0])], "col": [int(key[1])], "cms": [int(n)]}
            )

    return cells.groupBy("d", "col").applyInPandasWithState(
        fn,
        outputStructType=CMS_OUTPUT_SCHEMA,
        stateStructType=CMS_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


NB_COUNT_STATE_SCHEMA = "cnt long"
NB_COUNT_OUTPUT_SCHEMA = "dim long, y long, cnt long"


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
    state over a stream of labeled documents. The stateless projection
    is ``operators.classify.nb_count_rows``, shared VERBATIM with the
    batch path (per-doc dedup happens inside the row via
    ``array_distinct``, so no stateful relational distinct is needed —
    what makes the projection stream-legal).

    State-store key space is bounded at ``2·(dims+1)`` keys no matter
    how many documents arrive — the model IS the state, the streaming
    analogue of why one hashes features at all. Counts are commutative
    and associative, so the final changelog equals the batch counts
    over the union of micro-batches in any arrival order; feeding the
    final cells through the shared ``nb_weights_from_counts`` yields
    the EXACT batch-trained weights (tested)."""
    from ..operators.classify import nb_count_rows

    # a NULL label adds to no count in batch nb_train either; its key
    # would kill the stream
    rows = nb_count_rows(stream, label_col, text_col, dims).where(
        F.col("y").isNotNull()
    )

    def fn(
        key, batches: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n = int(state.get[0]) if state.exists else 0
        touched = False
        for batch in batches:
            if batch.empty:
                continue
            touched = True
            n += len(batch)
        state.update((int(n),))
        if touched:
            yield pd.DataFrame(
                {"dim": [int(key[0])], "y": [int(key[1])], "cnt": [int(n)]}
            )

    return rows.groupBy("dim", "y").applyInPandasWithState(
        fn,
        outputStructType=NB_COUNT_OUTPUT_SCHEMA,
        stateStructType=NB_COUNT_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


DSIR_COUNT_STATE_SCHEMA = "cnt long"
DSIR_COUNT_OUTPUT_SCHEMA = "dim long, t long, cnt long"


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
    over a stream of flagged documents. The stateless projection is
    ``operators.classify.dsir_count_rows``, shared with the batch
    arithmetic (grams built inside the row, so no window and no
    relational distinct — stream-legal).

    State-store key space is bounded at ``2·dims`` keys no matter how
    many documents arrive. Counts are commutative and associative, so
    the changelog's final cells equal the batch bucket counts over the
    union of micro-batches in any arrival order; pivoting them into
    (rb, tb) and feeding the shared ``dsir_dim_weights`` reproduces
    the EXACT batch-trained importance model (tested)."""
    from ..operators.classify import dsir_count_rows

    # a NULL flag is not a target (batch: target = ``t = 1``) but its
    # grams still count as raw; as a key it would kill the stream
    rows = dsir_count_rows(stream, target_col, text_col, dims).withColumn(
        "t", F.coalesce("t", F.lit(0).cast("long"))
    )

    def fn(
        key, batches: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n = int(state.get[0]) if state.exists else 0
        touched = False
        for batch in batches:
            if batch.empty:
                continue
            touched = True
            n += len(batch)
        state.update((int(n),))
        if touched:
            yield pd.DataFrame(
                {"dim": [int(key[0])], "t": [int(key[1])], "cnt": [int(n)]}
            )

    return rows.groupBy("dim", "t").applyInPandasWithState(
        fn,
        outputStructType=DSIR_COUNT_OUTPUT_SCHEMA,
        stateStructType=DSIR_COUNT_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
