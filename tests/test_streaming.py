"""Incremental (Structured Streaming, AvailableNow) execution tests."""

import pytest

from servico_ocr_spark.corpus import build_corpus
from servico_ocr_spark.schemas import PAGES_SCHEMA
from servico_ocr_spark.streaming import run_available_now


def test_available_now_incremental(spark, tmp_path):
    input_dir = str(tmp_path / "pages")
    output_dir = str(tmp_path / "analysis")
    checkpoint = str(tmp_path / "checkpoint")

    corpus = build_corpus(24)
    first = spark.createDataFrame(corpus.iloc[:12], schema=PAGES_SCHEMA)
    first.write.mode("append").parquet(input_dir)

    run_available_now(spark, input_dir, output_dir, checkpoint,
                      num_partitions=4)
    assert spark.read.parquet(output_dir).count() == 12

    # new files arrive; AvailableNow picks up ONLY the delta
    second = spark.createDataFrame(corpus.iloc[12:], schema=PAGES_SCHEMA)
    second.write.mode("append").parquet(input_dir)
    run_available_now(spark, input_dir, output_dir, checkpoint,
                      num_partitions=4)
    out = spark.read.parquet(output_dir)
    assert out.count() == 24
    assert out.select("url").distinct().count() == 24

    # nothing new → no-op batch, still 24
    run_available_now(spark, input_dir, output_dir, checkpoint,
                      num_partitions=4)
    assert spark.read.parquet(output_dir).count() == 24

    # crash after the sink append but before the commit-log entry: the
    # restart replays the newest batch, whose urls are already committed
    commits = tmp_path / "checkpoint" / "commits"
    newest = max(int(p.name) for p in commits.iterdir() if p.name.isdigit())
    (commits / str(newest)).unlink()
    (commits / f".{newest}.crc").unlink(missing_ok=True)
    run_available_now(spark, input_dir, output_dir, checkpoint,
                      num_partitions=4)
    out = spark.read.parquet(output_dir)
    assert out.count() == 24
    assert out.select("url").distinct().count() == 24


def test_stateful_dedupe_stream(spark, tmp_path):
    """applyInPandasWithState dedupe: first occurrence per url wins,
    across micro-batches, with state persisted in the checkpoint."""
    from servico_ocr_spark.streaming.stateful import dedupe_stream

    input_dir = str(tmp_path / "in")
    output_dir = str(tmp_path / "out")
    checkpoint = str(tmp_path / "ckpt")
    schema = "url string, payload string"

    spark.createDataFrame(
        [("u1", "a"), ("u2", "b"), ("u1", "dup-in-batch")], schema
    ).write.mode("append").parquet(input_dir)

    def run_once():
        stream = spark.readStream.schema(schema).parquet(input_dir)
        deduped = dedupe_stream(stream, "url")
        (
            deduped.writeStream.format("parquet")
            .option("path", output_dir)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    run_once()
    out1 = spark.read.parquet(output_dir)
    assert out1.count() == 2
    assert out1.where("url = 'u1'").count() == 1

    # second batch: u1/u2 re-delivered (must be dropped), u3 is new
    spark.createDataFrame(
        [("u1", "late-dup"), ("u3", "c"), ("u2", "late-dup")], schema
    ).write.mode("append").parquet(input_dir)
    run_once()
    out2 = spark.read.parquet(output_dir)
    assert out2.count() == 3
    assert sorted(r["url"] for r in out2.select("url").collect()) == [
        "u1", "u2", "u3"
    ]


def test_windowed_event_counts_streaming_matches_batch(spark, tmp_path):
    """The windowed rollup gives identical results via readStream
    (AvailableNow, update-to-memory) and plain batch."""
    from servico_ocr_spark.streaming.windowed import windowed_event_counts

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    input_dir = str(tmp_path / "events")
    events.write.parquet(input_dir)

    batch = windowed_event_counts(spark.read.parquet(input_dir)).toPandas()

    stream = spark.readStream.schema(events.schema).parquet(input_dir)
    q = (
        windowed_event_counts(stream)
        .writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = spark.sql("SELECT * FROM win_counts").toPandas()

    key = ["window_start", "event_type"]
    b = batch.sort_values(key).reset_index(drop=True)
    s = streamed.sort_values(key).reset_index(drop=True)
    assert b.equals(s)


def test_transform_with_state_running_totals(spark, tmp_path):
    """transformWithStateInPandas (Spark 4 stateful API): per-source
    running totals accumulate across micro-batches AND across query
    restarts (ValueState in the RocksDB state store survives via the
    checkpoint)."""
    import pytest

    pytest.importorskip(
        "google.protobuf",
        reason="transformWithStateInPandas's streaming Python runner "
        "needs protobuf, not shipped in this sandbox",
    )
    from servico_ocr_spark.streaming.stateful import running_source_totals

    input_dir = str(tmp_path / "in")
    output_dir = str(tmp_path / "out")
    checkpoint = str(tmp_path / "ckpt")
    schema = "doc_id long, source string, n_chars long"

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    saved = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        def run_once():
            stream = spark.readStream.schema(schema).parquet(input_dir)
            (
                running_source_totals(stream)
                .writeStream.format("parquet")
                .option("path", output_dir)
                .option("checkpointLocation", checkpoint)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
                .awaitTermination()
            )

        spark.createDataFrame(
            [(1, "srcA", 100), (2, "srcA", 50), (3, "srcB", 7)], schema
        ).write.mode("append").parquet(input_dir)
        run_once()
        out = spark.read.parquet(output_dir).toPandas()
        got = {r.source: (r.n_docs, r.chars_sum) for r in out.itertuples()}
        assert got == {"srcA": (2, 150), "srcB": (1, 7)}

        # restart with new data: totals continue from persisted state
        spark.createDataFrame(
            [(4, "srcA", 10), (5, "srcC", 1)], schema
        ).write.mode("append").parquet(input_dir)
        run_once()
        out2 = spark.read.parquet(output_dir).toPandas()
        latest = (
            out2.groupby("source").agg({"n_docs": "max", "chars_sum": "max"})
        )
        assert latest.loc["srcA"].tolist() == [3, 160]
        assert latest.loc["srcB"].tolist() == [1, 7]
        assert latest.loc["srcC"].tolist() == [1, 1]
    finally:
        if saved is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, saved)


def test_transform_with_state_plan_construction(spark, tmp_path):
    """The v2-stateful operator's plan must construct and carry the right
    schema even where protobuf is absent (the runner dependency is only
    needed at query start — construction is pinned unconditionally)."""
    from servico_ocr_spark.streaming.stateful import running_source_totals

    schema = "doc_id long, source string, n_chars long"
    input_dir = str(tmp_path / "in")
    spark.createDataFrame([(1, "s", 5)], schema).write.parquet(input_dir)
    stream = spark.readStream.schema(schema).parquet(input_dir)
    df = running_source_totals(stream)
    assert df.isStreaming
    assert df.schema.simpleString() == (
        "struct<source:string,n_docs:bigint,chars_sum:bigint>"
    )


def test_latest_crawl_stream_changelog_matches_batch(spark, tmp_path):
    """Streaming freshest-crawl-wins: the changelog's final row per url
    (highest n_crawls — the counter is monotone) must equal the batch
    latest_crawl over the union of all micro-batches."""
    import datetime as dt

    from servico_ocr_spark.operators import latest_crawl
    from servico_ocr_spark.streaming.stateful import latest_crawl_stream

    input_dir = str(tmp_path / "in")
    output_dir = str(tmp_path / "out")
    checkpoint = str(tmp_path / "ckpt")
    schema = "doc_id long, url string, warc_ts timestamp"
    t = lambda h: dt.datetime(2024, 3, 1, h)  # noqa: E731

    batch1 = [(1, "http://a.com/x", t(5)), (2, "http://b.org/", t(3)),
              (3, "http://a.com/x", t(9))]
    batch2 = [(4, "http://a.com/x", t(7)),   # older than state -> no flip
              (5, "http://b.org/", t(3)),    # ts tie, larger id -> keep 2
              (6, "http://c.net/", t(1))]    # new url

    def run_once():
        stream = spark.readStream.schema(schema).parquet(input_dir)
        out = latest_crawl_stream(stream)
        (
            out.writeStream.format("parquet")
            .option("path", output_dir)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    spark.createDataFrame(batch1, schema).write.mode("append").parquet(
        input_dir
    )
    run_once()
    spark.createDataFrame(batch2, schema).write.mode("append").parquet(
        input_dir
    )
    run_once()

    # final changelog row per url = argmax n_crawls
    rows = spark.read.parquet(output_dir).collect()
    final = {}
    for r in rows:
        cur = final.get(r["url"])
        if cur is None or r["n_crawls"] > cur["n_crawls"]:
            final[r["url"]] = r
    # batch reference over the union (urls here are already canonical)
    ref = {
        r["canonical_url"]: r
        for r in latest_crawl(
            spark.createDataFrame(batch1 + batch2, schema)
        ).collect()
    }
    assert set(final) == set(ref)
    for url, r in final.items():
        assert r["keep_id"] == ref[url]["keep_id"], url
        assert r["last_crawl_ts"] == ref[url]["last_crawl_ts"], url
        assert r["n_crawls"] == ref[url]["n_crawls"], url
    # the tie case really kept the smaller id
    assert final["http://b.org/"]["keep_id"] == 2


def test_sessionize_stream_changelog_matches_batch(spark, tmp_path):
    """Streaming lag-gap sessionization: the changelog's final row per
    user (highest n_events — monotone counter) must equal the batch
    sessionize fold over the union of all micro-batches, including a
    session that SPANS the micro-batch boundary (state carries
    last_ts across batches) and one that starts at the boundary."""
    import datetime as dt

    from servico_ocr_spark.streaming.stateful import sessionize_stream

    input_dir = str(tmp_path / "in")
    output_dir = str(tmp_path / "out")
    checkpoint = str(tmp_path / "ckpt")
    schema = "event_id long, user_id long, ts timestamp"
    t = lambda m: dt.datetime(2024, 3, 1, 12, 0, 0) + dt.timedelta(  # noqa: E731
        minutes=m
    )

    # user 1: batch1 ends 12:10, batch2 starts 12:20 (gap 10 min ->
    # SAME session), then 13:20 (gap 60 min -> new session)
    # user 2: single event per batch, 40 min apart -> two sessions
    batch1 = [(1, 1, t(0)), (2, 1, t(10)), (3, 2, t(5))]
    batch2 = [(4, 1, t(20)), (5, 1, t(80)), (6, 2, t(45))]

    def run_once():
        stream = spark.readStream.schema(schema).parquet(input_dir)
        out = sessionize_stream(stream)
        (
            out.writeStream.format("parquet")
            .option("path", output_dir)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    spark.createDataFrame(batch1, schema).write.mode("append").parquet(
        input_dir
    )
    run_once()
    spark.createDataFrame(batch2, schema).write.mode("append").parquet(
        input_dir
    )
    run_once()

    final = {}
    for r in spark.read.parquet(output_dir).collect():
        cur = final.get(r["user_id"])
        if cur is None or r["n_events"] > cur["n_events"]:
            final[r["user_id"]] = r
    got = {
        u: (r["n_sessions"], r["n_events"]) for u, r in final.items()
    }
    assert got == {1: (2, 4), 2: (2, 2)}

    # batch reference: the driver sessionize fold over the full union
    from pyspark.sql import Window, functions as F

    ev = spark.createDataFrame(batch1 + batch2, schema)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    ref = {
        r["user_id"]: (r["n_sessions"], r["n_events"])
        for r in ev.withColumn(
            "s", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
        )
        .groupBy("user_id")
        .agg(
            F.sum("s").alias("n_sessions"), F.count("*").alias("n_events")
        )
        .collect()
    }
    assert got == ref


def test_interval_attribution_stream_matches_batch(spark, tmp_path):
    """Stream-stream interval join: two micro-batches through the
    watermarked join must produce exactly the batch-mode rows over the
    unioned events — including a purchase in batch 2 matching a click
    that arrived in batch 1 (join state carries across micro-batches)."""
    import datetime as dt

    from servico_ocr_spark.streaming.joins import interval_attribution

    input_dir = str(tmp_path / "in")
    output_dir = str(tmp_path / "out")
    checkpoint = str(tmp_path / "ckpt")
    schema = "event_id long, user_id long, ts timestamp, event_type string"
    t = lambda m: dt.datetime(2024, 3, 1, 12, 0, 0) + dt.timedelta(  # noqa: E731
        minutes=m
    )

    batch1 = [
        (1, 1, t(0), "click"),
        (2, 1, t(10), "click"),
        (3, 1, t(25), "purchase"),   # matches clicks 1 and 2
        (4, 2, t(0), "click"),
    ]
    batch2 = [
        (5, 2, t(20), "purchase"),   # matches click 4 FROM BATCH 1
        (6, 1, t(90), "purchase"),   # no click within 30 min -> no row
        (7, 2, t(95), "click"),
        (8, 2, t(95), "purchase"),   # equal ts: inclusive -> matches 7
    ]

    def run_once():
        stream = spark.readStream.schema(schema).parquet(input_dir)
        out = interval_attribution(stream)
        (
            out.writeStream.format("parquet")
            .option("path", output_dir)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    spark.createDataFrame(batch1, schema).write.mode("append").parquet(
        input_dir
    )
    run_once()
    spark.createDataFrame(batch2, schema).write.mode("append").parquet(
        input_dir
    )
    run_once()

    got = sorted(
        (r["purchase_id"], r["click_id"], r["lag_us"])
        for r in spark.read.parquet(output_dir).collect()
    )
    ref_df = interval_attribution(
        spark.createDataFrame(batch1 + batch2, schema)
    )
    assert not ref_df.isStreaming
    ref = sorted(
        (r["purchase_id"], r["click_id"], r["lag_us"])
        for r in ref_df.collect()
    )
    assert got == ref
    assert got == [
        (3, 1, 25 * 60 * 1_000_000),
        (3, 2, 15 * 60 * 1_000_000),
        (5, 4, 20 * 60 * 1_000_000),
        (8, 7, 0),
    ]


def test_cms_stream_cells_match_batch_sketch(spark, tmp_path):
    """Sketch-as-state: the streaming CMS changelog's final cell values
    (highest cms per (d,col) — the counter is monotone) must equal the
    batch cms_sketch over the union of all micro-batches, in ANY
    arrival order (CMS updates commute)."""
    from servico_ocr_spark.operators import cms_sketch
    from servico_ocr_spark.streaming.stateful import cms_stream

    input_dir = str(tmp_path / "in")
    output_dir = str(tmp_path / "out")
    checkpoint = str(tmp_path / "ckpt")
    schema = "v string"

    batch1 = [(f"w{i % 7}",) for i in range(40)]
    batch2 = [(f"w{(i * 3) % 11}",) for i in range(25)]

    def run_once():
        stream = spark.readStream.schema(schema).parquet(input_dir)
        out = cms_stream(stream, "v", depth=3, width=8)
        (
            out.writeStream.format("parquet")
            .option("path", output_dir)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    spark.createDataFrame(batch1, schema).write.mode("append").parquet(
        input_dir
    )
    run_once()
    spark.createDataFrame(batch2, schema).write.mode("append").parquet(
        input_dir
    )
    run_once()

    final = {}
    for r in spark.read.parquet(output_dir).collect():
        k = (r["d"], r["col"])
        if k not in final or r["cms"] > final[k]:
            final[k] = r["cms"]
    ref = {
        (r["d"], r["col"]): r["cms"]
        for r in cms_sketch(
            spark.createDataFrame(batch1 + batch2, schema),
            "v", depth=3, width=8,
        ).collect()
    }
    assert final == ref
    # state key space is the sketch, not the vocabulary
    assert len(final) <= 3 * 8


def test_nb_count_stream_final_cells_reproduce_batch_weights(spark, tmp_path):
    """Model-as-state: the streaming NB counter changelog's final cells
    (max cnt per (dim, y) — counters are monotone), pivoted into
    (per_dim, cls) and fed through the SHARED nb_weights_from_counts,
    must equal batch nb_train over the union of all micro-batches —
    arrival order cannot matter (counts commute)."""
    from pyspark.sql import functions as F

    from servico_ocr_spark.operators import nb_train
    from servico_ocr_spark.operators.classify import (
        CLS_DIM,
        nb_weights_from_counts,
    )
    from servico_ocr_spark.streaming.stateful import nb_count_stream

    input_dir = str(tmp_path / "in")
    output_dir = str(tmp_path / "out")
    checkpoint = str(tmp_path / "ckpt")
    schema = "doc_id long, text string, y long"

    batch1 = [
        (1, "good stuff here shared words", 1),
        (2, "plain filler text shared words", 0),
        (3, "good thing again shared", 1),
    ]
    batch2 = [
        (4, "plain other filler shared words", 0),
        (5, "good stuff repeated here", 1),
        (6, "", 0),  # zero-feature doc still counts toward the class
    ]

    def run_once():
        stream = spark.readStream.schema(schema).parquet(input_dir)
        out = nb_count_stream(stream, dims=32)
        (
            out.writeStream.format("parquet")
            .option("path", output_dir)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    spark.createDataFrame(batch1, schema).write.mode("append").parquet(
        input_dir
    )
    run_once()
    spark.createDataFrame(batch2, schema).write.mode("append").parquet(
        input_dir
    )
    run_once()

    final = {}
    for r in spark.read.parquet(output_dir).collect():
        k = (r["dim"], r["y"])
        if k not in final or r["cnt"] > final[k]:
            final[k] = r["cnt"]

    cells = spark.createDataFrame(
        [(d, y, c) for (d, y), c in final.items()],
        "dim long, y long, cnt long",
    )
    per_dim = (
        cells.where(F.col("dim") != CLS_DIM)
        .groupBy("dim")
        .agg(
            F.sum(F.when(F.col("y") == 1, F.col("cnt")).otherwise(0))
            .cast("long").alias("pos_df"),
            F.sum(F.when(F.col("y") == 0, F.col("cnt")).otherwise(0))
            .cast("long").alias("neg_df"),
        )
    )
    cls = cells.where(F.col("dim") == CLS_DIM).agg(
        F.sum(F.when(F.col("y") == 1, F.col("cnt")).otherwise(0))
        .cast("long").alias("npos"),
        F.sum(F.when(F.col("y") == 0, F.col("cnt")).otherwise(0))
        .cast("long").alias("nneg"),
    )
    got = {
        r["dim"]: r["llr"]
        for r in nb_weights_from_counts(per_dim, cls).collect()
    }
    union = spark.createDataFrame(batch1 + batch2, schema)
    exp = {r["dim"]: r["llr"] for r in nb_train(union, dims=32).collect()}
    assert got == exp


def test_stateless_curation_gates_run_on_streams_unchanged(spark, tmp_path):
    """The projection-tier curation gates (PII scrub, C4 page clean)
    are stateless DataFrame transforms, so the SAME operator functions
    run on a readStream without modification — the claim that the
    batch curation pipeline is streaming-ready wherever it has no
    aggregation. availableNow micro-batch output must equal the batch
    output row-for-row."""
    from pyspark.sql import functions as F

    from servico_ocr_spark.operators.pii import scrub_pii
    from servico_ocr_spark.operators import c4_page_clean

    input_dir = str(tmp_path / "in")
    schema = "doc_id long, text string"
    rows = [
        (1, "Call 555-123-4567 now. This is a good sentence here."),
        (2, "mail me at a.b@example.com please. Short."),
        (3, "{ junk javascript line\nA real paragraph sentence stays."),
    ]
    spark.createDataFrame(rows, schema).write.parquet(input_dir)

    batch_df = spark.read.parquet(input_dir)
    for name, fn in (
        ("pii", lambda d: scrub_pii(d)),
        ("c4", lambda d: c4_page_clean(d)),
    ):
        out_dir = str(tmp_path / f"out_{name}")
        ckpt = str(tmp_path / f"ckpt_{name}")
        stream = spark.readStream.schema(schema).parquet(input_dir)
        (
            fn(stream)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        got = sorted(
            tuple(r) for r in spark.read.parquet(out_dir).collect()
        )
        exp = sorted(tuple(r) for r in fn(batch_df).collect())
        assert got == exp and len(got) == 3


def test_windowed_watermark_drops_too_late_rows(spark, tmp_path):
    """Watermark semantics pinned end-to-end in APPEND mode: batch 1
    advances event time to 12:00 (watermark 11:30), finalizing and
    emitting the 10:00 window; batch 2 then delivers a 10:30 straggler
    — BEHIND the watermark, so the engine must DROP it (the finalized
    window's count never changes) — plus a 13:30 event that finalizes
    the 12:00 window. This is the state-bounding contract the
    windowed operator claims: late data costs nothing after the
    watermark passes."""
    import datetime as dt

    from servico_ocr_spark.streaming.windowed import windowed_event_counts

    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double")

    def t(h, m):
        return dt.datetime(2026, 1, 5, h, m)

    def run_once():
        stream = spark.readStream.schema(schema).parquet(input_dir)
        (
            windowed_event_counts(stream)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    batch1 = [
        (1, t(10, 0), 1, "view", 1.0),
        (2, t(10, 10), 1, "view", 1.0),
        (3, t(12, 0), 2, "view", 1.0),
    ]
    spark.createDataFrame(batch1, schema).write.mode("append").parquet(
        input_dir
    )
    run_once()
    after1 = {
        (int(str(r["window_start"])[11:13]), r["event_type"]): r["n_events"]
        for r in spark.read.parquet(out_dir).collect()
    }
    assert after1 == {(10, "view"): 2}  # 10:00 window finalized

    batch2 = [
        (4, t(10, 30), 3, "view", 1.0),   # behind watermark → dropped
        (5, t(13, 30), 3, "view", 1.0),   # advances watermark to 13:00
    ]
    spark.createDataFrame(batch2, schema).write.mode("append").parquet(
        input_dir
    )
    run_once()
    final = {
        (int(str(r["window_start"])[11:13]), r["event_type"]): r["n_events"]
        for r in spark.read.parquet(out_dir).collect()
    }
    # the late 10:30 row changed NOTHING; 12:00 window emitted with
    # only its batch-1 event; 13:00 not yet finalized
    assert final == {(10, "view"): 2, (12, "view"): 1}


def test_dsir_count_stream_final_cells_reproduce_batch_model(
    spark, tmp_path
):
    """Model-as-state twin for DSIR: the streaming (dim, t) occurrence
    counters' final cells (max cnt per key — counters are monotone),
    pivoted into (rb, tb) and fed through the SHARED dsir_dim_weights,
    must equal the batch model computed by dsir_features over the
    union of all micro-batches — arrival order cannot matter (counts
    commute)."""
    from pyspark.sql import functions as F

    from servico_ocr_spark.operators import dsir_features
    from servico_ocr_spark.operators.classify import dsir_dim_weights
    from servico_ocr_spark.streaming.stateful import dsir_count_stream

    input_dir = str(tmp_path / "in")
    output_dir = str(tmp_path / "out")
    checkpoint = str(tmp_path / "ckpt")
    schema = "doc_id long, text string, t long"
    DIMS = 32

    batch1 = [
        (1, "quantum flux capacitor resonance", 1),
        (2, "plain filler common words here", 0),
        (3, "quantum resonance again", 1),
    ]
    batch2 = [
        (4, "plain other filler words", 0),
        (5, "single", 0),       # 1-word doc: unigram only, no bigram
        (6, "", 0),             # zero-token doc contributes nothing
    ]

    def run_once():
        stream = spark.readStream.schema(schema).parquet(input_dir)
        out = dsir_count_stream(stream, dims=DIMS)
        (
            out.writeStream.format("parquet")
            .option("path", output_dir)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    spark.createDataFrame(batch1, schema).write.mode("append").parquet(
        input_dir
    )
    run_once()
    spark.createDataFrame(batch2, schema).write.mode("append").parquet(
        input_dir
    )
    run_once()

    final = {}
    for r in spark.read.parquet(output_dir).collect():
        k = (r["dim"], r["t"])
        if k not in final or r["cnt"] > final[k]:
            final[k] = r["cnt"]
    rb_rows = {}
    tb_rows = {}
    for (dim, t), c in final.items():
        rb_rows[dim] = rb_rows.get(dim, 0) + c
        if t == 1:
            tb_rows[dim] = tb_rows.get(dim, 0) + c
    rb_s = spark.createDataFrame(
        [(d, c) for d, c in rb_rows.items()], "dim long, rcnt long"
    )
    tb_s = spark.createDataFrame(
        [(d, c) for d, c in tb_rows.items()], "dim long, tcnt long"
    )
    dimw_s, tot_s = dsir_dim_weights(rb_s, tb_s, DIMS)

    all_rows = batch1 + batch2
    docs = spark.createDataFrame(all_rows, schema)
    feats = dsir_features(docs, dims=DIMS)
    rb_b = feats.groupBy("dim").agg(
        F.sum("cnt").cast("long").alias("rcnt")
    )
    tb_b = (
        feats.join(docs.where("t = 1").select("doc_id"), "doc_id")
        .groupBy("dim")
        .agg(F.sum("cnt").cast("long").alias("tcnt"))
    )
    dimw_b, tot_b = dsir_dim_weights(rb_b, tb_b, DIMS)

    assert sorted(map(tuple, dimw_s.collect())) == sorted(
        map(tuple, dimw_b.collect())
    )
    assert tot_s.collect() == tot_b.collect()



@pytest.mark.parametrize("op", ["cms", "nb", "dsir"])
def test_count_streams_survive_null_keys(spark, tmp_path, op):
    """A NULL value (cms), label (nb) or target flag (dsir) must not kill
    the stream: cms and nb drop the row (batch nb_train counts a NULL
    label nowhere), dsir counts its grams as non-target (batch target is
    ``t = 1``). Final cells equal the batch counts under those rules."""
    from pyspark.sql import functions as F

    from servico_ocr_spark.operators import cms_sketch
    from servico_ocr_spark.operators.classify import (
        dsir_count_rows, nb_count_rows,
    )
    from servico_ocr_spark.streaming.stateful import (
        cms_stream, dsir_count_stream, nb_count_stream,
    )

    schema = "v string, text string, y long, t long"
    rows = [
        ("alpha", "quantum flux resonance", 1, 1),
        (None, "plain filler words", None, None),
        ("beta", "plain other words", 0, 0),
    ]
    docs = spark.createDataFrame(rows, schema)
    if op == "cms":
        run = lambda df: cms_stream(df, "v", depth=2, width=8)
        cols = ("d", "col", "cms")
        want = cms_sketch(docs.where(F.col("v").isNotNull()), "v",
                          depth=2, width=8)
    elif op == "nb":
        run = lambda df: nb_count_stream(df, dims=16)
        cols = ("dim", "y", "cnt")
        want = nb_count_rows(docs.where(F.col("y").isNotNull()), dims=16)
    else:
        run = lambda df: dsir_count_stream(df, dims=16)
        cols = ("dim", "t", "cnt")
        want = dsir_count_rows(docs.fillna(0, ["t"]), dims=16)
    if op != "cms":
        want = want.groupBy("dim", cols[1]).agg(F.count("*").alias("cnt"))

    input_dir = str(tmp_path / "in")
    output_dir = str(tmp_path / "out")
    docs.write.parquet(input_dir)
    (
        run(spark.readStream.schema(schema).parquet(input_dir))
        .writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    got = sorted(tuple(r[c] for c in cols)
                 for r in spark.read.parquet(output_dir).collect())
    assert got and got == sorted(tuple(r[c] for c in cols)
                                 for r in want.collect())


@pytest.mark.parametrize("op", ["sessionize", "latest_crawl", "dedupe"])
def test_keyed_streams_keep_null_key(spark, tmp_path, op):
    """A NULL user (sessionize), url (latest_crawl) or dedupe key is one
    key, as in the batch ``groupBy``: the stream survives it across two
    micro-batches, and the final row per key equals the batch reference
    over their union."""
    import datetime as dt

    from pyspark.sql import Window, functions as F

    from servico_ocr_spark.operators import latest_crawl
    from servico_ocr_spark.streaming.stateful import (
        dedupe_stream, latest_crawl_stream, sessionize_stream,
    )

    schema = "event_id long, user_id long, url string, ts timestamp"
    t = lambda m: dt.datetime(2024, 3, 1, 12) + dt.timedelta(  # noqa: E731
        minutes=m
    )
    # NULL key: 0 and 10 min (one session), then 90 min (a second one)
    batches = [
        [(1, 1, "http://a.com/", t(0)), (2, None, None, t(0)),
         (3, None, None, t(10))],
        [(4, None, None, t(90)), (5, 1, "http://a.com/", t(20))],
    ]
    ev = spark.createDataFrame(batches[0] + batches[1], schema)
    if op == "sessionize":
        run, key, counter = sessionize_stream, "user_id", "n_events"
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
        want = (
            ev.withColumn(
                "s", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
            )
            .groupBy("user_id")
            .agg(F.sum("s").alias("n_sessions"),
                 F.count("*").alias("n_events"))
        )
    elif op == "latest_crawl":
        run = lambda df: latest_crawl_stream(  # noqa: E731
            df, ts_col="ts", id_col="event_id"
        )
        key, counter = "url", "n_crawls"
        want = latest_crawl(ev, ts_col="ts", id_col="event_id") \
            .withColumnRenamed("canonical_url", "url")
    else:
        run, key, counter = (lambda df: dedupe_stream(df, "url")), "url", None
        want = ev.select("url").distinct()
    cols = want.columns

    input_dir = str(tmp_path / "in")
    output_dir = str(tmp_path / "out")
    for batch in batches:
        spark.createDataFrame(batch, schema).write.mode("append").parquet(
            input_dir
        )
        (
            run(spark.readStream.schema(schema).parquet(input_dir))
            .writeStream.format("parquet")
            .option("path", output_dir)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    rows = spark.read.parquet(output_dir).collect()
    final = {}
    for r in rows:
        if r[key] not in final or (
            counter and r[counter] > final[r[key]][counter]
        ):
            final[r[key]] = r
    if counter is None:
        assert len(rows) == len(final)
    got = sorted((tuple(r[c] for c in cols) for r in final.values()),
                 key=repr)
    assert None in final and got == sorted(
        (tuple(r) for r in want.select(*cols).collect()), key=repr
    )
