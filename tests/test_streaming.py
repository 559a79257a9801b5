"""Structured Streaming ingest tests (SURVEY §5 item 5: incremental
semantics — idempotence via checkpoint, job state machine, telemetry)."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from frappe_data_pipelines_spark.sources.tables import load_table
from frappe_data_pipelines_spark.streaming.ingest import (
    read_ingest_sink,
    start_ingest_stream,
)


@pytest.fixture()
def stream_dirs(tmp_path):
    d = {
        "input": str(tmp_path / "input"),
        "output": str(tmp_path / "output"),
        "checkpoint": str(tmp_path / "checkpoint"),
    }
    os.makedirs(d["input"])
    return d


def _feed(spark, sf_dir, input_dir, limit=40, offset=0):
    docs = load_table(spark, sf_dir, "documents").filter(
        (F.col("doc_id") >= offset) & (F.col("doc_id") < offset + limit)
    )
    docs.coalesce(2).write.mode("append").parquet(input_dir)
    return docs.count()


def test_ingest_stream_end_to_end(spark, sf_dir, stream_dirs):
    n_docs = _feed(spark, sf_dir, stream_dirs["input"], limit=40)
    q = start_ingest_stream(
        spark, stream_dirs["input"], stream_dirs["output"], stream_dirs["checkpoint"]
    )
    q.awaitTermination(120)

    chunks = read_ingest_sink(spark, stream_dirs["output"], "chunks")
    jobs = read_ingest_sink(spark, stream_dirs["output"], "jobs")

    # every input doc produced chunks with embeddings
    assert chunks.select("doc_id").distinct().count() == n_docs
    assert chunks.filter(F.size("embedding") != 64).count() == 0

    # I2: each doc has a Queued AND a Completed job row
    per_status = {r["status"]: r["n"] for r in
                  jobs.groupBy("status").agg(F.countDistinct("source_doc_id").alias("n")).collect()}
    assert per_status == {"Queued": n_docs, "Completed": n_docs}

    # I6: metrics recorded per batch
    metrics = read_ingest_sink(spark, stream_dirs["output"], "metrics")
    assert metrics.agg(F.sum("n_docs")).first()[0] == n_docs


def test_ingest_incremental_and_checkpointed(spark, sf_dir, stream_dirs):
    """Second run with NO new files is a no-op (checkpoint skips processed
    files); new files are picked up incrementally."""
    _feed(spark, sf_dir, stream_dirs["input"], limit=20)
    q = start_ingest_stream(spark, stream_dirs["input"], stream_dirs["output"], stream_dirs["checkpoint"])
    q.awaitTermination(120)
    out_dir = stream_dirs["output"]
    n1 = read_ingest_sink(spark, out_dir, "chunks").count()

    # re-run without new input: nothing re-processed (I5 idempotence)
    q = start_ingest_stream(spark, stream_dirs["input"], stream_dirs["output"], stream_dirs["checkpoint"])
    q.awaitTermination(120)
    assert read_ingest_sink(spark, out_dir, "chunks").count() == n1

    # feed 20 more docs → only the delta is processed
    _feed(spark, sf_dir, stream_dirs["input"], limit=20, offset=20)
    q = start_ingest_stream(spark, stream_dirs["input"], stream_dirs["output"], stream_dirs["checkpoint"])
    q.awaitTermination(120)
    n2 = read_ingest_sink(spark, out_dir, "chunks").count()
    assert n2 > n1
    docs_seen = read_ingest_sink(spark, out_dir, "chunks").select("doc_id").distinct().count()
    assert docs_seen == 40


def test_streaming_window_plan_builds(spark, sf_dir, stream_dirs, tmp_path):
    """The windowed aggs accept a genuine streaming DataFrame (watermark +
    window survive analysis) and produce correct results via the batch twin
    oracle path (tumbling_hourly_counts parity covers values)."""
    from frappe_data_pipelines_spark.streaming.windows import session_windows, tumbling_counts

    ev = load_table(spark, sf_dir, "events").limit(200)
    ev_dir = str(tmp_path / "events_in")
    ev.write.parquet(ev_dir)
    stream = spark.readStream.schema(ev.schema).parquet(ev_dir)
    assert stream.isStreaming

    out = tumbling_counts(stream)
    sess = session_windows(stream)
    sink = (
        out.writeStream.format("memory")
        .queryName("tumbling_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "cp1"))
        .trigger(availableNow=True)
        .start()
    )
    sink.awaitTermination(120)
    # append mode emits only watermark-closed windows; plan validity +
    # state handling is what we assert here (values come from the batch twin)
    assert spark.table("tumbling_test").columns == [
        "window_start", "window_end", "event_type", "n", "total_value",
    ]
    assert sess.schema.fieldNames() == ["session_start", "session_end", "user_id", "n_events"]


def test_stateful_dedup_stream_across_batches(spark, sf_dir, stream_dirs, tmp_path):
    """applyInPandasWithState cross-batch dedup: a doc re-delivered in a later
    micro-batch is dropped; only first-seen fingerprints are emitted."""
    from frappe_data_pipelines_spark.streaming.stateful import dedup_stream
    from frappe_data_pipelines_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    # file 1: docs 0-19; file 2: docs 10-19 again (duplicate texts, new ids)
    docs.select("doc_id", "text", "lang", "source", "n_chars").coalesce(1).write.mode(
        "append"
    ).parquet(stream_dirs["input"])
    docs.filter(F.col("doc_id") >= 10).withColumn(
        "doc_id", F.col("doc_id") + 1000
    ).select("doc_id", "text", "lang", "source", "n_chars").coalesce(1).write.mode(
        "append"
    ).parquet(stream_dirs["input"])

    stream = (
        spark.readStream.schema(
            "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dirs["input"])
    )
    out_dir = str(tmp_path / "dedup_out")
    q = (
        dedup_stream(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", stream_dirs["checkpoint"])
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    out = spark.read.parquet(out_dir)
    rows = {r["doc_id"]: r for r in out.collect()}
    # exactly the 20 distinct texts survive, all flagged first_in_stream;
    # none of the +1000 re-crawled ids appear
    assert out.count() == 20
    assert set(rows) == set(range(20))
    assert all(r["first_in_stream"] for r in rows.values())

    # batch twin: same distinct set, duplicate counted
    both = docs.unionByName(
        docs.filter(F.col("doc_id") >= 10).withColumn("doc_id", F.col("doc_id") + 1000)
    )
    batch = dedup_stream(both)
    assert batch.count() == 20
    assert batch.filter(F.col("n_dupes_dropped") == 1).count() == 10


def test_stream_stream_interval_join(spark, sf_dir, stream_dirs, tmp_path):
    """Stream-stream join with watermarks + bounded event-time condition:
    same pairs as the batch range join over identical input."""
    from frappe_data_pipelines_spark.streaming.windows import stream_stream_click_purchase

    ev = load_table(spark, sf_dir, "events")
    ev.coalesce(1).write.mode("overwrite").parquet(stream_dirs["input"])

    stream = (
        spark.readStream.schema(
            "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING"
        ).parquet(stream_dirs["input"])
    )
    out_dir = str(tmp_path / "ssj_out")
    q = (
        stream_stream_click_purchase(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", stream_dirs["checkpoint"])
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        (r["purchase_id"], r["click_id"])
        for r in spark.read.parquet(out_dir).collect()
    }
    want = {
        (r["purchase_id"], r["click_id"])
        for r in stream_stream_click_purchase(ev).collect()
    }
    assert want, "batch twin should produce pairs"
    assert got == want


def test_ingest_dead_letters_failed_rows(spark, sf_dir, stream_dirs):
    """I3: an unprocessable doc (empty text) gets a Failed job row with a
    captured error; good docs in the same micro-batch still complete."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 10)
    poisoned = docs.withColumn(
        "text", F.when(F.col("doc_id") == 3, F.lit("   ")).otherwise(F.col("text"))
    )
    poisoned.coalesce(1).write.mode("append").parquet(stream_dirs["input"])

    q = start_ingest_stream(
        spark, stream_dirs["input"], stream_dirs["output"], stream_dirs["checkpoint"]
    )
    q.awaitTermination(120)

    jobs = read_ingest_sink(spark, stream_dirs["output"], "jobs")
    failed = jobs.filter(F.col("status") == "Failed").collect()
    assert [r["source_doc_id"] for r in failed] == [3]
    assert failed[0]["error_message"] == "empty or null text"
    assert jobs.filter(
        (F.col("status") == "Completed") & (F.col("source_doc_id") == 3)
    ).count() == 0
    assert jobs.filter(F.col("status") == "Completed").count() == 9
    chunks = read_ingest_sink(spark, stream_dirs["output"], "chunks")
    assert chunks.filter(F.col("doc_id") == 3).count() == 0


def test_progress_listener_records_batches(spark, sf_dir, stream_dirs):
    """I6: StreamingQueryListener sees every micro-batch with row counts."""
    from frappe_data_pipelines_spark.streaming.listener import ProgressRecorder

    rec = ProgressRecorder()
    spark.streams.addListener(rec)
    try:
        n = _feed(spark, sf_dir, stream_dirs["input"], limit=30)
        q = start_ingest_stream(
            spark, stream_dirs["input"], stream_dirs["output"], stream_dirs["checkpoint"]
        )
        q.awaitTermination(120)
        import time as _t
        for _ in range(20):  # listener callbacks are async
            if sum(r["num_input_rows"] for r in rec.progress_rows) >= n:
                break
            _t.sleep(0.5)
        assert rec.started
        # each action inside foreachBatch re-scans the micro-batch source, so
        # numInputRows is a multiple of the true row count — assert coverage,
        # not exact equality
        assert sum(r["num_input_rows"] for r in rec.progress_rows) >= n
        assert all(r["batch_duration_ms"] >= 0 for r in rec.progress_rows)
        assert {r["batch_id"] for r in rec.progress_rows}
    finally:
        spark.streams.removeListener(rec)


def test_stateful_dedup_ttl_plan_builds(spark, sf_dir, stream_dirs):
    """TTL variant wires ProcessingTimeTimeout into a valid streaming plan
    (running it with availableNow stalls ~2 min on the timeout timer, so the
    e2e behavior is exercised by the no-TTL test; this asserts the wiring)."""
    from frappe_data_pipelines_spark.streaming.stateful import dedup_stream

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 5)
    docs.select("doc_id", "text", "lang", "source", "n_chars").coalesce(1).write.mode(
        "append"
    ).parquet(stream_dirs["input"])
    stream = spark.readStream.schema(
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    ).parquet(stream_dirs["input"])
    out = dedup_stream(stream, ttl_minutes=5)
    assert out.isStreaming
    assert "FlatMapGroupsInPandasWithState" in out._jdf.queryExecution().analyzed().toString()
    # batch path ignores TTL and still works
    assert dedup_stream(docs, ttl_minutes=5).count() == 5


def test_exactly_once_survives_checkpoint_loss(spark, sf_dir, stream_dirs):
    """I5 hard case: losing the checkpoint re-delivers everything; the
    append sink duplicates, the upsert (exactly_once) sink does not."""
    from frappe_data_pipelines_spark.sources.merge import MergeTable

    n = _feed(spark, sf_dir, stream_dirs["input"], limit=15)
    q = start_ingest_stream(
        spark, stream_dirs["input"], stream_dirs["output"], stream_dirs["checkpoint"],
        exactly_once=True,
    )
    q.awaitTermination(120)
    chunks_dir = os.path.join(stream_dirs["output"], "chunks")
    table = MergeTable(chunks_dir, ["doc_id", "chunk_index"])
    n1 = table.read(spark).count()

    shutil.rmtree(stream_dirs["checkpoint"])  # simulate checkpoint loss
    q = start_ingest_stream(
        spark, stream_dirs["input"], stream_dirs["output"], stream_dirs["checkpoint"],
        exactly_once=True,
    )
    q.awaitTermination(120)
    out = table.read(spark)
    assert out.count() == n1  # no duplicates despite full re-delivery
    assert out.groupBy("doc_id", "chunk_index").count().filter(F.col("count") > 1).count() == 0
    assert out.select("doc_id").distinct().count() == n


def test_transform_with_state_running_counters(spark, sf_dir, stream_dirs, tmp_path):
    """transformWithStateInPandas: per-user counters accumulate across
    micro-batches; the final emission per user equals the batch aggregate.
    Skipped where python-protobuf (the TWS driver-worker dep) is absent."""
    from frappe_data_pipelines_spark.streaming.stateful import (
        tws_available,
        user_activity_stream,
    )

    if not tws_available():
        ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 10)
        batch = user_activity_stream(ev)  # batch twin still exercised
        assert batch.count() > 0
        with pytest.raises(ImportError, match="protobuf"):
            stream = spark.readStream.schema(
                "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING,"
                " value DOUBLE, props STRING"
            ).parquet(stream_dirs["input"])
            user_activity_stream(stream)
        pytest.skip("python-protobuf absent: TWS driver worker cannot start")

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    half = ev.filter(F.col("event_id") % 2 == 0)
    other = ev.filter(F.col("event_id") % 2 == 1)
    half.coalesce(1).write.mode("append").parquet(stream_dirs["input"])
    other.coalesce(1).write.mode("append").parquet(stream_dirs["input"])

    stream = (
        spark.readStream.schema(
            "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dirs["input"])
    )
    out_dir = str(tmp_path / "activity_out")
    q = (
        user_activity_stream(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", stream_dirs["checkpoint"])
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    # last emission per user (max n_events) must equal the batch aggregate
    out = spark.read.parquet(out_dir)
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    final = (
        out.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") == 1)
        .select("user_id", "n_events", "total_value")
    )
    expected = user_activity_stream(ev)  # batch twin
    a = {(r["user_id"], r["n_events"], r["total_value"]) for r in final.collect()}
    b = {(r["user_id"], r["n_events"], r["total_value"]) for r in expected.collect()}
    assert a == b and a


def test_kafka_shaped_source_through_ingest(spark, stream_dirs):
    """Message-bus ingest: the Kafka wire envelope (rate-micro-batch
    transport) parses into DOC_SCHEMA and drives the SAME micro-batch body
    — chunks, job state machine, metrics — proving the pipeline is
    source-agnostic (reference trigger: hooks.py:28-33)."""
    import time

    from frappe_data_pipelines_spark.streaming.sources import (
        kafka_shaped_stream,
        parse_document_messages,
    )

    wire = kafka_shaped_stream(spark, rows_per_batch=25, num_partitions=4)
    assert [c for c, _ in wire.dtypes] == [
        "key", "value", "topic", "partition", "offset", "timestamp",
    ]
    docs = parse_document_messages(wire)
    q = start_ingest_stream(
        spark,
        input_dir="",  # unused with source_stream
        output_dir=stream_dirs["output"],
        checkpoint_dir=stream_dirs["checkpoint"],
        source_stream=docs,
        available_now=False,
    )
    try:
        deadline = time.time() + 120
        seen = 0
        while time.time() < deadline:
            try:
                seen = (
                    read_ingest_sink(spark, stream_dirs["output"], "chunks")
                    .select("doc_id").distinct().count()
                )
            except Exception:  # noqa: BLE001 — sink not created yet
                seen = 0
            if seen >= 50:  # at least two 25-doc batches landed
                break
            time.sleep(1)
    finally:
        from frappe_data_pipelines_spark.streaming.ingest import (
            stop_streaming_query,
        )

        stop_streaming_query(q)
    assert seen >= 50

    chunks = read_ingest_sink(spark, stream_dirs["output"], "chunks")
    # offsets are deterministic 0..N so doc ids are dense from 0
    ids = {r["doc_id"] for r in chunks.select("doc_id").distinct().collect()}
    assert set(range(25)) <= ids
    # payload text round-tripped through the JSON envelope
    sample = chunks.filter(F.col("doc_id") == 3).first()
    assert "stream document 3" in sample["chunk_text"]

    jobs = read_ingest_sink(spark, stream_dirs["output"], "jobs")
    per_status = {
        r["status"]: r["n"]
        for r in jobs.groupBy("status")
        .agg(F.countDistinct("source_doc_id").alias("n"))
        .collect()
    }
    assert per_status.get("Completed", 0) >= 50
    assert per_status.get("Queued", 0) >= 50


def test_kafka_envelope_round_trip(spark, sf_dir):
    """Producer-side encode → consumer-side parse is lossless for the
    document fields (batch DataFrames: the envelope logic is identical)."""
    from frappe_data_pipelines_spark.streaming.sources import (
        encode_document_messages,
        parse_document_messages,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    wire = encode_document_messages(docs).withColumn(
        "offset", F.monotonically_increasing_id()
    )
    back = parse_document_messages(wire)
    want = {
        (r["doc_id"], r["text"], r["lang"], r["n_chars"])
        for r in docs.select("doc_id", "text", "lang", "n_chars").collect()
    }
    got = {
        (r["doc_id"], r["text"], r["lang"], r["n_chars"])
        for r in back.select("doc_id", "text", "lang", "n_chars").collect()
    }
    assert got == want


def test_warc_stream_through_ingest(spark, stream_dirs):
    """Crawl archives as a streaming source: WARC files dropped in a watched
    dir flow through record parse → boilerplate removal → the standard
    chunk/embed/job pipeline, proving the ingest contract is truly
    source-agnostic (file parquet / Kafka wire / WARC archives)."""
    import os

    from pyspark.sql import functions as F

    from frappe_data_pipelines_spark.operators.docgen import documents_as_warc
    from frappe_data_pipelines_spark.sources.tables import load_table
    from frappe_data_pipelines_spark.streaming.ingest import start_ingest_stream
    from frappe_data_pipelines_spark.streaming.sources import warc_document_stream

    inp, out, ckpt = (
        stream_dirs["input"], stream_dirs["output"], stream_dirs["checkpoint"]
    )
    docs = load_table(spark, "/root/testdata/sf0.001", "documents").filter(
        F.col("doc_id") < 12
    )
    archives = documents_as_warc(docs, n_files=3).collect()
    for row in archives:
        with open(os.path.join(inp, os.path.basename(row["path"])), "wb") as f:
            f.write(bytes(row["content"]))

    stream = warc_document_stream(spark, inp, max_files_per_trigger=1)
    q = start_ingest_stream(
        spark, input_dir="", output_dir=out, checkpoint_dir=ckpt,
        source_stream=stream,
    )
    q.awaitTermination(180)

    chunks = read_ingest_sink(spark, out, "chunks")
    jobs = read_ingest_sink(spark, out, "jobs")
    assert chunks.select("doc_id").distinct().count() == 12
    done = {r["source_doc_id"] for r in jobs.filter(F.col("status") == "Completed").collect()}
    assert done == set(range(12))
    # extracted text round-tripped the boilerplate removal: chunk text of a
    # one-chunk doc equals the original document text
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    one = chunks.filter(F.col("doc_id") == 3).orderBy("chunk_index").collect()
    assert "".join(c["chunk_text"] for c in one).replace(" ", "")[:40] in texts[3].replace(" ", "")


def test_streaming_sketch_rollup(spark, sf_dir, stream_dirs, tmp_path):
    """Daily-rollup pattern for the mergeable sketches: each micro-batch
    appends its own HLL register table / CMS counter grid (a few hundred
    rows) to a sketch store; the periodic rollup — max over registers, sum
    over cells — must equal the sketch of the whole corpus computed in one
    batch. This is the property that lets per-day sketches answer
    "distinct users this quarter" / "hot keys this quarter" without ever
    rescanning the raw 100 TB."""
    from frappe_data_pipelines_spark.operators.sketches import cms_cells, hll_registers

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.col("user_id").cast("string").alias("k")
    )
    for lo, hi in ((0, 350), (350, 700), (700, 1000)):
        ev.filter((F.col("event_id") >= lo) & (F.col("event_id") < hi)).coalesce(
            1
        ).write.mode("append").parquet(stream_dirs["input"])

    regs_dir = str(tmp_path / "regs")
    cells_dir = str(tmp_path / "cells")

    def sink(batch_df, batch_id):
        hll_registers(batch_df, "k", 256).withColumn(
            "batch_id", F.lit(batch_id)
        ).write.mode("append").parquet(regs_dir)
        cms_cells(batch_df, "k", 4, 64).withColumn(
            "batch_id", F.lit(batch_id)
        ).write.mode("append").parquet(cells_dir)

    q = (
        spark.readStream.schema("event_id BIGINT, k STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dirs["input"])
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", stream_dirs["checkpoint"])
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "sketch-rollup stream did not finish in 120s"

    whole = ev.filter(F.col("event_id") < 1000)
    rolled_regs = (
        spark.read.parquet(regs_dir).groupBy("bucket").agg(F.max("m_j").alias("m_j"))
    )
    # the rollup must span MULTIPLE micro-batches for the merge to be real
    assert spark.read.parquet(regs_dir).select("batch_id").distinct().count() >= 2
    assert sorted(map(tuple, rolled_regs.collect())) == sorted(
        map(tuple, hll_registers(whole, "k", 256).collect())
    )
    rolled_cells = (
        spark.read.parquet(cells_dir)
        .groupBy("row_i", "col_i")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
    )
    assert sorted(map(tuple, rolled_cells.collect())) == sorted(
        map(tuple, cms_cells(whole, "k", 4, 64).collect())
    )


def test_streaming_ingest_door_span_dedup(spark, sf_dir, stream_dirs, tmp_path):
    """Exact-substring dedup at the ingest door, IN A STREAM: each
    micro-batch of arriving docs is span-checked against the standing
    corpus inside foreachBatch; the union over batches equals the
    batch-at-once answer, and multiple micro-batches really ran."""
    from frappe_data_pipelines_spark.operators.dedup import incremental_dup_spans
    from frappe_data_pipelines_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 20 != 3).select("doc_id", "text")
    new = docs.filter(F.col("doc_id") % 20 == 3).select("doc_id", "text")

    # arrivals land as three parquet files -> three micro-batches
    for lo, hi in ((0, 150), (150, 320), (320, 10_000)):
        new.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)).coalesce(
            1
        ).write.mode("append").parquet(stream_dirs["input"])

    spans_dir = str(tmp_path / "spans")
    batches_run: list[int] = []  # foreachBatch runs in-process on local mode

    def sink(batch_df, batch_id):
        batches_run.append(batch_id)
        incremental_dup_spans(corpus, batch_df, min_len=40).withColumn(
            "batch_id", F.lit(batch_id)
        ).write.mode("append").parquet(spans_dir)

    q = (
        spark.readStream.schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dirs["input"])
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", stream_dirs["checkpoint"])
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), "ingest-door span stream did not finish"

    got = spark.read.parquet(spans_dir)
    assert len(set(batches_run)) >= 2  # spans may be sparse; batches must not be
    streamed = sorted(
        map(tuple, got.select("doc_id", "span_start", "span_end", "span_len").collect())
    )
    whole = sorted(map(tuple, incremental_dup_spans(corpus, new, min_len=40).collect()))
    assert streamed == whole


def test_ingest_stream_with_door_scrub(spark, sf_dir, stream_dirs):
    """scrub_against: corpus-held regions are cut from arriving docs
    BEFORE chunking; clean docs flow untouched; fully-duplicated docs
    scrub to empty and dead-letter as Failed."""
    block = "the quick brown fox jumps over the lazy dog AGAIN and again!"
    corpus = spark.createDataFrame(
        [(900, "corpus holds ~~ " + block + " ~~ right here")],
        "doc_id long, text string",
    )
    arrivals = spark.createDataFrame(
        [
            (1, "arrival keeps this prefix " + block + " and this suffix text", "en", "s", 0),
            (2, "totally clean arriving document with enough words to chunk", "en", "s", 0),
            (3, block, "en", "s", 0),  # fully corpus-duplicated -> empty
            # same id delivered twice in one batch: the door must collapse to
            # ONE row before the scrub join (no row squaring / double chunks)
            (2, "totally clean arriving document with enough words to chunk", "en", "s", 0),
            # null id: can't key a scrub — passes through and dead-letters the
            # same way the unscrubbed path would
            (None, None, "en", "s", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).withColumn("n_chars", F.length("text").cast("long"))
    arrivals.coalesce(1).write.mode("append").parquet(stream_dirs["input"])

    q = start_ingest_stream(
        spark,
        stream_dirs["input"],
        stream_dirs["output"],
        stream_dirs["checkpoint"],
        scrub_against=corpus,
    )
    q.awaitTermination(120)

    chunks = read_ingest_sink(spark, stream_dirs["output"], "chunks")
    text_of = {
        r.doc_id: r.joined
        for r in chunks.groupBy("doc_id")
        .agg(F.concat_ws("", F.collect_list("chunk_text")).alias("joined"))
        .collect()
    }
    assert block not in text_of.get(1, "")
    assert "arrival keeps this prefix" in text_of[1]
    assert "and this suffix text" in text_of[1]
    assert "totally clean arriving document" in text_of[2]
    # the doubly-delivered doc 2 collapsed at the door: its text appears ONCE
    assert text_of[2].count("totally clean arriving document") == 1
    assert 3 not in text_of  # scrubbed to empty -> no chunks
    jobs = read_ingest_sink(spark, stream_dirs["output"], "jobs")
    failed = {r.source_doc_id for r in jobs.filter("status = 'Failed'").collect()}
    assert 3 in failed  # scrubbed-to-empty dead-letters
    assert failed - {3, None} == set()  # null-id arrival dead-letters, not crashes


def test_ingest_stream_with_blocklist_door(spark, sf_dir, stream_dirs):
    """blocklist_terms: docs over the hit budget dead-letter as Failed
    with the hit count in the error; clean docs chunk normally; the drop
    is recorded (Queued + Failed), never silent."""
    arrivals = spark.createDataFrame(
        [
            (1, "a perfectly clean document with enough words to chunk", "en", "s", 0),
            (2, "this one contains FORBIDDEN content twice: forbidden", "en", "s", 0),
            (3, "single forbidden mention is within the lax budget", "en", "s", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).withColumn("n_chars", F.length("text").cast("long"))
    arrivals.coalesce(1).write.mode("append").parquet(stream_dirs["input"])
    terms = spark.createDataFrame([(1, "forbidden")], "term_id long, term string")

    q = start_ingest_stream(
        spark,
        stream_dirs["input"],
        stream_dirs["output"],
        stream_dirs["checkpoint"],
        blocklist_terms=terms,
        blocklist_max_hits=1,
    )
    q.awaitTermination(120)

    chunks = read_ingest_sink(spark, stream_dirs["output"], "chunks")
    chunked = {r.doc_id for r in chunks.select("doc_id").distinct().collect()}
    assert chunked == {1, 3}  # doc 2 (2 hits > budget 1) never chunks
    jobs = read_ingest_sink(spark, stream_dirs["output"], "jobs")
    failed = {
        r.source_doc_id: r.error_message
        for r in jobs.filter("status = 'Failed'").collect()
    }
    assert set(failed) == {2}
    assert failed[2] == "blocklist (2 hits)"
    queued = {r.source_doc_id for r in jobs.filter("status = 'Queued'").collect()}
    assert 2 in queued  # the drop is recorded, not silent


def test_ingest_stream_with_quality_door(spark, stream_dirs, tmp_path):
    """quality_lm_path + quality_min_score: docs scoring under the
    threshold against the persisted KN LM dead-letter as Failed with the
    score in the error; in-domain docs chunk normally; docs the LM
    cannot assess (< 2 tokens) pass through instead of failing blind;
    the drop is recorded (Queued + Failed), never silent."""
    from frappe_data_pipelines_spark.operators.selection import (
        kn_read_score,
        kn_write,
    )

    ref = spark.createDataFrame(
        [(100, True, "the cat sat on the mat and the dog sat on the rug"),
         (101, True, "a cat and a dog sat on the mat near the rug")],
        "doc_id long, ref boolean, text string",
    )
    lm = str(tmp_path / "kn_lm")
    kn_write(ref, F.col("ref"), lm)

    good_text = "the cat sat on the mat near the dog"
    bad_text = "zxqv gflm wrtk pzns jqxd blorp vrzn qmft"
    probe = spark.createDataFrame(
        [(1, good_text), (2, bad_text)], "doc_id long, text string"
    )
    s = {r.doc_id: r.kn_score for r in kn_read_score(spark, probe, lm).collect()}
    assert s[1] > s[2]
    threshold = (s[1] + s[2]) / 2

    arrivals = spark.createDataFrame(
        [
            (1, good_text, "en", "s", 0),
            (2, bad_text, "en", "s", 0),
            (3, "word", "en", "s", 0),  # < 2 tokens: unassessable, passes
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).withColumn("n_chars", F.length("text").cast("long"))
    arrivals.coalesce(1).write.mode("append").parquet(stream_dirs["input"])

    q = start_ingest_stream(
        spark,
        stream_dirs["input"],
        stream_dirs["output"],
        stream_dirs["checkpoint"],
        quality_lm_path=lm,
        quality_min_score=threshold,
    )
    q.awaitTermination(120)

    chunks = read_ingest_sink(spark, stream_dirs["output"], "chunks")
    chunked = {r.doc_id for r in chunks.select("doc_id").distinct().collect()}
    assert chunked == {1, 3}  # the OOV doc never chunks; the 1-token doc does
    jobs = read_ingest_sink(spark, stream_dirs["output"], "jobs")
    failed = {
        r.source_doc_id: r.error_message
        for r in jobs.filter("status = 'Failed'").collect()
    }
    assert set(failed) == {2}
    assert failed[2].startswith("quality (kn_score ")
    queued = {r.source_doc_id for r in jobs.filter("status = 'Queued'").collect()}
    assert 2 in queued  # the drop is recorded, not silent


def test_quality_door_requires_threshold(spark, stream_dirs, tmp_path):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="quality_min_score"):
        start_ingest_stream(
            spark,
            stream_dirs["input"],
            stream_dirs["output"],
            stream_dirs["checkpoint"],
            quality_lm_path=str(tmp_path / "nope"),
        )


def test_local_door_fast_path_matches_distributed(spark, tmp_path):
    """Round-10 trickle fast path: the SAME micro-batch — scrub corpus
    overlap, blocklist hit, empty text, a null-id row, a duplicated id,
    multibyte text — must land row-identical chunks/jobs/metrics whether
    the door runs driver-local (default, small batch) or fully
    distributed (local_door_max_rows=0)."""
    boiler = (
        "этот общий шаблонный текст повторяется в каждом документе "
        "корпуса и должен быть вырезан на входе целиком"
    )
    corpus = spark.createDataFrame(
        [(100 + i, f"corpus doc {i} says: {boiler} and then more {i}")
         for i in range(6)],
        "doc_id long, text string",
    )
    terms = spark.createDataFrame(
        [(1, "verboten")], "term_id long, term string"
    )
    arrivals = [
        (1, f"fresh unique text one with plenty of words. {boiler} trailing", "en", "s", 0),
        (2, "VERBOTEN content verboten twice here in this arriving doc", "en", "s", 0),
        (3, "   ", "en", "s", 0),
        (None, f"null id doc still judged on its own text {boiler}", "en", "s", 0),
        # same text on both deliveries: the door keeps ONE row per id but
        # which one is the sink's "any" contract — identical text keeps
        # the fast-vs-distributed comparison deterministic either way
        (5, "dup id delivery with its own unique words here", "en", "s", 0),
        (5, "dup id delivery with its own unique words here", "en", "s", 0),
        (6, "café naïve déjà-vu unicode text unlike anything in corpus", "fr", "s", 0),
    ]

    def run(mode: str, **kw) -> dict:
        inp = str(tmp_path / f"in_{mode}")
        out = str(tmp_path / f"out_{mode}")
        ckpt = str(tmp_path / f"ckpt_{mode}")
        os.makedirs(inp)
        df = spark.createDataFrame(
            arrivals, "doc_id long, text string, lang string, source string, n_chars long"
        ).withColumn("n_chars", F.length("text").cast("long"))
        df.coalesce(1).write.mode("append").parquet(inp)
        q = start_ingest_stream(
            spark, inp, out, ckpt,
            scrub_against=corpus, blocklist_terms=terms,
            blocklist_max_hits=1, **kw,
        )
        q.awaitTermination(120)
        for attr in ("scrub_corpus_fp", "scrub_corpus_doc_fp"):
            cache = getattr(q, attr, None)
            if cache is not None:
                cache.unpersist()
        chunks = read_ingest_sink(spark, out, "chunks")
        jobs = read_ingest_sink(spark, out, "jobs")
        metrics = read_ingest_sink(spark, out, "metrics")
        return {
            "chunks": sorted(
                ((r["doc_id"], r["chunk_index"], r["chunk_text"])
                 for r in chunks.collect()),
                key=str,
            ),
            "jobs": sorted(
                ((r["source_doc_id"], r["status"], r["error_message"])
                 for r in jobs.collect()),
                key=str,
            ),
            "n_docs": metrics.agg(F.sum("n_docs")).first()[0],
        }

    fast = run("fast")  # default bounds: 7 rows -> driver-local door
    slow = run("slow", local_door_max_rows=0)  # forced distributed door
    assert fast["chunks"] == slow["chunks"]
    assert fast["jobs"] == slow["jobs"]
    assert fast["n_docs"] == slow["n_docs"]
    # the doors actually did something: doc 2 dead-lettered by blocklist,
    # doc 3 by empty text, and the boilerplate got scrubbed out of doc 1
    failed = {d: e for d, s, e in fast["jobs"] if s == "Failed"}
    assert failed[2].startswith("blocklist (2")
    assert failed[3] == "empty or null text"
    # scrubbed out of every KEYED doc; the null-id row passes the scrub
    # untouched by design (no key to attribute spans to) and keeps it
    assert all(boiler not in c for d, _, c in fast["chunks"] if d is not None)
    assert any(boiler in c for d, _, c in fast["chunks"] if d is None)


@pytest.mark.parametrize("zone", ["UTC", "Asia/Kolkata"])
def test_door_job_rows_stamp_the_batch_instant(spark, tmp_path, zone):
    """Both door paths stamp created_at with the instant the batch ran,
    whatever ``spark.sql.session.timeZone`` is: the distributed path with
    ``current_timestamp()``, the local path with an aware UTC datetime
    read through its local-relation job rows. The metrics row still
    counts the batch."""
    import time

    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", zone)
    try:
        for mode, kw in (("local", {}), ("distributed", {"local_door_max_rows": 0})):
            inp, out = str(tmp_path / f"in_{mode}"), str(tmp_path / f"out_{mode}")
            spark.createDataFrame(
                [(1, "first doc text"), (2, "   "), (None, "null id text")],
                "doc_id long, text string",
            ).withColumn("lang", F.lit("en")).withColumn("source", F.lit("s")) \
                .withColumn("n_chars", F.length("text").cast("long")) \
                .coalesce(1).write.parquet(inp)
            t0 = time.time()
            start_ingest_stream(spark, inp, out, str(tmp_path / f"ckpt_{mode}"),
                                **kw).awaitTermination(120)
            t1 = time.time()
            jobs = read_ingest_sink(spark, out, "jobs")
            stamps = [r[0] / 1e6 for r in jobs.select(F.unix_micros("created_at")).collect()]
            assert len(stamps) == 6, mode  # 3 Queued, 2 Completed, 1 Failed
            assert all(t0 - 1 <= t <= t1 + 1 for t in stamps), (mode, t0, t1, stamps)
            metrics = read_ingest_sink(spark, out, "metrics").collect()
            assert [(r["batch_id"], r["n_docs"]) for r in metrics] == [(0, 3)], mode
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_chunker_emits_at_least_one_chunk_per_nonempty_doc(spark):
    """The door's Completed rows are derived from the surviving doc set
    (NOT from chunk counts) — sound only while the recursive chunker
    emits >= 1 chunk for every text that survives the empty-trim guard.
    Pin that guarantee on adversarial shapes."""
    from frappe_data_pipelines_spark.operators.chunker import chunk_documents

    texts = ["x", ".", "a" * 5000, " lead", "\n\n\n.p\n\n\n", "ünï",
             "  a  ", "word " * 2000, ". . . . .", "\t\nz\t\n", " z"]
    df = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = chunk_documents(df, strategy="recursive", chunk_size=200, chunk_overlap=40)
    got = {r["doc_id"] for r in out.select("doc_id").distinct().collect()}
    assert got == set(range(len(texts)))


def test_read_ingest_sink_rejects_versioned_chunk_layouts(spark, tmp_path):
    """ADVICE r10: the legacy-chunks misuse guard must fire for BOTH
    versioned layouts — the local MergeTable's `_log` AND a real Delta
    table's `_delta_log` — because raw-parquet reads of either include
    superseded row versions."""
    import pytest as _pytest

    for marker in ("_log", "_delta_log"):
        out = tmp_path / f"out_{marker}"
        legacy = out / "chunks"
        (legacy / marker).mkdir(parents=True)
        with _pytest.raises(ValueError, match="MergeTable/Delta"):
            read_ingest_sink(spark, str(out), "chunks")
