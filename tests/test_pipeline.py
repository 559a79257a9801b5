"""Batch pipeline-engine tests (A12/B4/I4/A15/J6)."""

from __future__ import annotations

from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from frappe_data_pipelines_spark.operators.chunker import (
    ARROW_BATCH_CONF,
    chunk_documents,
    chunk_embed_documents,
)
from frappe_data_pipelines_spark.operators.embed import embed_documents
from frappe_data_pipelines_spark.operators.pipeline import (
    backfill_jobs,
    cascade_delete,
    retention_sweep,
    retry_eligible,
    run_pipeline_batch,
)
from frappe_data_pipelines_spark.sources.tables import load_table


def _files(spark):
    rows = [(i, f"word{i} " * 30, "en", "src", 30 * (6 + len(str(i)))) for i in range(10)]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")


def _jobs(spark):
    rows = [
        (0, "Completed", 0),
        (1, "Failed", 1),
        (2, "Failed", 3),   # over retry cap
        (3, "Queued", 0),
    ]
    return spark.createDataFrame(rows, "source_doc_id long, status string, retry_count int")


def test_backfill_anti_join(spark):
    out = backfill_jobs(_files(spark), _jobs(spark)).collect()
    ids = sorted(r["source_doc_id"] for r in out)
    # docs 0,3 have active jobs; 1,2 are Failed (not active) → re-queued
    assert ids == [1, 2, 4, 5, 6, 7, 8, 9]
    assert all(r["status"] == "Queued" and r["retry_count"] == 0 for r in out)


def test_retry_cap(spark):
    out = retry_eligible(_jobs(spark)).collect()
    assert [(r["source_doc_id"], r["retry_count"]) for r in out] == [(1, 2)]


def test_retention_boundary_exact(spark):
    import datetime

    now = datetime.datetime(2024, 3, 1)
    jobs = spark.createDataFrame(
        [
            (1, "Completed", now - datetime.timedelta(days=31)),
            (2, "Completed", now - datetime.timedelta(days=29)),
            (3, "Failed", now - datetime.timedelta(days=365)),
            (4, "Completed", now - datetime.timedelta(days=30)),  # boundary: kept (strict <)
        ],
        "source_doc_id long, status string, completed_at timestamp",
    )
    kept = retention_sweep(jobs, now_col=F.lit(now).cast("timestamp"), days=30)
    assert sorted(r["source_doc_id"] for r in kept.collect()) == [2, 3, 4]


def test_cascade_delete(spark):
    files = _files(spark)
    jobs = _jobs(spark)
    kept_f, kept_j = cascade_delete(1, files, jobs)
    assert kept_f.filter(F.col("doc_id") == 1).count() == 0
    assert kept_j.filter(F.col("source_doc_id") == 1).count() == 0
    assert kept_f.count() == 9 and kept_j.count() == 3


def test_run_pipeline_batch_full_dag(spark):
    files, jobs = _files(spark), _jobs(spark)
    chunks, done = run_pipeline_batch(files, jobs, chunk_size=100, chunk_overlap=20)
    c = chunks.collect()
    # only Queued/Failed jobs processed (B8 guard): docs 1,2,3
    assert sorted({r["doc_id"] for r in c}) == [1, 2, 3]
    assert all(len(r["embedding"]) == 64 for r in c)
    d = {r["source_doc_id"]: r for r in done.collect()}
    assert sorted(d) == [1, 2, 3]
    assert all(r["status"] == "Completed" and r["n_chunks"] > 0 for r in d.values())


# -- chunk -> embed as one Python pass ---------------------------------------

INGEST_BATCH = 5  # maxRecordsPerBatch for the fused-pass tests


def _words(k: int, n: int) -> str:
    return " ".join(f"w{k}x{j}" for j in range(n))


@pytest.fixture(scope="module")
def ingest_docs(spark):
    """Two partitions of 13 docs each — several Arrow batches apiece at
    INGEST_BATCH — mixing None, empty and blank text, headed sections (for
    semantic/hybrid), plain paragraphs and one long doc whose chunks span
    several flushes."""
    rows = []
    for i in range(25):
        if i % 8 == 3:
            text = None
        elif i % 8 == 5:
            text = "   \n\n  "
        elif i % 8 == 6:
            text = ""
        elif i % 4 == 0:
            text = (f"# Title {i}\n\n{_words(i, 30)}\n\n## Part\n\n{_words(i + 100, 45)}"
                    f"\n\nNOTES SECTION\n{_words(i + 200, 8)}")
        else:
            text = "\n\n".join(_words(10 * i + k, 6 + 5 * k) for k in range(1 + i % 5))
        rows.append((i, text))
    rows.append((99, "\n".join(_words(99 + k, 25) for k in range(14))))
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2), "doc_id long, text string"
    )


@contextmanager
def _arrow_batch(spark, n: int):
    old = spark.conf.get(ARROW_BATCH_CONF)
    spark.conf.set(ARROW_BATCH_CONF, str(n))
    try:
        yield
    finally:
        spark.conf.set(ARROW_BATCH_CONF, old)


def _final_plan(df) -> str:
    """The executed plan after an action (AQE's final plan only)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


@pytest.mark.parametrize("strategy", ["recursive", "semantic", "hybrid"])
def test_fused_chunk_embed_matches_two_operators(spark, ingest_docs, strategy):
    """chunk_embed_documents == chunk_documents -> embed_documents row for
    row: same columns in the same order, same rows in the same order."""
    kw = dict(strategy=strategy, chunk_size=120, chunk_overlap=20)
    with _arrow_batch(spark, INGEST_BATCH):
        fused = chunk_embed_documents(ingest_docs, **kw)
        two = embed_documents(chunk_documents(ingest_docs, **kw), text_col="chunk_text")
        assert fused.schema == two.schema
        got, want = fused.collect(), two.collect()
    assert len(want) > 4 * INGEST_BATCH
    assert got == want


def test_fused_pass_caps_every_embed_call(spark, ingest_docs):
    """A provider recording each call's size (as the embedding itself) never
    sees more than maxRecordsPerBatch texts, also while a long doc's chunks
    straddle flushes; every chunk is embedded exactly once."""

    class CallSizeEmbedder:
        def embed(self, texts):
            return [[float(len(texts))] for _ in texts]

    with _arrow_batch(spark, INGEST_BATCH):
        out = chunk_embed_documents(
            ingest_docs, chunk_size=120, chunk_overlap=20, provider=CallSizeEmbedder()
        ).collect()
    sizes = [r["embedding"][0] for r in out]
    assert len(out) == len(chunk_documents(ingest_docs, chunk_size=120, chunk_overlap=20).collect())
    assert max(sizes) == INGEST_BATCH
    assert sum(1 for r in out if r["doc_id"] == 99) > INGEST_BATCH


def test_run_pipeline_batch_is_one_python_pass(spark, ingest_docs):
    """Chunk and embed run as ONE MapInPandas (no ArrowEvalPython), and the
    job rows come from the chunk_index == 0 rows without a shuffle, equal to
    a per-doc recount of the chunk output."""
    # the semi-join broadcasts the job list, so any hash exchange left in
    # the plan would be the job rows' own
    jobs = F.broadcast(ingest_docs.select(
        F.col("doc_id").alias("source_doc_id"), F.lit("Queued").alias("status")
    ))
    chunks, done = run_pipeline_batch(ingest_docs, jobs, chunk_size=120, chunk_overlap=20)
    recount = {
        r["doc_id"]: r["n"] for r in chunks.groupBy("doc_id").agg(F.count("*").alias("n")).collect()
    }
    rows = done.collect()
    assert {r["source_doc_id"]: r["n_chunks"] for r in rows} == recount
    assert done.columns == ["source_doc_id", "status", "n_chunks", "completed_at"]
    assert dict(done.dtypes)["n_chunks"] == "bigint"
    chunk_plan, done_plan = _final_plan(chunks), _final_plan(done)
    for plan in (chunk_plan, done_plan):
        assert plan.count("MapInPandas") == 1, plan
        assert "ArrowEvalPython" not in plan, plan
    assert "Exchange hashpartitioning" not in done_plan, done_plan


def test_pipeline_idempotent_rerun(spark):
    """Re-running the same batch produces identical chunk keys (I5: keyed by
    (doc_id, chunk_index) → MERGE upserts are no-ops)."""
    files, jobs = _files(spark), _jobs(spark)
    c1, _ = run_pipeline_batch(files, jobs, chunk_size=100, chunk_overlap=20)
    c2, _ = run_pipeline_batch(files, jobs, chunk_size=100, chunk_overlap=20)
    k1 = sorted((r["doc_id"], r["chunk_index"], r["chunk_text"]) for r in c1.collect())
    k2 = sorted((r["doc_id"], r["chunk_index"], r["chunk_text"]) for r in c2.collect())
    assert k1 == k2


def test_multimodal_plumbing(spark):
    from frappe_data_pipelines_spark.operators.multimodal import (
        decode_media_meta,
        documents_as_media,
        frame_sample,
    )

    files = _files(spark)
    media = documents_as_media(files)
    assert dict(media.dtypes)["content"] == "binary"
    meta = decode_media_meta(media)
    rows = meta.collect()
    assert len(rows) == 10
    for r in rows:
        assert r["n_bytes"] > 0 and r["width"] >= 320 and r["n_frames"] >= 1
        assert r["caption"].startswith("media:word")
    # real=True magic-sniffs; non-image payloads fall back to the
    # deterministic fake, so text-bytes media decodes identically
    real_rows = decode_media_meta(media, real=True).collect()
    assert sorted(map(tuple, real_rows)) == sorted(map(tuple, rows))
    # a genuine PNG payload takes the real stdlib decoder path
    import os as _os

    fx = _os.path.join(
        _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
        "frappe_data_pipelines_spark", "resources", "fixtures", "sample_ocr.png",
    )
    with open(fx, "rb") as f:
        png = bytearray(f.read())
    png_df = spark.createDataFrame(
        [(1, png, "image/png")], "doc_id long, content binary, mime string"
    )
    png_row = decode_media_meta(png_df, real=True).first()
    assert png_row["caption"].startswith("image/png ")
    assert png_row["width"] > 0 and png_row["height"] > 0
    fs = frame_sample(meta, every_n=2)
    assert fs.filter(F.col("frame_index") % 2 != 0).count() == 0


class TestSkew:
    def test_salted_agg_matches_plain(self, spark, sf_dir):
        from frappe_data_pipelines_spark.operators.skew import salted_aggregate

        ev = load_table(spark, sf_dir, "events")
        salted = salted_aggregate(ev, ["event_type"], sum_cols=["value"], buckets=16,
                                  salt_on=["event_id"])
        plain = ev.groupBy("event_type").agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        assert {tuple(r) for r in salted.collect()} == {tuple(r) for r in plain.collect()}

    def test_salted_join_matches_plain(self, spark, sf_dir):
        from frappe_data_pipelines_spark.operators.skew import salted_join

        ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "user_id")
        dim = ev.select("event_type").distinct().withColumn(
            "type_code", F.length("event_type").cast("int")
        )
        out = salted_join(ev, dim, on="event_type", buckets=4)
        plain = ev.join(dim, "event_type")
        assert out.count() == plain.count()
        assert {tuple(r) for r in out.select("event_id", "type_code").collect()} == {
            tuple(r) for r in plain.select("event_id", "type_code").collect()
        }


class TestAsofJoin:
    def test_asof_backward_matches_naive(self, spark, sf_dir):
        from frappe_data_pipelines_spark.operators.joins import asof_backward

        ev = load_table(spark, sf_dir, "events")
        p = ev.filter(F.col("event_type") == "purchase").select(
            "event_id", "user_id", F.col("ts").alias("pts")
        )
        c = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
        fast = (
            asof_backward(p, c, ["user_id"], left_ts="pts", value_col="ts", out_col="last_click")
            .filter(F.col("last_click").isNotNull())
        )
        naive = (
            p.join(c.withColumnRenamed("user_id", "cu"),
                   (F.col("cu") == p.user_id) & (F.col("ts") <= F.col("pts")))
            .groupBy("event_id").agg(F.max("ts").alias("last_click"))
        )
        a = {(r["event_id"], r["last_click"]) for r in fast.collect()}
        b = {(r["event_id"], r["last_click"]) for r in naive.collect()}
        assert a == b and a

    def test_asof_strict_exclusive(self, spark):
        from frappe_data_pipelines_spark.operators.joins import asof_backward

        left = spark.createDataFrame([(1, 10)], "k INT, t INT")
        right = spark.createDataFrame([(1, 10), (1, 5)], "k INT, t INT")
        inc = asof_backward(left, right, ["k"], left_ts="t", right_ts="t",
                            value_col="t", out_col="m").first()["m"]
        exc = asof_backward(left, right, ["k"], left_ts="t", right_ts="t",
                            value_col="t", out_col="m", inclusive=False).first()["m"]
        assert inc == 10 and exc == 5


class TestSkewSpread:
    def test_salt_spreads_hot_key_across_reducers(self, spark):
        """Zipf-style input: one key holds 90% of rows. The salted partial
        stage must see the hot key under MANY distinct salts (spreading it
        over reducers) while results stay exact."""
        from frappe_data_pipelines_spark.operators.skew import salted_aggregate

        rows = [(i, "hot" if i % 10 != 0 else f"cold{i % 7}", float(i % 100))
                for i in range(20000)]
        df = spark.createDataFrame(rows, "event_id long, event_type string, value double")

        salts = (
            df.select(
                "event_type",
                F.pmod(F.xxhash64("event_id"), F.lit(32)).alias("_salt"),
            )
            .filter(F.col("event_type") == "hot")
            .select("_salt").distinct().count()
        )
        assert salts >= 16  # hot key spread over at least half the buckets

        out = {r["event_type"]: (r["n"], r["sum_value"]) for r in
               salted_aggregate(df, ["event_type"], sum_cols=["value"],
                                buckets=32, salt_on=["event_id"]).collect()}
        import collections
        exact_n = collections.Counter(t for _, t, _ in rows)
        exact_sum = collections.defaultdict(float)
        for _, t, v in rows:
            exact_sum[t] += v
        for t, (n, s) in out.items():
            assert n == exact_n[t]
            assert abs(s - exact_sum[t]) < 1e-6


def test_quality_observation_piggybacks_on_action(spark, sf_dir):
    """Observation metrics arrive from the SAME job that writes/collects —
    no second scan of the chunk stream."""
    from frappe_data_pipelines_spark.operators.chunker import chunk_documents
    from frappe_data_pipelines_spark.operators.pipeline import with_quality_observation

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    chunks = chunk_documents(docs, strategy="recursive", chunk_size=200, chunk_overlap=40)
    observed, obs = with_quality_observation(chunks)
    n = observed.count()  # the one action
    m = obs.get
    assert m["n_chunks"] == n
    assert m["n_empty"] == 0
    assert 0 < m["avg_chars"] <= m["max_chars"] <= 200


class TestAudioKernel:
    """REAL WAV plumbing: stdlib wave parse + numpy features."""

    def test_synth_wav_is_a_real_riff_container(self):
        import io
        import wave

        from frappe_data_pipelines_spark.operators.multimodal import synth_wav

        data = synth_wav(13)
        assert data[:4] == b"RIFF" and data[8:12] == b"WAVE"
        with wave.open(io.BytesIO(data), "rb") as w:
            assert w.getframerate() == 8000
            assert w.getnchannels() == 1
            assert w.getsampwidth() == 1
            assert w.getnframes() == 400 + (13 % 5) * 100

    def test_features_match_hand_computation(self, spark):
        import math

        from frappe_data_pipelines_spark.operators.multimodal import (
            audio_features,
            documents_as_wav,
        )

        docs = spark.createDataFrame([(3,), (11,)], "doc_id long")
        rows = {r.doc_id: r for r in audio_features(documents_as_wav(docs)).collect()}
        for d in (3, 11):
            step = d % 7 + 1
            n = 400 + (d % 5) * 100
            c = [((i * step) % 256) - 128 for i in range(n)]
            r = rows[d]
            assert (r.sample_rate, r.n_channels, r.n_samples) == (8000, 1, n)
            assert r.duration_ms == n * 1000 // 8000
            assert r.peak == max(abs(v) for v in c)
            assert r.rms == round(math.sqrt(sum(v * v for v in c) / n), 6)
            assert r.zero_crossings == sum(
                1 for a, b in zip(c, c[1:]) if a * b < 0
            )

    def test_16bit_stereo_and_malformed_dead_letter(self, spark):
        """16-bit signed PCM parses (channel 0 of a stereo file), malformed
        bytes dead-letter into audio_error instead of failing the task."""
        import io
        import struct
        import wave

        from frappe_data_pipelines_spark.operators.multimodal import audio_features

        buf = io.BytesIO()
        left = [1000, -1000, 1000, -1000, 0, 500]
        right = [7, 7, 7, 7, 7, 7]
        with wave.open(buf, "wb") as w:
            w.setnchannels(2)
            w.setsampwidth(2)
            w.setframerate(16000)
            frames = b"".join(
                struct.pack("<hh", a, b) for a, b in zip(left, right)
            )
            w.writeframes(frames)
        df = spark.createDataFrame(
            [(1, bytearray(buf.getvalue())), (2, bytearray(b"not a wav at all"))],
            "doc_id long, content binary",
        )
        rows = {r.doc_id: r for r in audio_features(df).collect()}
        good = rows[1]
        assert (good.sample_rate, good.n_channels, good.n_samples) == (16000, 2, 6)
        assert good.peak == 1000
        assert good.zero_crossings == 3  # sign flips in channel 0 only
        assert good.audio_error is None
        bad = rows[2]
        assert bad.audio_error is not None
        assert bad.n_samples is None
