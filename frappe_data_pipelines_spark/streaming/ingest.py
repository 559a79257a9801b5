"""Structured Streaming ingest — the reference's event-driven pipeline
(SURVEY §2.I I1–I6) restated as a file-source stream + foreachBatch.

Reference behavior preserved:
  * I1 row-level trigger: ``after_insert`` hook → here a files-source stream;
    each new parquet file under the input dir is a micro-batch
    (hooks.py:28-33, drive_file_handler.py:63-88)
  * I2 job state machine: per-batch job rows written alongside outputs —
    Queued rows appear first, then flip to Completed/Failed in the same
    micro-batch transaction (embedding_job.json:66)
  * I3 failure capture: per-row errors land in a dead-letter column instead
    of failing the batch (process_embedding.py:69-81)
  * I5 idempotence: outputs are keyed by (doc_id, chunk_index); re-delivery
    overwrites the same keys (Qdrant upsert semantics,
    qdrant_service.py:109-113)
  * I6 progress telemetry: per-batch counts appended to a metrics table

The default chunk sink is parquet-append; ``exactly_once=True`` routes it
through ``sources/merge.py`` — a log-backed MERGE keyed on
(doc_id, chunk_index) with optional (app_id, batch_id) txn replay dedup,
dispatching to a real Delta ``MERGE`` when that runtime is present.

Sink layout (round 10): every micro-batch lands its chunk rows, job-state
rows, AND metrics row in ONE partitioned parquet write —
``<output>/records/sink={chunks,jobs,metrics}`` — because at trickle batch
sizes the three separate sink actions were pure per-trigger fixed overhead
(VERDICT r9 task 1: ~0.3 s/job local floor). ``read_ingest_sink`` is the
reader. The exactly-once tier keeps its MergeTable at ``<output>/chunks``
(a MERGE cannot ride a blind append) and unions only jobs+metrics.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from frappe_data_pipelines_spark.operators.chunker import chunk_embed_documents
from frappe_data_pipelines_spark.session import local_frame

DOC_SCHEMA = "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"

# columns owned by each non-chunk logical sink inside the unified write;
# chunk rows own everything else
_JOBS_COLS = ["source_doc_id", "status", "batch_id", "created_at", "error_message"]
_METRICS_COLS = ["batch_id", "n_docs"]
_METRICS_SCHEMA = T.StructType(
    [T.StructField("batch_id", T.LongType()), T.StructField("n_docs", T.LongType())]
)

# distributed-door batches between driver-GC nudges (localCheckpoint block
# release rides driver GC + ContextCleaner — see the slow-path comment)
_CHECKPOINT_GC_EVERY = 32


def read_ingest_sink(spark: SparkSession, output_dir: str, which: str) -> DataFrame:
    """Read one logical sink (``chunks`` | ``jobs`` | ``metrics``) of an
    ingest stream's output dir. The unified single-action layout puts all
    three under ``records/sink=<name>``; the legacy per-sink directory is
    read when the unified one is absent (pre-round-10 outputs). Exactly-
    once chunk outputs are a MergeTable at ``<output>/chunks`` — read
    those through ``sources.merge.MergeTable`` as before."""
    if which not in ("chunks", "jobs", "metrics"):
        raise ValueError(f"unknown ingest sink {which!r}")
    unified = os.path.join(output_dir, "records", f"sink={which}")
    if os.path.isdir(unified):
        df = spark.read.parquet(unified)
        if which == "jobs":
            return df.select(*_JOBS_COLS)
        if which == "metrics":
            return df.select(*_METRICS_COLS)
        drop = [c for c in set(_JOBS_COLS + _METRICS_COLS) - {"batch_id"}
                if c in df.columns]
        return df.drop(*drop)
    legacy = os.path.join(output_dir, which)
    if which == "chunks" and (
        os.path.isdir(os.path.join(legacy, "_log"))
        or os.path.isdir(os.path.join(legacy, "_delta_log"))
    ):
        # _log = local MergeTable layout; _delta_log = the same sink when a
        # real Delta runtime is present (sources.merge.HAS_DELTA) — both are
        # versioned stores whose raw files include superseded row versions
        # (ADVICE r10: the Delta layout used to fall through to raw parquet)
        raise ValueError(
            "this stream's chunk sink is an exactly-once MergeTable/Delta "
            "table — read it with sources.merge.MergeTable(path).read(spark)"
            ", not as raw parquet (raw files include superseded row versions)"
        )
    return spark.read.parquet(legacy)


def start_ingest_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    chunk_size: int = 200,
    chunk_overlap: int = 40,
    embed_provider=None,
    max_files_per_trigger: int = 4,
    exactly_once: bool = False,
    available_now: bool = True,
    txn_app_id: str | None = None,
    optimize_every: int | None = 8,
    source_stream: DataFrame | None = None,
    scrub_against: DataFrame | None = None,
    scrub_min_len: int = 40,
    blocklist_terms: DataFrame | None = None,
    blocklist_max_hits: int = 0,
    quality_lm_path: str | None = None,
    quality_min_score: float | None = None,
    local_door_max_rows: int = 1024,
    local_door_max_chars: int = 4_000_000,
):
    """Stream parquet document files → chunk → embed → append chunks +
    job-state rows + metrics. Returns the StreamingQuery.

    ``source_stream`` swaps the file source for ANY streaming DataFrame in
    DOC_SCHEMA shape (e.g. a Kafka topic through
    ``streaming/sources.parse_document_messages``) — the micro-batch body,
    sinks, and exactly-once contract are source-agnostic.

    ``scrub_against``: a static corpus DataFrame (doc_id, text) enabling
    exact-substring dedup AT THE DOOR — every micro-batch doc has regions
    already present verbatim in the corpus (>= ``scrub_min_len`` chars)
    cut before chunking (``operators/dedup.incremental_substring_scrub``:
    the corpus pays a cached fingerprint scan per batch, never the
    stride-1 blowup, and since round 9 BOTH sides expand only the <= w
    candidate windows around matched fingerprints). Docs scrubbed to
    empty dead-letter as Failed jobs like any other empty text.

    ``blocklist_terms``: (term_id, term) enabling the C4 banned-words rule
    AT THE DOOR (``operators/blocklist.py``): docs whose post-scrub text
    contains more than ``blocklist_max_hits`` blocklist occurrences are
    dead-lettered as Failed jobs (error names the hit count) instead of
    being chunked — the drop is recorded, never silent. One Aho-Corasick
    pass per micro-batch, however long the list.

    ``quality_lm_path`` (+ required ``quality_min_score``): the CCNet
    quality gate AT THE DOOR — every micro-batch doc is scored against
    the PERSISTED Kneser-Ney bigram LM at that path
    (``operators/selection.py:kn_load`` once at stream start,
    ``kn_score_against`` per batch: the batch pays only its own bigram
    aggregate + three dictionary joins against stream-lifetime-persisted
    dictionaries), and docs with ``kn_score < quality_min_score`` are
    dead-lettered as Failed jobs (error names the score) instead of
    being chunked. Applied to the text as it will be stored
    (post-scrub). Docs the LM cannot assess (< 2 tokens, null ids) pass
    through to the other guards rather than failing blind. Because the
    score is a dictionary JOIN (not a row-local kernel), enabling this
    door routes every batch through the distributed path — the trickle
    fast path's job budget has no room for a join stage. Below the
    ``FDP_KN_BROADCAST_MAX_BYTES`` gate the dictionaries are broadcast,
    and since each micro-batch plans its own query, every batch
    broadcasts them again: a streaming consumer pays that per batch.

    ``local_door_max_rows`` / ``local_door_max_chars``: micro-batches at
    or under BOTH bounds take the TRICKLE FAST PATH — the batch is
    collected once (it is driver-sized by definition), the scrub probes
    the standing corpus with a single distributed scan
    (``dedup.incremental_scrub_local``), the blocklist runs on the driver
    (same Aho-Corasick automaton, memoized), and chunk+embed+all sinks
    ride ONE unioned write. Per-trigger Spark-job count drops from ~8-10
    (4 broadcast builds + checkpoint + 3 sink writes) to 3 (limit-collect,
    corpus probe, unified write) — the r9 profile showed trickle latency
    is job-count, not data work. Batches over either bound fall back to
    the fully distributed door (identical semantics, differential-tested).
    Set ``local_door_max_rows=0`` to force the distributed path.

    Scale notes: maxFilesPerTrigger bounds micro-batch size; the per-batch
    plan is the same shuffle-free chunk+embed DAG as the batch engine, so
    throughput scales with executors; checkpointing makes restarts resume
    from the last committed batch (at-least-once into an idempotent sink).
    """
    if source_stream is not None:
        stream = source_stream
    else:
        stream = (
            spark.readStream.schema(DOC_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(input_dir)
        )

    chunks_dir = os.path.join(output_dir, "chunks")
    records_dir = os.path.join(output_dir, "records")

    scrub_corpus_fp = None
    scrub_corpus_doc_fp = None
    if scrub_against is not None:
        from frappe_data_pipelines_spark.operators.dedup import (
            corpus_doc_fingerprints,
            corpus_winnow_fingerprints,
        )

        # fingerprint the STATIC corpus once for the stream's lifetime —
        # without this every micro-batch re-scans (and re-shuffles) the
        # whole corpus just to rebuild identical fingerprints
        scrub_corpus_fp = corpus_winnow_fingerprints(
            scrub_against, min_len=scrub_min_len
        ).persist()
        # the trickle fast path probes a PER-DOC grouping of the same
        # fingerprints (one map-only scan per micro-batch, zero joins);
        # persisted beside the flat table the distributed fallback uses
        scrub_corpus_doc_fp = corpus_doc_fingerprints(
            scrub_against, min_len=scrub_min_len, corpus_fp=scrub_corpus_fp
        ).persist()

    # door prep that is FIXED across micro-batches runs once, at stream
    # start: the blocklist terms collect was one Spark action per batch of
    # pure overhead (round-9 door-latency profile: ~0.5 s/batch), and the
    # worker-side automaton memo in blocklist.py makes batch 2+ skip the
    # trie build too (python workers are reused across batches)
    bl_term_list = None
    if blocklist_terms is not None:
        from frappe_data_pipelines_spark.operators.blocklist import (
            collect_blocklist_terms,
        )

        bl_term_list = collect_blocklist_terms(blocklist_terms)

    # quality-LM door prep, once at stream start: load the persisted
    # dictionaries (loud FileNotFoundError on a missing LM beats a
    # per-batch stream crash) and persist them for the stream's lifetime
    # — without this every micro-batch re-scans the dictionary parquet
    quality_lm = None
    if quality_lm_path is not None:
        if quality_min_score is None:
            raise ValueError(
                "quality_lm_path requires quality_min_score — the door "
                "needs a threshold to dead-letter on"
            )
        from frappe_data_pipelines_spark.operators.selection import kn_load

        q_bi, q_ctx, q_cont, q_meta = kn_load(spark, quality_lm_path)
        quality_lm = (q_bi.persist(), q_ctx.persist(), q_cont.persist(), q_meta)

    # FDP_INGEST_PROFILE=1 prints per-action wall times to stderr — the
    # round-9 door-latency work showed per-batch cost is invisible without
    # action-level marks (component microbenchmarks summed to half the
    # observed latency)
    profile = os.environ.get("FDP_INGEST_PROFILE") == "1"

    jobs_schema = None  # built lazily from the stream's doc_id type
    ckpt_counter = [0]  # distributed-door batches since stream start

    def _write_unified(spark_sess, parts: list[tuple[str, DataFrame]]) -> None:
        """ONE append of all per-batch outputs, partitioned by logical
        sink — the whole point of the unified layout: chunk rows, job
        rows and the metrics row cost a single Spark action per trigger
        instead of three."""
        unioned = None
        for sink_name, df in parts:
            tagged = df.withColumn("sink", F.lit(sink_name))
            unioned = (
                tagged if unioned is None
                else unioned.unionByName(tagged, allowMissingColumns=True)
            )
        unioned.write.partitionBy("sink").mode("append").parquet(records_dir)

    def _jobs_df(spark_sess, rows: list[tuple]) -> DataFrame:
        nonlocal jobs_schema
        if jobs_schema is None:
            jobs_schema = T.StructType([
                T.StructField("source_doc_id", stream.schema["doc_id"].dataType),
                T.StructField("status", T.StringType()),
                T.StructField("batch_id", T.LongType()),
                T.StructField("created_at", T.TimestampType()),
                T.StructField("error_message", T.StringType()),
            ])
        # a local relation: the write converts the rows in the JVM, with no
        # Python task; one partition keeps one job-row file per batch
        return local_frame(spark_sess, rows, jobs_schema).coalesce(1)

    def _chunk_sink_parts(
        spark_sess, embedded: DataFrame, batch_id: int
    ) -> list[tuple[str, DataFrame]]:
        """Exactly-once mode MERGEs the chunk rows into their own table
        (and returns no unified-write part for them); plain mode hands
        them to the unified write."""
        if not exactly_once:
            return [("chunks", embedded)]
        from frappe_data_pipelines_spark.sources.merge import merge_into

        # on_duplicate="any": the same doc re-delivered twice within ONE
        # micro-batch (two input files carrying it) produces the same
        # (doc_id, chunk_index) keys; last-writer-wins is the sink
        # contract, not a merge error
        embedded = embedded.persist()
        merge_into(
            spark_sess, embedded, chunks_dir,
            ["doc_id", "chunk_index"],
            app_id=txn_app_id, batch_id=batch_id,
            on_duplicate="any",
        )
        embedded.unpersist()
        # self-compacting sink: periodic OPTIMIZE keeps the per-bucket
        # part-file count flat instead of growing with batch count —
        # without it a week of micro-batches turns every downstream
        # scan into thousands of footer reads
        if optimize_every and batch_id % optimize_every == optimize_every - 1:
            from frappe_data_pipelines_spark.sources.merge import (
                HAS_DELTA,
                MergeTable,
            )

            if not HAS_DELTA:
                t = MergeTable(chunks_dir)
                t.optimize()
                t.vacuum()
        return []

    def process_local_batch(rows: list, batch_id: int, mark) -> None:
        """TRICKLE FAST PATH: the whole micro-batch is driver-resident.
        Scrub = one distributed corpus probe; blocklist = the driver's own
        automaton; job/metrics rows = local relations; everything lands in
        the single unified write. Differential-tested row-identical
        against the distributed path (tests/test_streaming.py)."""
        import datetime as _dt

        spark_sess = spark
        rdicts = [r.asDict() for r in rows]
        if scrub_against is not None:
            # mirror the distributed door: one row per non-null doc id
            # into the scrub (MERGE-sink last-writer contract applied at
            # the door); null-id rows pass through untouched
            seen_ids: set = set()
            kept = []
            for rd in rdicts:
                d = rd["doc_id"]
                if d is not None:
                    if d in seen_ids:
                        continue
                    seen_ids.add(d)
                kept.append(rd)
            rdicts = kept
            from frappe_data_pipelines_spark.operators.dedup import (
                incremental_scrub_local,
            )

            with_id = [rd for rd in rdicts if rd["doc_id"] is not None]
            res = incremental_scrub_local(
                spark_sess, scrub_corpus_doc_fp,
                [rd["doc_id"] for rd in with_id],
                [rd["text"] or "" for rd in with_id],
                min_len=scrub_min_len,
            )
            for rd, (_ns, _rm, cleaned) in zip(with_id, res):
                rd["text"] = cleaned
                rd["n_chars"] = len(cleaned)
            mark("local scrub")
        if bl_term_list is not None:
            from frappe_data_pipelines_spark.operators.blocklist import (
                _cached_automaton,
                _scan,
            )

            aut = _cached_automaton(tuple(bl_term_list))
            for rd in rdicts:
                # terms are lowercased by collect_blocklist_terms; fold the
                # text the same way the distributed kernel does
                hits = sum(1 for _ in _scan((rd["text"] or "").lower(), *aut))
                rd["__bl"] = hits if hits > blocklist_max_hits else None
        else:
            for rd in rdicts:
                rd["__bl"] = None
        mark("local blocklist")

        # F.trim strips 0x20 only — mirror it exactly, not str.strip()
        def is_bad(rd) -> bool:
            return rd["__bl"] is not None or not (rd["text"] or "").strip(" ")

        # an aware instant: the same created_at as the distributed path's
        # F.current_timestamp() whatever the session and system time zones
        now = _dt.datetime.now(_dt.timezone.utc)
        queued = [(rd["doc_id"], "Queued", batch_id, now, None) for rd in rdicts]
        failed = [
            (
                rd["doc_id"], "Failed", batch_id, now,
                f"blocklist ({rd['__bl']} hits)"
                if rd["__bl"] is not None else "empty or null text",
            )
            for rd in rdicts if is_bad(rd)
        ]
        good = [rd for rd in rdicts if not is_bad(rd)]
        # Completed per distinct good doc id (nulls collapse to one row —
        # the distributed path's groupBy(doc_id) semantics); sound because
        # the recursive chunker emits >= 1 chunk for any non-empty text
        # (guaranteed + property-tested in tests/test_chunker.py)
        done_ids: list = []
        seen_done: set = set()
        saw_null = False
        for rd in good:
            d = rd["doc_id"]
            if d is None:
                saw_null = True
            elif d not in seen_done:
                seen_done.add(d)
                done_ids.append(d)
        if saw_null:
            done_ids.append(None)
        done = [(d, "Completed", batch_id, now, None) for d in done_ids]

        src_cols = [f.name for f in stream.schema.fields]
        # chunk+embed is real CPU — keep it on every core, but slice via
        # explicit numSlices (a coalesce over default parallelize slices
        # makes tasks pay SEQUENTIAL python-stage round trips per parent;
        # see _jobs_df), capped at the doc count so a 3-doc batch doesn't
        # schedule 32 near-empty kernel tasks
        par = spark_sess.sparkContext.defaultParallelism
        npart = max(1, min(par, len(good)))
        good_df = spark_sess.createDataFrame(
            spark_sess.sparkContext.parallelize(
                [tuple(rd[c] for c in src_cols) for rd in good], npart
            ),
            stream.schema,
        )
        embedded = chunk_embed_documents(
            good_df, strategy="recursive",
            chunk_size=chunk_size, chunk_overlap=chunk_overlap,
            provider=embed_provider,
        ).withColumn("batch_id", F.lit(batch_id))
        parts = _chunk_sink_parts(spark_sess, embedded, batch_id)
        mark("chunk sink (exactly-once)" if exactly_once else "chunk plan built")
        parts.append(("jobs", _jobs_df(spark_sess, queued + done + failed)))
        parts.append((
            "metrics",
            local_frame(spark_sess, [(batch_id, len(rdicts))], _METRICS_SCHEMA),
        ))
        _write_unified(spark_sess, parts)
        mark("unified write")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        import sys
        import time as _time

        t_batch = _time.monotonic()
        marks: list[tuple[str, float]] = []

        def mark(tag: str) -> None:
            if profile:
                marks.append((tag, _time.monotonic() - t_batch))

        # trickle fast path: a batch at or under both local-door bounds is
        # driver-sized — collect it once and skip the distributed door's
        # per-trigger fixed costs entirely. The quality-LM door is a
        # dictionary join, so it disables the fast path (docstring).
        if local_door_max_rows and quality_lm is None:
            head = batch_df.limit(local_door_max_rows + 1).collect()
            mark("limit-collect")
            if (
                len(head) <= local_door_max_rows
                and sum(len(r["text"] or "") for r in head) <= local_door_max_chars
            ):
                process_local_batch(head, batch_id, mark)
                if profile:
                    print(
                        f"[ingest-profile] batch {batch_id} (local): "
                        + ", ".join(f"{tag}={t:.2f}s" for tag, t in marks),
                        file=sys.stderr,
                        flush=True,
                    )
                return

        # persist the RAW batch before the doors: the door plan needs the
        # batch several times (fingerprint broadcast build, window
        # broadcast, the main pass) and each pre-persist use re-read the
        # micro-batch files — one cached 200-doc scan instead
        raw = batch_df.persist()
        if scrub_against is not None:
            from frappe_data_pipelines_spark.operators.dedup import (
                incremental_substring_scrub,
            )

            # one row per doc id into the scrub: a doc delivered twice in
            # one micro-batch must not square through the join (the MERGE
            # sink's on_duplicate='any' last-writer contract, applied at
            # the door); null-id rows can't key a scrub — pass them
            # through untouched so they dead-letter or chunk exactly as
            # the unscrubbed path would
            with_id = raw.filter(F.col("doc_id").isNotNull()).dropDuplicates(
                ["doc_id"]
            )
            no_id = raw.filter(F.col("doc_id").isNull())
            # carry_cols returns the FULL row from the stitch (no keyed
            # join back against the batch). probe_empty_spans stays OFF:
            # the probe pays the whole span plan as a second job, and the
            # round-9 door profile measured it NONEMPTY for boilerplate-
            # heavy corpora (probe-on scrub 2.0-2.7s vs 0.8s without)
            carry = [
                c for c in with_id.columns if c not in ("doc_id", "text", "n_chars")
            ]
            cleaned = incremental_substring_scrub(
                scrub_against,
                with_id,
                min_len=scrub_min_len,
                corpus_fp=scrub_corpus_fp,
                carry_cols=carry,
            )
            batch_df = cleaned.select(
                "doc_id",
                F.col("cleaned_text").alias("text"),
                *carry,
                F.length("cleaned_text").cast("long").alias("n_chars"),
            ).unionByName(
                no_id.drop("n_chars").withColumn(
                    "n_chars", F.length("text").cast("long")
                )
            )
        else:
            batch_df = raw
        if bl_term_list is not None:
            from frappe_data_pipelines_spark.operators.blocklist import (
                blocklist_annotate_prepared,
            )

            # the rule applies to the text as it will be STORED (post-scrub),
            # and it is ROW-level — the annotate kernel appends the hit count
            # to every row in place (no keyed join back), so a null-id doc
            # with banned content is judged on its own text instead of
            # sliding past a join key, and a doc delivered twice in one
            # batch is judged per row (blocklist.py's own rationale for the
            # per-row primitives). Shuffle-free: one Aho-Corasick pass over
            # the stream-start term list.
            batch_df = blocklist_annotate_prepared(
                batch_df, bl_term_list, out_col="__bl_raw"
            ).withColumn(
                "__bl_hits",
                F.when(
                    F.col("__bl_raw") > blocklist_max_hits, F.col("__bl_raw")
                ),
            ).drop("__bl_raw")
        else:
            batch_df = batch_df.withColumn("__bl_hits", F.lit(None).cast("long"))
        if quality_lm is not None:
            from frappe_data_pipelines_spark.operators.selection import (
                kn_score_against,
            )

            # the gate applies to the text as it will be STORED
            # (post-scrub), like the blocklist. One score row per doc id
            # (the bigram aggregate is keyed on it), left-joined back:
            # null-id and sub-2-token docs get no score and pass through
            # to the other guards — the LM cannot assess them, and
            # failing blind would dead-letter every short-but-fine doc
            q_bi, q_ctx, q_cont, q_meta = quality_lm
            scores = kn_score_against(
                batch_df.filter(F.col("doc_id").isNotNull()).select(
                    "doc_id", "text"
                ),
                q_bi, q_ctx, q_cont, q_meta,
            )
            batch_df = batch_df.join(
                scores.select("doc_id", "kn_score"), "doc_id", "left"
            ).withColumn(
                "__q_score",
                F.when(
                    F.col("kn_score") < F.lit(float(quality_min_score)),
                    F.col("kn_score"),
                ),
            ).drop("kn_score")
        else:
            batch_df = batch_df.withColumn(
                "__q_score", F.lit(None).cast("double")
            )
        # every action below re-derives from the micro-batch source.
        # Doors ON → localCheckpoint, not persist: persist keeps the whole
        # door logical plan alive, and EVERY downstream action (chunk sink,
        # job rows, metrics) re-canonicalizes it for cache matching — the
        # round-9 profile showed the door batches paying ~2x on the jobs
        # sink for that alone. The eager checkpoint materializes the door
        # output once and hands downstream actions a LogicalRDD with an
        # O(1) plan (same move as suffix.py's per-round truncation); it
        # also satisfies the Observation. Blocks are freed by Spark's
        # ContextCleaner once the batch's DataFrame goes out of scope.
        # Fault story on a real cluster: localCheckpoint blocks die with
        # their executor and have no lineage to recompute — but the
        # recovery unit HERE is the micro-batch itself: a failed
        # foreachBatch fails the batch, and the stream replays it from
        # SOURCE offsets on restart (at-least-once into the idempotent /
        # MERGE sinks, the module's documented contract), so executor
        # loss costs a batch retry, not correctness.
        # Checkpoint-block release (ADVICE r9): there is no public
        # unpersist for a localCheckpoint — blocks free when the driver
        # GCs the DataFrame and the ContextCleaner notices. Under a
        # sustained high-rate DISTRIBUTED-door stream (this path only
        # runs for batches past the local-door bounds) slow driver GC can
        # let blocks pile up in executor storage, so every
        # _CHECKPOINT_GC_EVERY door batches we nudge the driver JVM's GC,
        # which is exactly the signal the ContextCleaner keys on.
        # Doors OFF → plain persist: the plan is already tiny and the
        # checkpoint's extra job boundary measurably ADDS latency there
        # (doors-off p50 1.3s -> 2.2s when checkpointing unconditionally).
        has_doors = (
            scrub_against is not None
            or bl_term_list is not None
            or quality_lm is not None
        )
        if has_doors:
            batch_df = batch_df.localCheckpoint(eager=True)
            ckpt_counter[0] += 1
            if ckpt_counter[0] % _CHECKPOINT_GC_EVERY == 0:
                batch_df.sparkSession.sparkContext._jvm.System.gc()
        else:
            batch_df.persist()
        mark("door (scrub+blocklist) materialized")
        # I2: job rows for this micro-batch start Queued. The Queued rows
        # are UNIONED with the terminal (Completed/Failed) rows into one
        # parquet append at the end of the batch — both states still land
        # in the job table with their own timestamps, but the sink does one
        # write action instead of two, which matters for trickle-latency
        # micro-batches where per-write fixed overhead dominates.
        queued = batch_df.select(
            F.col("doc_id").alias("source_doc_id"),
            F.lit("Queued").alias("status"),
            F.lit(batch_id).alias("batch_id"),
            F.current_timestamp().alias("created_at"),
            F.lit(None).cast("string").alias("error_message"),
        )

        # I3: guard the procedural stage per-row — unprocessable rows become
        # Failed job rows with a captured error (dead letters), never a
        # batch abort (process_embedding.py:69-81)
        blocked = F.col("__bl_hits").isNotNull()
        qfailed = F.col("__q_score").isNotNull()
        bad = (
            blocked
            | qfailed
            | (F.length(F.trim(F.coalesce(F.col("text"), F.lit("")))) == 0)
        )
        failed = batch_df.filter(bad).select(
            F.col("doc_id").alias("source_doc_id"),
            F.lit("Failed").alias("status"),
            F.lit(batch_id).alias("batch_id"),
            F.current_timestamp().alias("created_at"),
            F.when(
                blocked,
                F.concat(
                    F.lit("blocklist ("),
                    F.col("__bl_hits").cast("string"),
                    F.lit(" hits)"),
                ),
            )
            .when(
                qfailed,
                F.concat(
                    F.lit("quality (kn_score "),
                    F.round(F.col("__q_score"), 4).cast("string"),
                    F.lit(f" < {float(quality_min_score or 0)})"),
                ),
            )
            .otherwise(F.lit("empty or null text"))
            .alias("error_message"),
        )
        embedded = chunk_embed_documents(
            batch_df.filter(~bad).drop("__bl_hits", "__q_score"),
            strategy="recursive", chunk_size=chunk_size, chunk_overlap=chunk_overlap,
            provider=embed_provider,
        ).withColumn("batch_id", F.lit(batch_id))
        # I5 exactly-once (inside _chunk_sink_parts): the chunk sink is a
        # MERGE keyed on (doc_id, chunk_index) — re-delivered batches
        # overwrite their own keys instead of appending duplicates,
        # surviving even checkpoint loss. With txn_app_id set,
        # (app_id, batch_id) txn dedup additionally makes a replayed
        # micro-batch a full no-op (Delta txnAppId/txnVersion semantics) —
        # exactly-once holds even for nondeterministic batch content, at
        # the documented cost that batch ids must keep ascending across
        # restarts. Plain mode rides the unified write: embedded then has
        # exactly ONE consumer, so it needs no persist.
        parts = _chunk_sink_parts(batch_df.sparkSession, embedded, batch_id)
        mark("chunk sink (exactly-once)" if exactly_once else "chunk plan built")

        # I2 terminal states: Completed per distinct surviving doc id —
        # derived from the (checkpointed/persisted) door output, NOT from
        # the embedded rows, so the chunk+embed subtree is computed once
        # inside the unified write instead of twice (once for chunk rows,
        # once for a count). Sound because the recursive chunker emits
        # >= 1 chunk for any non-empty text (property-tested).
        done = (
            batch_df.filter(~bad)
            .select("doc_id").distinct()
            .select(
                F.col("doc_id").alias("source_doc_id"),
                F.lit("Completed").alias("status"),
                F.lit(batch_id).alias("batch_id"),
                F.current_timestamp().alias("created_at"),
                F.lit(None).cast("string").alias("error_message"),
            )
        )
        parts.append(("jobs", queued.unionByName(done).unionByName(failed)))
        # I6 telemetry: a single-row aggregate over the door output —
        # scans checkpointed blocks (doors on) or the persisted batch
        # (doors off) inside the same unified action
        parts.append((
            "metrics",
            batch_df.groupBy().agg(F.count(F.lit(1)).alias("n_docs")).select(
                F.lit(batch_id).cast("long").alias("batch_id"), "n_docs"
            ),
        ))
        _write_unified(batch_df.sparkSession, parts)
        mark("unified write")
        if not has_doors:
            batch_df.unpersist()
        raw.unpersist()
        if profile:
            print(
                f"[ingest-profile] batch {batch_id}: "
                + ", ".join(f"{tag}={t:.2f}s" for tag, t in marks),
                file=sys.stderr,
                flush=True,
            )

    writer = stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    # availableNow drains the backlog then stops (batch-style runs, the
    # bulk-ingest bench); available_now=False keeps the query live for
    # continuous arrival (the latency bench / production tail-ingest mode)
    if available_now:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    if scrub_corpus_fp is not None:
        # the fingerprint caches live as long as the stream; hand the
        # handles to the caller so an app running many streams can
        # unpersist them after q terminates instead of pinning dead
        # blocks in executor storage for the app's lifetime
        q.scrub_corpus_fp = scrub_corpus_fp
        q.scrub_corpus_doc_fp = scrub_corpus_doc_fp
    return q


def stop_streaming_query(
    q, idle_timeout: float | None = None, poll: float = 0.2
) -> None:
    """Stop a streaming query WITHOUT interrupting an in-flight micro-batch.

    ``StreamingQuery.stop()`` interrupts the stream execution thread; if a
    foreachBatch is mid-flight, Spark then classifies the resulting
    exception by running a regex over its MESSAGE
    (StreamExecution.isInterruptionException) — and an interrupted py4j
    foreachBatch error embeds the full Java cause chain, large enough that
    java.util.regex recursion overflows the stream thread's stack
    (StackOverflowError observed in tools/stream_bench.py, round 8). The
    query then dies messily instead of stopping cleanly.

    This helper waits for a SAFE WINDOW before stopping:

    - trigger idle (``isTriggerActive`` false) — no batch in flight; or
    - two consecutive polls with ``isDataAvailable`` false while the
      trigger loops — the no-data poll phase of an always-triggering
      source (availableNow draining an empty dir, short ProcessingTime),
      which previously burned the whole timeout without ever reading
      trigger-idle.

    It is check-then-act: a new trigger CAN start in the gap between the
    last poll and ``stop()`` — that residual race is what
    ``session.get_spark``'s ``-Xss32m`` backstop absorbs. When the RUNNING
    JVM lacks a deep stack (session pre-existed getOrCreate, so
    extraJavaOptions was silently ignored — see session.py), this warns
    and doubles the idle wait, since the backstop is absent and a mid-batch
    interrupt is the failure mode that kills the stream thread.
    ``idle_timeout=None`` → 60 s (120 s without the backstop). Falls back
    to a plain stop at the deadline — by then a wedged batch is the
    bigger problem."""
    import time as _time
    import warnings

    deep = True
    try:
        from pyspark.sql import SparkSession

        from frappe_data_pipelines_spark.session import jvm_has_deep_stack

        sess = SparkSession.getActiveSession()
        if sess is not None:
            deep = jvm_has_deep_stack(sess)
    except Exception:  # noqa: BLE001 — no live session to introspect
        pass
    if idle_timeout is None:
        idle_timeout = 60.0 if deep else 120.0
    elif not deep:
        idle_timeout *= 2
    if not deep:
        warnings.warn(
            "stop_streaming_query: driver JVM lacks the -Xss32m backstop "
            "(SparkSession pre-existed get_spark, extraJavaOptions ignored) "
            "— extending idle wait; a mid-batch interrupt here can "
            "StackOverflow the stream thread",
            RuntimeWarning,
            stacklevel=2,
        )
    deadline = _time.time() + idle_timeout
    no_data_polls = 0
    while _time.time() < deadline:
        try:
            st = q.status
            if not st.get("isTriggerActive", False):
                break
            if not st.get("isDataAvailable", True):
                no_data_polls += 1
                if no_data_polls >= 2:
                    break
            else:
                no_data_polls = 0
        except Exception:  # noqa: BLE001 — query already terminated
            break
        _time.sleep(poll)
    q.stop()
