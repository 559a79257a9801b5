"""The ingest pipeline as a job-table engine (SURVEY §2.I, §3.1/§3.3).

Re-expresses the reference's event-bus + RQ job queue as declarative
DataFrame plans over three tables:

  * ``files``  — input corpus (stand-in: the documents table)
  * ``jobs``   — job rows: (source_doc_id, status, retry_count, created_at,
                 completed_at, error_message) — the reference's Embedding Job
                 state machine (embedding_job.json:66 status enum)
  * ``chunks`` / ``vectors`` — pipeline outputs

Batch entry points mirror the reference's whitelisted/scheduled tasks:
  * ``backfill_jobs``      — A12: scan files, anti-join existing jobs, gate
                             filters, emit new Queued jobs
                             (data_pipeline_settings.py:142-220)
  * ``retry_eligible``     — B4/I3: Failed AND retry_count < 3
                             (process_embedding.py:518-544)
  * ``retention_sweep``    — B5/I4: drop Completed older than N days
                             (process_embedding.py:547-573)
  * ``cascade_delete``     — A15: remove all rows derived from a doc
                             (drive_file_handler.py:98-149)
  * ``run_pipeline_batch`` — J6: the full chunk→embed→store stage DAG for a
                             batch of Queued jobs, returning new chunk rows
                             and the jobs' terminal states. Chunk → embed is
                             ONE Arrow Python pass (``chunk_embed_documents``)
                             and the job rows need no shuffle

The streaming twin (micro-batch foreachBatch with per-stage status commits)
lives in ``streaming/ingest.py``. All functions are pure DataFrame → DataFrame
transforms — no driver-side loops — so they distribute unchanged at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from frappe_data_pipelines_spark.operators.chunker import chunk_embed_documents

ACTIVE_STATUSES = ["Queued", "Extracting Text", "Chunking", "Enriching Context",
                   "Embedding", "Storing Vectors", "Completed"]
MAX_RETRIES = 3
RETENTION_DAYS = 30


def backfill_jobs(
    files: DataFrame,
    jobs: DataFrame,
    enabled_langs: list[str] | None = None,
    max_chars: int | None = None,
) -> DataFrame:
    """A12 backfill: files without an active-or-done job, passing the type
    and size gates, become new Queued jobs.

    Plan shape: anti-join (AQE picks broadcast when the job list is small)
    with both gate filters pushed into the file scan."""
    cand = files
    if enabled_langs is not None:
        cand = cand.filter(F.col("lang").isin(enabled_langs))  # B1 type gate
    if max_chars is not None:
        cand = cand.filter(F.col("n_chars") <= max_chars)  # B3 size gate
    active = jobs.filter(F.col("status").isin(ACTIVE_STATUSES)).select(
        F.col("source_doc_id")
    )
    return (
        cand.join(active, cand.doc_id == active.source_doc_id, "left_anti")
        .select(
            F.col("doc_id").alias("source_doc_id"),
            F.lit("Queued").alias("status"),
            F.lit(0).alias("retry_count"),
        )
    )


def retry_eligible(jobs: DataFrame) -> DataFrame:
    """B4/I3 hourly retry sweep: Failed jobs under the retry cap get
    re-queued with retry_count+1."""
    return jobs.filter(
        (F.col("status") == "Failed") & (F.col("retry_count") < MAX_RETRIES)
    ).select(
        "source_doc_id",
        F.lit("Queued").alias("status"),
        (F.col("retry_count") + 1).alias("retry_count"),
    )


def retention_sweep(jobs: DataFrame, now_col=None, days: int = RETENTION_DAYS) -> DataFrame:
    """B5/I4 daily retention: jobs to KEEP (the delete is expressed as the
    complement so the op works on plain parquet via overwrite; on Delta it
    becomes a DELETE WHERE)."""
    now = now_col if now_col is not None else F.current_timestamp()
    expired = (F.col("status") == "Completed") & (
        F.col("completed_at") < now - F.expr(f"INTERVAL {days} DAYS")
    )
    return jobs.filter(~expired)


def cascade_delete(doc_id, *tables: DataFrame) -> list[DataFrame]:
    """A15 cascading delete: each dependent table filtered to drop every row
    derived from ``doc_id``. Returns the kept-rows complement per table
    (Delta: DELETE WHERE source_doc_id = x; parquet: overwrite)."""
    out = []
    for t in tables:
        key = "source_doc_id" if "source_doc_id" in t.columns else "doc_id"
        out.append(t.filter(F.col(key) != F.lit(doc_id)))
    return out


def run_pipeline_batch(
    files: DataFrame,
    jobs: DataFrame,
    chunk_size: int = 1000,
    chunk_overlap: int = 200,
    strategy: str = "recursive",
    embed_provider=None,
) -> tuple[DataFrame, DataFrame]:
    """J6 orchestrator (batch form): process every Queued/Failed-retryable
    job through chunk → embed; returns (chunk_rows, terminal_job_states).

    The whole batch is ONE DataFrame plan: eligible jobs broadcast-semi-join
    the file table, and chunking+embedding run as one shuffle-free Python
    pass per partition — the distributed restatement of the reference's
    per-job worker loop (process_embedding.py:84-239). Job completion states
    come from each doc's ``chunk_index == 0`` row, whose ``total_chunks`` is
    the doc's chunk count (the chunker emits a doc's chunks together), so
    they need no groupBy and no shuffle. Docs yielding no chunks (null or
    blank text) get no terminal row.

    Persist the chunk rows before acting on both outputs: the job rows read
    that same pass, and Spark cannot prune the embedding out of an opaque
    Python pass, so an uncached action on the job rows re-runs chunking AND
    the provider's ``embed`` on every chunk (remote calls, for an HTTP
    provider)::

        chunks, done = run_pipeline_batch(files, jobs)
        chunks.persist()        # done's plan then reads the cache too
        chunks.write.parquet(chunk_path)
        done.write.parquet(job_path)
        chunks.unpersist()
    """
    eligible = jobs.filter(F.col("status").isin("Queued", "Failed"))  # B8 guard
    todo = files.join(
        eligible.select("source_doc_id"),
        files.doc_id == F.col("source_doc_id"),
        "left_semi",
    )
    embedded = chunk_embed_documents(
        todo, strategy=strategy, chunk_size=chunk_size, chunk_overlap=chunk_overlap,
        provider=embed_provider,
    )
    done = embedded.filter(F.col("chunk_index") == 0).select(
        F.col("doc_id").alias("source_doc_id"),
        F.lit("Completed").alias("status"),
        F.col("total_chunks").cast("long").alias("n_chunks"),
        F.current_timestamp().alias("completed_at"),
    )
    return embedded, done


def with_quality_observation(chunks: DataFrame, name: str = "chunk_quality"):
    """I6 telemetry without a second pass: attach a Spark ``Observation`` to
    the chunk stream so row counts / char statistics are collected DURING
    whatever action materializes the plan (write, collect) — the
    StreamingQueryListener's batch twin. Returns (observed_df, observation);
    read ``observation.get`` after the action."""
    from pyspark.sql import Observation

    obs = Observation(name)
    observed = chunks.observe(
        obs,
        F.count(F.lit(1)).alias("n_chunks"),
        F.avg("character_count").alias("avg_chars"),
        F.max("character_count").alias("max_chars"),
        F.count(F.when(F.length(F.trim("chunk_text")) == 0, 1)).alias("n_empty"),
    )
    return observed, obs
