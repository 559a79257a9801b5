"""Pipeline / streaming / multimodal queries (SURVEY §2.A A12-A15, §2.I,
§2.J multimodal extensions).

The job table is synthesized deterministically from the documents table
(status/retry derived from doc_id arithmetic) so both the Spark plan and the
DuckDB oracle construct identical inputs — no hidden state."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from frappe_data_pipelines_spark.operators.multimodal import (
    decode_media_meta,
    documents_as_media,
    frame_sample,
)
from frappe_data_pipelines_spark.operators.pipeline import (
    backfill_jobs,
    retention_sweep,
    retry_eligible,
)
from frappe_data_pipelines_spark.plans.catalog import register
from frappe_data_pipelines_spark.sources.tables import load_table

# Deterministic synthetic job table: doc_id % 5 picks the status,
# doc_id % 4 the retry count. Mirrored exactly in the SQL oracles.
_STATUS_CASES = [
    (0, "Completed"),
    (1, "Failed"),
    (2, "Queued"),
    (3, "Embedding"),
]
_JOBS_SQL = """
    SELECT doc_id AS source_doc_id,
           CASE doc_id % 5 WHEN 0 THEN 'Completed' WHEN 1 THEN 'Failed'
                WHEN 2 THEN 'Queued' WHEN 3 THEN 'Embedding'
                ELSE 'Cancelled' END AS status,
           CAST(doc_id % 4 AS INT) AS retry_count
    FROM documents WHERE doc_id % 2 = 0
"""


def _jobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    status = F.when(F.col("doc_id") % 5 == 0, "Completed")
    for k, v in _STATUS_CASES[1:]:
        status = status.when(F.col("doc_id") % 5 == k, v)
    status = status.otherwise("Cancelled")
    return docs.filter(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").alias("source_doc_id"),
        status.alias("status"),
        (F.col("doc_id") % 4).cast("int").alias("retry_count"),
    )


@register(
    "a12_backfill_scan",
    oracle=f"""
    WITH jobs AS ({_JOBS_SQL})
    SELECT d.doc_id AS source_doc_id, 'Queued' AS status, 0 AS retry_count
    FROM documents d
    WHERE d.lang IN ('en', 'fr', 'es') AND d.n_chars <= 400
      AND d.doc_id NOT IN (
        SELECT source_doc_id FROM jobs
        WHERE status IN ('Queued', 'Extracting Text', 'Chunking',
                         'Enriching Context', 'Embedding', 'Storing Vectors',
                         'Completed'))
    """,
    tags=("A12", "C2"),
)
def a12_backfill_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12 backfill: files anti-joined against active jobs, gated by type +
    size filters (reference: data_pipeline_settings.py:142-220)."""
    docs = load_table(spark, sf_dir, "documents")
    out = backfill_jobs(docs, _jobs(spark, sf_dir), enabled_langs=["en", "fr", "es"], max_chars=400)
    return out.select("source_doc_id", "status", F.col("retry_count").cast("int").alias("retry_count"))


@register(
    "b4_retry_sweep",
    oracle=f"""
    WITH jobs AS ({_JOBS_SQL})
    SELECT source_doc_id, 'Queued' AS status,
           CAST(retry_count + 1 AS INT) AS retry_count
    FROM jobs WHERE status = 'Failed' AND retry_count < 3
    """,
    tags=("B4", "I3"),
)
def b4_retry_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B4/I3 hourly retry: Failed under the cap → requeued with
    retry_count+1 (reference: process_embedding.py:518-544)."""
    out = retry_eligible(_jobs(spark, sf_dir))
    return out.select("source_doc_id", "status", F.col("retry_count").cast("int").alias("retry_count"))


@register(
    "i4_retention_sweep",
    oracle="""
    WITH jobs AS (
      SELECT event_id, ts AS completed_at,
             CASE WHEN event_type IN ('purchase', 'signup') THEN 'Completed'
                  ELSE 'Failed' END AS status
      FROM events
    ), cutoff AS (SELECT max(completed_at) AS now_ts FROM jobs)
    SELECT status, CAST(count(*) AS BIGINT) AS n_kept
    FROM jobs, cutoff
    WHERE NOT (status = 'Completed'
               AND completed_at < now_ts - INTERVAL 7 DAY)
    GROUP BY status
    """,
    tags=("B5", "I4"),
)
def i4_retention_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I4 retention: keep-complement of 'Completed older than N days'
    (reference: process_embedding.py:547-573). Jobs synthesized from events
    (ts = completed_at)."""
    ev = load_table(spark, sf_dir, "events")
    jobs = ev.select(
        "event_id",
        F.col("ts").alias("completed_at"),
        F.when(F.col("event_type").isin("purchase", "signup"), "Completed")
        .otherwise("Failed")
        .alias("status"),
    )
    now = jobs.agg(F.max("completed_at").alias("now_ts"))
    kept = retention_sweep(
        jobs.crossJoin(F.broadcast(now)), now_col=F.col("now_ts"), days=7
    )
    return kept.groupBy("status").agg(F.count("*").cast("bigint").alias("n_kept"))


@register(
    "a15_cascade_delete",
    oracle="""
    SELECT 'documents' AS tbl, CAST(count(*) AS BIGINT) AS n_kept
    FROM documents WHERE doc_id <> 7
    UNION ALL
    SELECT 'embeddings' AS tbl, CAST(count(*) AS BIGINT) AS n_kept
    FROM embeddings WHERE vec_id <> 7
    """,
    tags=("A15",),
)
def a15_cascade_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A15 cascading delete for doc 7 across dependent tables, expressed as
    the kept-rows complement (Delta: DELETE WHERE; parquet: overwrite).
    Reference: drive_file_handler.py:98-149."""
    from frappe_data_pipelines_spark.operators.pipeline import cascade_delete

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings").withColumnRenamed("vec_id", "doc_id")
    kept_docs, kept_emb = cascade_delete(7, docs, emb)
    return (
        kept_docs.agg(F.count("*").cast("bigint").alias("n_kept")).select(F.lit("documents").alias("tbl"), "n_kept")
    ).unionByName(
        kept_emb.agg(F.count("*").cast("bigint").alias("n_kept")).select(F.lit("embeddings").alias("tbl"), "n_kept")
    )


# ---------------------------------------------------------------------------
# Windowed aggregation batch twins (streaming forms in streaming/windows.py)
# ---------------------------------------------------------------------------

@register(
    "tumbling_hourly_counts",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18, 2))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2, 3
    """,
    tags=("streaming", "extension"),
)
def tumbling_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time window (batch twin of
    streaming/windows.py:tumbling_counts — same F.window call, so the
    streaming plan is verified by this oracle)."""
    from frappe_data_pipelines_spark.streaming.windows import tumbling_counts

    ev = load_table(spark, sf_dir, "events")
    return tumbling_counts(ev, window_len="1 hour")


@register(
    "sliding_15m_counts",
    oracle="""
    SELECT time_bucket(INTERVAL 15 MINUTE, ts) - k.k * INTERVAL 15 MINUTE AS window_start,
           event_type, CAST(count(*) AS BIGINT) AS n
    FROM events CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k) k
    GROUP BY 1, 2
    """,
    tags=("streaming", "extension"),
)
def sliding_15m_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1 h / 15 min): each event lands in 4 overlapping
    windows. Oracle enumerates the same 4 buckets arithmetically."""
    from frappe_data_pipelines_spark.streaming.windows import sliding_rates

    ev = load_table(spark, sf_dir, "events")
    return sliding_rates(ev, window_len="1 hour", slide="15 minutes")


# ---------------------------------------------------------------------------
# Multimodal columns
# ---------------------------------------------------------------------------

_MEDIA_META_SQL = """
    SELECT doc_id,
           'application/octet-stream' AS mime,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(320 + (CAST(('0x' || substring(md5(text), 1, 2)) AS INT) % 8) * 160 AS INT) AS width,
           CAST(240 + (CAST(('0x' || substring(md5(text), 3, 2)) AS INT) % 8) * 120 AS INT) AS height,
           CAST(1 + (CAST(('0x' || substring(md5(text), 5, 2)) AS INT) % 4) AS INT) AS n_frames,
           'media:' || substring(text, 1, 24) AS caption
    FROM documents
"""


@register("multimodal_decode_meta", oracle=_MEDIA_META_SQL, tags=("multimodal", "extension", "A7", "J3"))
def multimodal_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode plumbing: binary payload → typed metadata via
    Arrow-batched mapInPandas (deterministic fake kernel; real decoder is a
    drop-in behind the same signature). The oracle mirrors the fake's
    md5-derived dims, proving the batch plumbing is lossless."""
    docs = load_table(spark, sf_dir, "documents")
    return decode_media_meta(documents_as_media(docs))


@register(
    "multimodal_frame_sample",
    oracle=f"""
    WITH meta AS ({_MEDIA_META_SQL})
    SELECT doc_id, CAST(f.f AS INT) AS frame_index
    FROM meta CROSS JOIN LATERAL (SELECT unnest(generate_series(0, n_frames - 1)) AS f) f
    WHERE f.f % 2 = 0
    """,
    tags=("multimodal", "extension"),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-shape frame sampling: explode frames, keep every 2nd."""
    docs = load_table(spark, sf_dir, "documents")
    meta = decode_media_meta(documents_as_media(docs))
    return frame_sample(meta, every_n=2).select("doc_id", F.col("frame_index").cast("int").alias("frame_index"))


@register(
    "multimodal_video_frames",
    oracle="""
    SELECT doc_id,
           CAST(16 AS INT) AS width,
           CAST(8 AS INT) AS height,
           CAST(10 AS INT) AS fps,
           CAST(1 + doc_id % 3 AS BIGINT) AS n_frames,
           true AS frames_intact,
           true AS first_frame_decodes,
           CAST((1 + doc_id % 3 + 1) // 2 AS BIGINT) AS n_sampled,
           CAST(NULL AS VARCHAR) AS video_error
    FROM documents
    """,
    tags=("multimodal", "A7", "extension"),
)
def multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video pipeline plumbing: MJPEG AVI containers (RIFF walk via
    operators/avimini, per-frame baseline JPEG via operators/jpegmini) are
    synthesized per document, then parsed back on the executors — geometry
    and fps from the avih header, frame payload round-trip integrity, a
    real first-frame JPEG decode, and every-2nd frame-sampling accounting.
    The oracle pins every column in closed form, so container parse +
    frame decode are value-checked."""
    from frappe_data_pipelines_spark.operators.multimodal import (
        documents_as_avi,
        video_frame_audit,
    )

    docs = load_table(spark, sf_dir, "documents")
    return video_frame_audit(documents_as_avi(docs))


@register(
    "multimodal_audio_features",
    oracle="""
    WITH params AS (
      SELECT doc_id, doc_id % 7 + 1 AS step, 400 + (doc_id % 5) * 100 AS n
      FROM documents
    ), samples AS (
      SELECT doc_id, n, i.i AS i, ((i.i * step) % 256) - 128 AS c
      FROM params, LATERAL (SELECT unnest(generate_series(0, n - 1)) AS i) i
    ), paired AS (
      SELECT doc_id, n, i, c,
             lead(c) OVER (PARTITION BY doc_id ORDER BY i) AS c2
      FROM samples
    )
    SELECT doc_id,
           CAST(8000 AS INT) AS sample_rate,
           CAST(1 AS INT) AS n_channels,
           CAST(max(n) AS BIGINT) AS n_samples,
           CAST((max(n) * 1000) // 8000 AS BIGINT) AS duration_ms,
           CAST(max(abs(c)) AS INT) AS peak,
           round(sqrt(sum(c * c) * 1.0 / max(n)), 6) AS rms,
           CAST(sum(CASE WHEN c2 IS NOT NULL AND c * c2 < 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
    FROM paired GROUP BY doc_id
    """,
    tags=("multimodal", "A7", "extension"),
)
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio pipeline plumbing (the A7 shape for sound): deterministic
    WAV containers (RIFF + 8-bit mono PCM, trig-free integer samples) are
    parsed back through the stdlib ``wave`` kernel and numpy feature
    extraction — container metadata, peak, RMS over exact integer
    sum-of-squares, zero-crossing count. The oracle regenerates every
    sample in SQL, so the whole decode+featurize path is value-checked,
    not just row-counted."""
    from frappe_data_pipelines_spark.operators.multimodal import (
        audio_features,
        documents_as_wav,
    )

    docs = load_table(spark, sf_dir, "documents")
    return audio_features(documents_as_wav(docs)).select(
        "doc_id", "sample_rate", "n_channels", "n_samples",
        "duration_ms", "peak", "rms", "zero_crossings",
    )


# ---------------------------------------------------------------------------
# Extraction formats, ingest harness, orchestrator
# ---------------------------------------------------------------------------

@register(
    "a3_a6_binary_roundtrip",
    oracle="""
    WITH b AS (
      SELECT doc_id, text,
             ['txt', 'md', 'pdf', 'docx', 'png'][CAST(doc_id % 5 AS INT) + 1] AS ext,
             octet_length(encode(text)) AS n
      FROM documents
    )
    SELECT '/data/doc_' || doc_id || '.' || ext AS path, ext,
           CASE WHEN ext IN ('txt', 'md') THEN text
                WHEN ext = 'pdf' THEN '[pdf:' || n || ' bytes]'
                WHEN ext = 'docx' THEN '[docx:' || n || ' bytes]'
                ELSE '[ocr:' || n || ' bytes]' END AS text,
           CASE WHEN ext IN ('txt', 'md') THEN 'utf-8'
                WHEN ext = 'pdf' THEN 'pdf-stub'
                WHEN ext = 'docx' THEN 'docx-stub'
                ELSE 'ocr-stub' END AS method,
           CASE WHEN ext IN ('png') THEN 0.5 ELSE 1.0 END AS confidence
    FROM b
    """,
    tags=("A3", "A4", "A5", "A6", "A8", "A9", "B1"),
)
def a3_a6_binary_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/A5/A6 format scans + A4 decode chain + A8/A9 OCR stub through the
    A2 dispatch (reference: text_extraction.py:63-122, ocr_service.py:81-187):
    documents are re-encoded as binary payloads with synthetic paths, pushed
    through the Arrow-batched extractor, and the oracle reproduces each
    format branch's deterministic stand-in. TXT/MD rows round-trip the real
    encoding-fallback decoder."""
    from frappe_data_pipelines_spark.operators.extraction import extract_text

    docs = load_table(spark, sf_dir, "documents")
    ext = F.element_at(
        F.array(*[F.lit(e) for e in ["txt", "md", "pdf", "docx", "png"]]),
        (F.col("doc_id") % 5).cast("int") + 1,
    )
    binary = docs.select(
        F.concat(F.lit("/data/doc_"), F.col("doc_id"), F.lit("."), ext).alias("path"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
    )
    return extract_text(binary).select("path", "ext", "text", "method", "confidence")


@register(
    "a3_a5_real_kernel_decode",
    oracle="""
    SELECT * FROM (VALUES
      ('/fixtures/sample.pdf', 'pdf',
       'Hello PDF world' || chr(10) || 'Second line with (escaped) parens'
        || chr(10) || 'Café menu' || chr(10) || chr(10) || 'Flate page two',
       'pdf-mini', 1.0),
      ('/fixtures/sample.docx', 'docx',
       'Quarterly Report' || chr(10) || 'Revenue:' || chr(9) || '42 units'
        || chr(10) || 'Café notes — 日本語 line one' || chr(10) || 'after the break',
       'docx-xml', 1.0),
      ('/fixtures/sample_type0.pdf', 'pdf',
       'こんに' || chr(10) || 'ABC' || chr(10) || 'é世'
        || chr(10) || chr(10) || 'plain latin page',
       'pdf-mini', 1.0),
      ('/fixtures/sample_encrypted.pdf', 'pdf',
       'RC4 secret: quarterly figures' || chr(10) || 'Owner-locked but readable',
       'pdf-mini', 1.0),
      ('/fixtures/sample_aes128.pdf', 'pdf',
       'AES-128 secret: ledger totals' || chr(10) || 'Crypt filter StdCF (AESV2)',
       'pdf-mini', 1.0),
      ('/fixtures/sample_aes256.pdf', 'pdf',
       'AES-256 secret: board minutes' || chr(10) || 'Hardened R6 key wrap (AESV3)',
       'pdf-mini', 1.0),
      ('/fixtures/sample_cidgid.pdf', 'pdf',
       'Graph query engine' || chr(10) || 'Σ ok 😀(cid:999)',
       'pdf-mini', 1.0),
      ('/fixtures/sample_cff.pdf', 'pdf',
       'CFF charset recovery: Type1C names! Δ=ok',
       'pdf-mini', 1.0)
    ) AS t(path, ext, text, method, confidence)
    """,
    tags=("A3", "A5", "A2"),
)
def a3_a5_real_kernel_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/A5 REAL kernels on checked-in fixture bytes (VERDICT r3 #6): the
    stdlib PDF parser (FlateDecode + Tj/TJ/escape/octal handling, Type0 +
    ToUnicode, RC4/AES-128/AES-256 standard-security decryption) and the
    OOXML DOCX parser
    (paragraph/run/tab/break model) run through the same A2 dispatch as the
    stubs; the oracle pins the exact decoded text. Reference kernels:
    pdfplumber (text_extraction.py:63-75), python-docx
    (text_extraction.py:94-101)."""
    import os

    from frappe_data_pipelines_spark.operators.extraction import extract_text

    fixtures = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "resources", "fixtures",
    )
    rows = []
    for name in (
        "sample.pdf", "sample.docx", "sample_type0.pdf",
        "sample_encrypted.pdf", "sample_aes128.pdf", "sample_aes256.pdf",
        "sample_cidgid.pdf", "sample_cff.pdf",
    ):
        with open(os.path.join(fixtures, name), "rb") as f:
            rows.append((f"/fixtures/{name}", bytearray(f.read())))
    binary = spark.createDataFrame(rows, "path string, content binary")
    return extract_text(binary, real_kernels=True).select(
        "path", "ext", "text", "method", "confidence"
    )


_OCR_FIXTURE_TEXT = (
    "'INVOICE 2026-08' || chr(10) || 'TOTAL DUE: 1,234.56' || chr(10) "
    "|| 'PAY BY: 2026-09-01'"
)


@register(
    "a8_real_kernel_ocr",
    oracle=f"""
    SELECT * FROM (VALUES
      ('/fixtures/sample_ocr.png', 'png', {_OCR_FIXTURE_TEXT}, 'ocr-bitmap', 1.0),
      ('/fixtures/sample_ocr_rgb.png', 'png', {_OCR_FIXTURE_TEXT}, 'ocr-bitmap', 1.0),
      ('/fixtures/sample_ocr.jpg', 'jpg', {_OCR_FIXTURE_TEXT}, 'ocr-bitmap', 1.0)
    ) AS t(path, ext, text, method, confidence)
    """,
    tags=("A8", "A9", "A2"),
)
def a8_real_kernel_ocr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 REAL OCR kernel on checked-in fixture bitmaps (VERDICT r4 #2): the
    stdlib pipeline — PNG decode (all filters, gray + RGB), binarize,
    projection line/glyph segmentation, nearest-template match against the
    5×7 font — through the same A2 dispatch as the stubs; the oracle pins
    the exact recognized text at confidence 1.0. ``[ocr:N bytes]`` is no
    longer reachable for decodable bitmaps. Reference kernel: PaddleOCR
    per-line recognition, newline-join, avg confidence
    (ocr_service.py:81-160)."""
    import os

    from frappe_data_pipelines_spark.operators.extraction import extract_text

    fixtures = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "resources", "fixtures",
    )
    rows = []
    for name in ("sample_ocr.png", "sample_ocr_rgb.png", "sample_ocr.jpg"):
        with open(os.path.join(fixtures, name), "rb") as f:
            rows.append((f"/fixtures/{name}", bytearray(f.read())))
    binary = spark.createDataFrame(rows, "path string, content binary")
    return extract_text(binary, real_kernels=True).select(
        "path", "ext", "text", "method", "confidence"
    )


@register(
    "a8_ocr_bounding_boxes",
    oracle="""
    SELECT * FROM (VALUES
      ('INVOICE 2026-08', 3.0, 2.0, 91.0, 9.0, 1.0),
      ('TOTAL DUE: 1,234.56', 2.0, 11.0, 115.0, 18.0, 1.0),
      ('PAY BY: 2026-09-01', 2.0, 20.0, 108.0, 27.0, 1.0)
    ) AS t(line_text, x0, y0, x1, y1, line_confidence)
    """,
    tags=("A8", "D2"),
)
def a8_ocr_bounding_boxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 OCRResult struct fidelity: the full (text, confidence,
    detected_languages, bounding_boxes) struct per SURVEY §1.2
    (ocr_service.py:14-20, bbox list :140-144), flattened to one row per
    recognized line with its 4-corner box reduced to (x0,y0,x1,y1). The
    oracle pins exact pixel geometry of the fixture render."""
    import os

    from frappe_data_pipelines_spark.operators.extraction import ocr_images

    fixtures = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "resources", "fixtures",
    )
    with open(os.path.join(fixtures, "sample_ocr.png"), "rb") as f:
        payload = bytearray(f.read())
    binary = spark.createDataFrame(
        [("/fixtures/sample_ocr.png", payload)], "path string, content binary"
    )
    line = F.explode("bounding_boxes").alias("line")
    return (
        ocr_images(binary)
        .select(line)
        .select(
            F.col("line.text").alias("line_text"),
            F.col("line.bbox")[0][0].cast("double").alias("x0"),
            F.col("line.bbox")[0][1].cast("double").alias("y0"),
            F.col("line.bbox")[2][0].cast("double").alias("x1"),
            F.col("line.bbox")[2][1].cast("double").alias("y1"),
            F.col("line.confidence").alias("line_confidence"),
        )
    )


@register(
    "multimodal_real_decode",
    oracle="""
    SELECT * FROM (VALUES
      (1, 'image/png', 370, 117, 29, 1, 'image/png 117x29 gray'),
      (2, 'image/gif', 59, 4, 3, 3, 'image/gif 4x3 3 frame(s)'),
      (3, 'image/jpeg', 41, 240, 180, 1, 'image/jpeg 240x180')
    ) AS t(doc_id, mime, n_bytes, width, height, n_frames, caption)
    """,
    tags=("A7", "J3", "multimodal"),
)
def multimodal_real_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7/J3 REAL image decode (VERDICT r4 #3): PNG full pixel decode, GIF
    block walk (frame count), JPEG SOF scan — ``decode_media_meta(
    real=True)``; the NotImplementedError path is gone for these formats.
    Reference: vision/image metadata extraction
    (vision_service.py:61-177, text_extraction.py:108-122)."""
    import os

    fixtures = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "resources", "fixtures",
    )
    rows = []
    for i, (name, mime) in enumerate(
        [("sample_ocr.png", "image/png"), ("sample.gif", "image/gif"),
         ("sample.jpg", "image/jpeg")],
        start=1,
    ):
        with open(os.path.join(fixtures, name), "rb") as f:
            rows.append((i, bytearray(f.read()), mime))
    media = spark.createDataFrame(rows, "doc_id long, content binary, mime string")
    return decode_media_meta(media, real=True).select(
        F.col("doc_id").cast("int").alias("doc_id"),
        "mime",
        F.col("n_bytes").cast("int").alias("n_bytes"),
        "width", "height", "n_frames", "caption",
    )


@register(
    "a10_real_scanned_pdf_ocr",
    oracle="""
    SELECT * FROM (VALUES
      ('/fixtures/sample_scanned.pdf', 'pdf', true,
       'SCANNED ARCHIVE BOX 7' || chr(10) || 'REF NO: 2019-114',
       'pdf-ocr', 1.0),
      ('/fixtures/sample_scanned_jpeg.pdf', 'pdf', true,
       'SCANNED ARCHIVE BOX 7' || chr(10) || 'REF NO: 2019-114',
       'pdf-ocr', 1.0),
      ('/fixtures/sample_scanned_g4.pdf', 'pdf', true,
       'SCANNED ARCHIVE BOX 7' || chr(10) || 'REF NO: 2019-114',
       'pdf-ocr', 1.0),
      ('/fixtures/sample_scanned_pjpeg.pdf', 'pdf', true,
       'SCANNED ARCHIVE BOX 7' || chr(10) || 'REF NO: 2019-114',
       'pdf-ocr', 1.0),
      ('/fixtures/sample_scanned_jbig2.pdf', 'pdf', true,
       'SCANNED ARCHIVE BOX 7' || chr(10) || 'REF NO: 2019-114',
       'pdf-ocr', 1.0),
      ('/fixtures/sample_scanned_jbig2sym.pdf', 'pdf', true,
       'SCANNED ARCHIVE BOX 7' || chr(10) || 'REF NO: 2019-114',
       'pdf-ocr', 1.0),
      ('/fixtures/sample_scanned_jbig2ref.pdf', 'pdf', true,
       'SCANNED ARCHIVE BOX 7' || chr(10) || 'REF NO: 2019-114',
       'pdf-ocr', 1.0),
      ('/fixtures/sample_scanned_jbig2ref0.pdf', 'pdf', true,
       'SCANNED ARCHIVE BOX 7' || chr(10) || 'REF NO: 2019-114',
       'pdf-ocr', 1.0),
      ('/fixtures/sample_scanned_jbig2agg.pdf', 'pdf', true,
       'SCANNED ARCHIVE BOX 7' || chr(10) || 'REF NO: 2019-114',
       'pdf-ocr', 1.0),
      ('/fixtures/sample_scanned_jbig2huff.pdf', 'pdf', true,
       'SCANNED ARCHIVE BOX 7' || chr(10) || 'REF NO: 2019-114',
       'pdf-ocr', 1.0),
      ('/fixtures/sample_scanned_jbig2huffref.pdf', 'pdf', true,
       'SCANNED ARCHIVE BOX 7' || chr(10) || 'REF NO: 2019-114',
       'pdf-ocr', 1.0),
      ('/fixtures/sample_scanned_jbig2huffagg.pdf', 'pdf', true,
       'SCANNED ARCHIVE BOX 7' || chr(10) || 'REF NO: 2019-114',
       'pdf-ocr', 1.0),
      ('/fixtures/sample_scanned_jbig2stdtbl.pdf', 'pdf', true,
       'SCANNED ARCHIVE BOX 7' || chr(10) || 'REF NO: 2019-114',
       'pdf-ocr', 1.0),
      ('/fixtures/sample_scanned_jbig2nc.pdf', 'pdf', true,
       'SCANNED ARCHIVE BOX 7' || chr(10) || 'REF NO: 2019-114',
       'pdf-ocr', 1.0),
      ('/fixtures/sample_scanned_jpx16.pdf', 'pdf', true,
       'SCANNED ARCHIVE BOX 7' || chr(10) || 'REF NO: 2019-114',
       'pdf-ocr', 1.0),
      ('/fixtures/sample_scanned_jpx.pdf', 'pdf', true,
       'SCANNED ARCHIVE BOX 7' || chr(10) || 'REF NO: 2019-114',
       'pdf-ocr', 1.0),
      ('/fixtures/sample_scanned_jpx97.pdf', 'pdf', true,
       'SCANNED ARCHIVE BOX 7' || chr(10) || 'REF NO: 2019-114',
       'pdf-ocr', 1.0),
      ('/fixtures/sample_scanned_jpxtiled.pdf', 'pdf', true,
       'SCANNED ARCHIVE BOX 7' || chr(10) || 'REF NO: 2019-114',
       'pdf-ocr', 1.0),
      ('/fixtures/sample_scanned_jpxdq.pdf', 'pdf', true,
       'SCANNED ARCHIVE BOX 7' || chr(10) || 'REF NO: 2019-114',
       'pdf-ocr', 1.0),
      ('/fixtures/sample_mixed.pdf', 'pdf', false,
       'Mixed doc page one' || chr(10) || chr(10) || 'Mixed doc page three',
       'pdf-mini', 1.0),
      ('/fixtures/sample.pdf', 'pdf', false,
       'Hello PDF world' || chr(10) || 'Second line with (escaped) parens'
        || chr(10) || 'Café menu' || chr(10) || chr(10) || 'Flate page two',
       'pdf-mini', 1.0)
    ) AS t(path, ext, is_scanned, text, method, confidence)
    """,
    tags=("A10", "A11", "A8", "A2"),
)
def a10_real_scanned_pdf_ocr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 REAL scanned-PDF pipeline (upgrades the stub noted in VERDICT r4
    A10): a PDF whose only page content is an embedded image XObject goes
    through text extraction (finds nothing → A11 scanned), then the
    render→OCR hand-off — pdfmini extracts the page raster (Flate raw
    samples, baseline AND progressive /DCTDecode via operators/jpegmini,
    CCITT Group-4 /CCITTFaxDecode via operators/faxmini, /JBIG2Decode
    via operators/jbig2mini in generic-region and symbol-dictionary +
    text-region form across BOTH coding families (arithmetic and huffman),
    including multi-instance aggregate symbols (nested text region inside
    the dictionary, 6.5.8.2 — in BOTH families: arithmetic and round-9
    huffman REFAGG over the Table 17 hardcoded B.6/B.8/B.11/B.15/B.1),
    huffman-mode refined instances (custom RDW/RDH/RDX/RDY tables or the
    round-9-transcribed standard B.14/B.15, per-instance MQ codewords,
    6.4.11), and pages whose selectors pick the standard Annex B text
    tables B.6/B.8/B.11 with no type-53 segments at all,
    and JPEG 2000 /JPXDecode via operators/jp2mini in
    its lossless-gray 5/3, lossy-color 9/7+ICT+expounded-quantization,
    tiled, and derived-quantization + multi-tile-part (QCD style 1,
    TPsot-ordered segments) profiles — the profiles real scanners
    embed), and the real
    bitmap OCR kernel reads it (method ``pdf-ocr``). The text-bearing
    sample.pdf rides along to prove routing picks text extraction when text
    exists, and sample_mixed.pdf (text page + image-only JBIG2 page + text
    page) pins the MIXED-document semantic: textless pages are skipped,
    the doc is NOT scanned, text pages join with the page separator
    (reference: text_extraction.py:70-75 'if page_text'). Reference: render+OCR loop ocr_service.py:228-289, scanned
    detection :291-321."""
    import os

    from frappe_data_pipelines_spark.operators.extraction import extract_text

    fixtures = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "resources", "fixtures",
    )
    rows = []
    for name in (
        "sample_scanned.pdf", "sample_scanned_jpeg.pdf",
        "sample_scanned_g4.pdf", "sample_scanned_pjpeg.pdf",
        "sample_scanned_jbig2.pdf", "sample_scanned_jbig2sym.pdf",
        "sample_scanned_jbig2ref.pdf", "sample_scanned_jbig2ref0.pdf",
        "sample_scanned_jbig2agg.pdf",
        "sample_scanned_jbig2huff.pdf", "sample_scanned_jbig2huffref.pdf",
        "sample_scanned_jbig2huffagg.pdf", "sample_scanned_jbig2stdtbl.pdf",
        "sample_scanned_jbig2nc.pdf", "sample_scanned_jpx16.pdf",
        "sample_scanned_jpx.pdf",
        "sample_scanned_jpx97.pdf", "sample_scanned_jpxtiled.pdf",
        "sample_scanned_jpxdq.pdf",
        "sample_mixed.pdf", "sample.pdf",
    ):
        with open(os.path.join(fixtures, name), "rb") as f:
            rows.append((f"/fixtures/{name}", bytearray(f.read())))
    binary = spark.createDataFrame(rows, "path string, content binary")
    return extract_text(binary, real_kernels=True).select(
        "path",
        "ext",
        (F.col("method") == "pdf-ocr").alias("is_scanned"),
        "text",
        "method",
        "confidence",
    )


@register(
    "extract_real_kernels",
    oracle="""
    SELECT '/gen/doc_' || doc_id
             || CASE WHEN doc_id % 2 = 0 THEN '.pdf' ELSE '.docx' END AS path,
           CASE WHEN doc_id % 2 = 0 THEN 'pdf' ELSE 'docx' END AS ext,
           text,
           CASE WHEN doc_id % 2 = 0 THEN 'pdf-mini' ELSE 'docx-xml' END AS method,
           1.0 AS confidence
    FROM documents
    """,
    tags=("A2", "A3", "A5", "bench"),
)
def extract_real_kernels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-scale REAL-kernel extraction (VERDICT r4 #6, ROADMAP item 6):
    every document is wrapped as a structurally valid PDF (even doc_id:
    classic xref + FlateDecode content stream) or DOCX (odd: OOXML zip),
    then decoded back through the same A2 dispatch the fixtures use — the
    full-graph pdfmini parser and the OOXML parser at thousands of docs, not
    two golden files. The oracle is the exact round-trip: decoded text ==
    documents.text for all rows. Reference kernels: pdfplumber
    (text_extraction.py:63-75), python-docx (:94-101)."""
    from frappe_data_pipelines_spark.operators.docgen import documents_as_files
    from frappe_data_pipelines_spark.operators.extraction import extract_text

    docs = load_table(spark, sf_dir, "documents")
    return extract_text(documents_as_files(docs), real_kernels=True).select(
        "path", "ext", "text", "method", "confidence"
    )


def _all_true(col):
    """Aggregate "every row satisfies ``col``", NULL-safe in BOTH
    directions: a NULL condition counts as a FAILURE (Spark's ``bool_and``
    silently skips NULLs, which would let a full-join orphan or a NULL
    embedding slip through), while an EMPTY input is vacuously true."""
    return F.coalesce(
        F.bool_and(F.coalesce(col, F.lit(False))), F.lit(True)
    ).alias("ok")


def _check_row(name: str, df_bool: DataFrame) -> DataFrame:
    """One (check_name, ok) row from a single-row boolean aggregate."""
    return df_bool.select(
        F.lit(name).alias("check_name"),
        F.coalesce(F.col("ok"), F.lit(True)).alias("ok"),
    )


_INGEST_CHECKS = (
    "all_docs_have_jobs",
    "chunk_indexes_dense",
    "chunk_text_from_doc",
    "embedding_dim_ok",
    "exactly_once_replay_ok",
    "job_states_legal",
    "metrics_totals_match",
)

_INGEST_ORACLE = "SELECT * FROM (VALUES " + ", ".join(
    f"('{c}', true)" for c in _INGEST_CHECKS
) + ") AS t(check_name, ok)"


@register(
    "i1_i2_ingest_snapshot",
    oracle=_INGEST_ORACLE,
    tags=("A1", "I1", "I2", "I5", "I6", "A13", "A14"),
)
def i1_i2_ingest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I1/I2 event-driven ingest driven end-to-end (reference: hooks.py:28-33,
    drive_file_handler.py:63-88): a 40-doc slice streams through the
    availableNow micro-batch pipeline (chunk → embed → A13/A14 MERGE sinks +
    job state machine + I6 metrics). Emits scale-independent INVARIANT rows
    (VERDICT r5 #1) pinned by a VALUES oracle — regeneration-proof because
    every boolean must hold for ANY document corpus:

      * all_docs_have_jobs      — job table covers exactly the input doc set
      * job_states_legal        — each doc: one Queued row + exactly one
                                  terminal row, states ⊆ the I2 state machine,
                                  terminal Failed ⇔ blank text (I3 dead letter)
      * chunk_indexes_dense     — per doc: chunk_index is 0..n-1 and
                                  total_chunks == n (E1 enumeration contract)
      * chunk_text_from_doc     — every chunk_text is a substring of its
                                  source document (extraction integrity)
      * embedding_dim_ok        — every vector has the provider's dimension
                                  (A13 write validation)
      * metrics_totals_match    — I6 telemetry sums to the input doc count
      * exactly_once_replay_ok  — replaying ALL micro-batches from a fresh
                                  checkpoint (same txn app id) leaves the
                                  chunk table digest unchanged (I5 MERGE +
                                  txn dedup, Delta txnAppId/txnVersion
                                  semantics)
    """
    import os
    import shutil
    import tempfile

    from frappe_data_pipelines_spark.operators.embed import DEFAULT_DIM
    from frappe_data_pipelines_spark.sources.merge import MergeTable
    from frappe_data_pipelines_spark.streaming.ingest import start_ingest_stream

    tmp = tempfile.mkdtemp(prefix="fdp_ingest_q_")
    inp, out, ckpt = (os.path.join(tmp, d) for d in ("in", "out", "ckpt"))
    try:
        docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
        docs.coalesce(2).write.parquet(inp)
        # exactly_once: the chunk sink is the transactional MERGE tier
        # (sources/merge.py) keyed on (doc_id, chunk_index) with txn dedup —
        # the reference's Qdrant upsert contract (qdrant_service.py:86-115)
        q = start_ingest_stream(
            spark, inp, out, ckpt, exactly_once=True, txn_app_id="i1_i2_ingest"
        )
        q.awaitTermination(180)

        from frappe_data_pipelines_spark.streaming.ingest import read_ingest_sink

        jobs = read_ingest_sink(spark, out, "jobs")
        chunks = MergeTable(os.path.join(out, "chunks")).read(spark)
        metrics = read_ingest_sink(spark, out, "metrics")
        docs_in = spark.read.parquet(inp).select(
            "doc_id", F.col("text").alias("doc_text")
        )
        n_docs = docs_in.count()


        c_docs = _check_row(
            "all_docs_have_jobs",
            docs_in.join(jobs, docs_in.doc_id == jobs.source_doc_id, "full")
            .agg(_all_true(docs_in.doc_id.isNotNull() & jobs.source_doc_id.isNotNull())),
        )
        per_doc_states = (
            jobs.join(docs_in, jobs.source_doc_id == docs_in.doc_id)
            .groupBy("source_doc_id")
            .agg(
                F.sum(F.when(F.col("status") == "Queued", 1).otherwise(0)).alias("n_q"),
                F.sum(F.when(F.col("status") == "Completed", 1).otherwise(0)).alias("n_c"),
                F.sum(F.when(F.col("status") == "Failed", 1).otherwise(0)).alias("n_f"),
                F.count("*").alias("n_all"),
                F.bool_and(F.length(F.trim(F.coalesce("doc_text", F.lit(""))))
                           == 0).alias("blank"),
            )
        )
        c_states = _check_row(
            "job_states_legal",
            per_doc_states.agg(_all_true(
                (F.col("n_q") == 1) & (F.col("n_c") + F.col("n_f") == 1)
                & (F.col("n_all") == F.col("n_q") + F.col("n_c") + F.col("n_f"))
                & (F.col("blank") == (F.col("n_f") == 1))
            )),
        )
        per_doc_chunks = chunks.groupBy("doc_id").agg(
            F.min("chunk_index").alias("mn"),
            F.max("chunk_index").alias("mx"),
            F.count("*").alias("n"),
            F.count_distinct("chunk_index").alias("nd"),
            F.min("total_chunks").alias("t_mn"),
            F.max("total_chunks").alias("t_mx"),
        )
        c_dense = _check_row(
            "chunk_indexes_dense",
            per_doc_chunks.agg(_all_true(
                (F.col("mn") == 0) & (F.col("mx") == F.col("n") - 1)
                & (F.col("nd") == F.col("n"))
                & (F.col("t_mn") == F.col("n")) & (F.col("t_mx") == F.col("n"))
            )),
        )
        c_sub = _check_row(
            "chunk_text_from_doc",
            chunks.join(docs_in, "doc_id").agg(
                _all_true(F.instr(F.col("doc_text"), F.col("chunk_text")) > 0)
            ),
        )
        c_dim = _check_row(
            "embedding_dim_ok",
            chunks.agg(_all_true(F.size("embedding") == DEFAULT_DIM)),
        )
        c_metrics = _check_row(
            "metrics_totals_match",
            metrics.agg((F.coalesce(F.sum("n_docs"), F.lit(0)) == n_docs).alias("ok")),
        )

        # materialize the six first-run checks NOW — the job/metrics sinks
        # are append-mode parquet, so the replay below would otherwise leak
        # into these lazily-evaluated plans
        result = c_docs
        for c in (c_dense, c_sub, c_dim, c_states, c_metrics):
            result = result.unionByName(c)
        from frappe_data_pipelines_spark.operators.guards import collect_bounded

        rows = [tuple(r) for r in collect_bounded(result, 100, "ingest invariant rows")]

        # I5 proof: drain the SAME input again from a FRESH checkpoint — every
        # micro-batch replays with its original batch_id, the (app_id,
        # batch_id) txn log marks each a no-op, and the chunk digest is
        # byte-identical. Without txn dedup this would still be idempotent by
        # MERGE key, so the digest compares the full row content.
        def digest() -> tuple[int, int]:
            row = (
                MergeTable(os.path.join(out, "chunks")).read(spark)
                .select(F.xxhash64("doc_id", "chunk_index", "chunk_text").alias("h"))
                .agg(F.bit_xor("h").alias("s"), F.count("*").alias("n"))
                .collect()[0]
            )
            return (row["s"] or 0, row["n"])

        before = digest()
        q2 = start_ingest_stream(
            spark, inp, out, os.path.join(tmp, "ckpt_replay"),
            exactly_once=True, txn_app_id="i1_i2_ingest",
        )
        q2.awaitTermination(180)
        rows.append(("exactly_once_replay_ok", digest() == before))
        return spark.createDataFrame(rows, "check_name string, ok boolean")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


_J6_BATCH_CHECKS = (
    "all_terminal_completed",
    "chunk_indexes_dense",
    "chunk_text_from_doc",
    "embedding_dim_ok",
    "n_chunks_accounting",
    "only_queued_processed",
)

_J6_BATCH_ORACLE = "SELECT * FROM (VALUES " + ", ".join(
    f"('{c}', true)" for c in _J6_BATCH_CHECKS
) + ") AS t(check_name, ok)"


@register("j6_pipeline_batch", oracle=_J6_BATCH_ORACLE,
          tags=("J6", "B8", "A13", "A14", "D4"))
def j6_pipeline_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 orchestrator, batch form (reference: process_embedding.py:84-281):
    Queued jobs semi-join files → chunk → embed in one DataFrame plan.
    Emits scale-independent INVARIANT rows (VERDICT r5 #1) pinned by a
    VALUES oracle — each must hold for ANY corpus:

      * only_queued_processed   — B8 guard: the processed doc set is exactly
                                  the Queued jobs with non-blank text (the
                                  Completed half is untouched)
      * all_terminal_completed  — every terminal row is Completed with a
                                  timestamp and ≥1 chunk
      * chunk_indexes_dense     — E1 enumeration: 0..n-1 and total_chunks==n
      * chunk_text_from_doc     — every chunk is a substring of its source
      * n_chunks_accounting     — D4: terminal n_chunks equals an independent
                                  recount of the chunk output
      * embedding_dim_ok        — A13 write validation
    """
    from frappe_data_pipelines_spark.operators.embed import DEFAULT_DIM
    from frappe_data_pipelines_spark.operators.pipeline import run_pipeline_batch

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    jobs = docs.select(
        F.col("doc_id").alias("source_doc_id"),
        # alternate Queued/Completed: only Queued rows are eligible (B8)
        F.when(F.col("doc_id") % 2 == 0, "Queued").otherwise("Completed").alias("status"),
    )
    embedded, done = run_pipeline_batch(docs, jobs, chunk_size=200, chunk_overlap=40)


    expected = docs.filter(
        (F.col("doc_id") % 2 == 0)
        & (F.length(F.trim(F.coalesce("text", F.lit("")))) > 0)
    ).select("doc_id")
    c_queued = _check_row(
        "only_queued_processed",
        expected.join(done, expected.doc_id == done.source_doc_id, "full")
        .agg(_all_true(expected.doc_id.isNotNull() & done.source_doc_id.isNotNull())),
    )
    c_term = _check_row(
        "all_terminal_completed",
        done.agg(_all_true(
            (F.col("status") == "Completed") & F.col("completed_at").isNotNull()
            & (F.col("n_chunks") >= 1)
        )),
    )
    per_doc = embedded.groupBy("doc_id").agg(
        F.min("chunk_index").alias("mn"), F.max("chunk_index").alias("mx"),
        F.count("*").alias("n"), F.count_distinct("chunk_index").alias("nd"),
        F.min("total_chunks").alias("t_mn"), F.max("total_chunks").alias("t_mx"),
    )
    c_dense = _check_row(
        "chunk_indexes_dense",
        per_doc.agg(_all_true(
            (F.col("mn") == 0) & (F.col("mx") == F.col("n") - 1)
            & (F.col("nd") == F.col("n"))
            & (F.col("t_mn") == F.col("n")) & (F.col("t_mx") == F.col("n"))
        )),
    )
    c_sub = _check_row(
        "chunk_text_from_doc",
        embedded.join(docs.select("doc_id", F.col("text").alias("doc_text")), "doc_id")
        .agg(_all_true(F.instr(F.col("doc_text"), F.col("chunk_text")) > 0)),
    )
    c_acct = _check_row(
        "n_chunks_accounting",
        done.join(per_doc, done.source_doc_id == per_doc.doc_id, "full")
        .agg(_all_true(F.col("n_chunks") == F.col("n"))),
    )
    c_dim = _check_row(
        "embedding_dim_ok",
        embedded.agg(_all_true(F.size("embedding") == DEFAULT_DIM)),
    )
    result = c_term
    for c in (c_dense, c_sub, c_dim, c_acct, c_queued):
        result = result.unionByName(c)
    return result


@register(
    "a10_a11_scanned_pdf_detect",
    oracle="""
    WITH pages AS (
      SELECT doc_id, CAST(i.i - 1 AS INT) AS page_no, trim(parts[i.i]) AS page_text
      FROM (SELECT doc_id, string_split(text, ' table ') AS parts FROM documents),
           LATERAL (SELECT unnest(generate_series(1, len(parts))) AS i) i
    ), sampled AS (
      SELECT doc_id, page_no, page_text,
             '[ocr:' || octet_length(encode(page_text)) || ' bytes]' AS ocr_text
      FROM pages WHERE page_no < 3
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_pages_sampled,
           round(avg(length(page_text)), 6) AS avg_chars,
           avg(length(page_text)) < 50 AS is_scanned,
           max(CASE WHEN page_no = 0 THEN ocr_text END) AS first_page_ocr
    FROM sampled GROUP BY doc_id
    """,
    tags=("A10", "A11", "D3"),
)
def a10_a11_scanned_pdf_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 scanned-PDF detection by page sampling (reference:
    ocr_service.py:291-321 — avg embedded-text length of ≤3 sampled pages
    < 50 chars → scanned) + the A10 render→OCR hand-off for the sampled
    first page (ocr_service.py:228-289; render is the deterministic stub —
    the container has no PyMuPDF/PaddleOCR)."""
    docs = load_table(spark, sf_dir, "documents")
    pages = (
        docs.select("doc_id", F.posexplode(F.split("text", " table ")).alias("page_no", "page_text"))
        .withColumn("page_text", F.trim("page_text"))
        .withColumn("page_no", F.col("page_no").cast("int"))
        .filter(F.col("page_no") < 3)
        .withColumn(
            "ocr_text",
            F.concat(
                F.lit("[ocr:"), F.octet_length(F.encode("page_text", "UTF-8")), F.lit(" bytes]")
            ),
        )
    )
    return pages.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_pages_sampled"),
        F.round(F.avg(F.length("page_text")), 6).alias("avg_chars"),
        (F.avg(F.length("page_text")) < 50).alias("is_scanned"),
        F.max(F.when(F.col("page_no") == 0, F.col("ocr_text"))).alias("first_page_ocr"),
    )


_J6_SMART_CHECKS = (
    "chunk_indexes_dense",
    "embedded_text_rule",
    "embedding_dim_ok",
    "enrich_template_ok",
    "routing_rule_respected",
    "strategies_partition_docs",
)

_J6_SMART_ORACLE = "SELECT * FROM (VALUES " + ", ".join(
    f"('{c}', true)" for c in _J6_SMART_CHECKS
) + ") AS t(check_name, ok)"


@register("j6_smart_pipeline_e2e", oracle=_J6_SMART_ORACLE,
          tags=("J6", "J5", "J2", "J1", "G2"))
def j6_smart_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full §3.1 lifecycle as ONE DataFrame plan: J5 route (metadata →
    strategy) → strategy-branched chunking (filtered unions, SURVEY J6) →
    J2 enrichment (H16 prefix concat) → J1 embedding. Emits
    scale-independent INVARIANT rows (VERDICT r5 #1), VALUES-oracled:

      * strategies_partition_docs — every non-blank doc lands in EXACTLY one
                                    strategy branch (filtered-union soundness)
      * routing_rule_respected    — the branch agrees with an independent
                                    inline restatement of the J5 rule
                                    (n_chars<80 → visual, >450 → structured,
                                    else text)
      * chunk_indexes_dense       — E1 enumeration within each doc
      * enrich_template_ok        — J2: context_prefix equals the reference
                                    template recomputed from columns
      * embedded_text_rule        — H16: embedded_text == prefix + blank line
                                    + chunk when prefix non-empty
      * embedding_dim_ok          — J1 output dimension
    """
    from frappe_data_pipelines_spark.operators.chunker import chunk_documents
    from frappe_data_pipelines_spark.operators.embed import DEFAULT_DIM, embed_documents
    from frappe_data_pipelines_spark.operators.enrich import enrich_chunks, processing_plan_expr

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    routed = docs.withColumn("plan", processing_plan_expr(F.col("lang"), F.col("n_chars")))

    # branch by strategy; each branch chunks with its suggested size (H15)
    branches = []
    for strategy, size in (("text", 200), ("structured", 300), ("visual", 150)):
        part = routed.filter(F.col("plan.strategy") == strategy)
        chunks = chunk_documents(
            part, strategy="recursive", chunk_size=size, chunk_overlap=size // 5
        ).withColumn("strategy", F.lit(strategy))
        branches.append(chunks)
    all_chunks = branches[0]
    for b in branches[1:]:
        all_chunks = all_chunks.unionByName(b)

    enriched = enrich_chunks(all_chunks)
    embedded = embed_documents(enriched, text_col="embedded_text")


    per_doc = embedded.groupBy("doc_id").agg(
        F.count_distinct("strategy").alias("n_strat"),
        F.min("strategy").alias("strategy"),
        F.min("chunk_index").alias("mn"), F.max("chunk_index").alias("mx"),
        F.count("*").alias("n"), F.count_distinct("chunk_index").alias("nd"),
        F.min("total_chunks").alias("t_mn"), F.max("total_chunks").alias("t_mx"),
    )
    nonblank = docs.filter(F.length(F.trim(F.coalesce("text", F.lit("")))) > 0).select(
        "doc_id", "n_chars"
    )
    c_part = _check_row(
        "strategies_partition_docs",
        nonblank.join(per_doc, "doc_id", "full")
        .agg(_all_true(nonblank.doc_id.isNotNull() & (F.col("n_strat") == 1))),
    )
    # independent inline restatement of the routing rule — NOT a call back
    # into processing_plan_expr
    expected = (
        F.when(F.col("n_chars") < 80, "visual")
        .when(F.col("n_chars") > 450, "structured")
        .otherwise("text")
    )
    c_rule = _check_row(
        "routing_rule_respected",
        nonblank.join(per_doc, "doc_id").agg(_all_true(F.col("strategy") == expected)),
    )
    c_dense = _check_row(
        "chunk_indexes_dense",
        per_doc.agg(_all_true(
            (F.col("mn") == 0) & (F.col("mx") == F.col("n") - 1)
            & (F.col("nd") == F.col("n"))
            & (F.col("t_mn") == F.col("n")) & (F.col("t_mx") == F.col("n"))
        )),
    )
    tmpl = F.concat(
        F.lit("Chunk "), (F.col("chunk_index") + 1).cast("string"),
        F.lit(" of "), F.col("total_chunks").cast("string"),
        F.lit(" from document "), F.col("doc_id").cast("string"), F.lit("."),
    )
    c_tmpl = _check_row(
        "enrich_template_ok",
        embedded.agg(_all_true(F.col("context_prefix") == tmpl)),
    )
    c_h16 = _check_row(
        "embedded_text_rule",
        embedded.agg(_all_true(
            F.col("embedded_text")
            == F.concat_ws("\n\n", F.col("context_prefix"), F.col("chunk_text"))
        )),
    )
    c_dim = _check_row(
        "embedding_dim_ok",
        embedded.agg(_all_true(F.size("embedding") == DEFAULT_DIM)),
    )
    result = c_dense
    for c in (c_h16, c_dim, c_tmpl, c_rule, c_part):
        result = result.unionByName(c)
    return result


@register(
    "j5_pdf_refinement",
    oracle="""
    WITH pages AS (
      SELECT doc_id, CAST(i.i - 1 AS INT) AS page_no, trim(parts[i.i]) AS page_text
      FROM (SELECT doc_id, string_split(text, ' table ') AS parts FROM documents),
           LATERAL (SELECT unnest(generate_series(1, len(parts))) AS i) i
    ), sampled AS (
      SELECT doc_id, page_no, length(page_text) AS text_len,
             CAST(('0x' || substring(md5(page_text), 1, 2)) AS INT) % 4 AS n_images
      FROM pages WHERE page_no < 5
    ), stats AS (
      SELECT doc_id,
             avg(text_len) AS avg_text,
             avg(n_images) AS avg_images,
             max(n_images) > 0 AS has_images
      FROM sampled GROUP BY doc_id
    )
    SELECT doc_id,
           round(avg_text, 6) AS avg_text,
           round(avg_images, 6) AS avg_images,
           has_images,
           CASE WHEN avg_text < 100 AND has_images THEN 'visual'
                WHEN has_images AND avg_images > 1 THEN 'hybrid'
                ELSE 'text' END AS strategy,
           (avg_text < 100 AND has_images) AS requires_ocr,
           avg_text > 500 AS has_tables
    FROM stats
    """,
    tags=("J5", "D3", "A11"),
)
def j5_pdf_refinement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5's PDF-sampling refinement, exact decision table (reference:
    decision_agent.py:176-237): ≤5 sampled pages → avg text length / image
    counts → (avg_text<100 ∧ images → visual+OCR; images ∧ avg_images>1 →
    hybrid; else text; avg_text>500 → has_tables). Page stats synthesized
    deterministically (same md5 formula both engines); the decision rules
    are the operator."""
    docs = load_table(spark, sf_dir, "documents")
    pages = (
        docs.select("doc_id", F.posexplode(F.split("text", " table ")).alias("page_no", "page_text"))
        .withColumn("page_text", F.trim("page_text"))
        .filter(F.col("page_no") < 5)
        .withColumn("text_len", F.length("page_text"))
        .withColumn(
            "n_images",
            (F.conv(F.substring(F.md5(F.col("page_text").cast("binary")), 1, 2), 16, 10).cast("int") % 4),
        )
    )
    stats = pages.groupBy("doc_id").agg(
        F.avg("text_len").alias("avg_text_raw"),
        F.avg("n_images").alias("avg_images_raw"),
        (F.max("n_images") > 0).alias("has_images"),
    )
    strategy = (
        F.when((F.col("avg_text_raw") < 100) & F.col("has_images"), "visual")
        .when(F.col("has_images") & (F.col("avg_images_raw") > 1), "hybrid")
        .otherwise("text")
    )
    return stats.select(
        "doc_id",
        F.round("avg_text_raw", 6).alias("avg_text"),
        F.round("avg_images_raw", 6).alias("avg_images"),
        "has_images",
        strategy.alias("strategy"),
        ((F.col("avg_text_raw") < 100) & F.col("has_images")).alias("requires_ocr"),
        (F.col("avg_text_raw") > 500).alias("has_tables"),
    )


@register(
    "g2_vision_combine",
    oracle="""
    WITH chans AS (
      SELECT doc_id,
             'media:' || substring(text, 1, 24) AS description,
             '[ocr:' || octet_length(encode(text)) || ' bytes]' AS ocr_text,
             substring(text, 1, 120) AS body_text
      FROM documents
    )
    SELECT doc_id,
           'Visual Description:' || chr(10) || description ||
             chr(10) || 'Extracted Text:' || chr(10) || ocr_text AS combined,
           body_text || chr(10) || chr(10) || ocr_text AS merged_text
    FROM chans
    """,
    tags=("G2", "A7", "J3"),
)
def g2_vision_combine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2's exact reference templates: the vision ``combined`` format
    ('Visual Description:\\n{desc}\\nExtracted Text:\\n{ocr}',
    vision_service.py:78-85) and the text+OCR channel merge
    (text + '\\n\\n' + ocr_text, process_embedding.py:313-315), over
    deterministic channel stand-ins."""
    docs = load_table(spark, sf_dir, "documents")
    description = F.concat(F.lit("media:"), F.substring("text", 1, 24))
    ocr_text = F.concat(
        F.lit("[ocr:"), F.octet_length(F.encode("text", "UTF-8")), F.lit(" bytes]")
    )
    body = F.substring("text", 1, 120)
    combined = F.concat(
        F.lit("Visual Description:\n"), description,
        F.lit("\nExtracted Text:\n"), ocr_text,
    )
    return docs.select(
        "doc_id",
        combined.alias("combined"),
        F.concat_ws("\n\n", body, ocr_text).alias("merged_text"),
    )


def _flaky_provider_factory():
    """Deterministic 'flaky endpoint' stand-in: embeds with the hashing
    default but permanently fails any text whose length % 97 == 0 — a
    data-dependent predicate both Spark and the DuckDB oracle can compute.
    Module-level (importable on executors) so it pickles by reference."""
    from frappe_data_pipelines_spark.operators.embed import HashingEmbedder
    from frappe_data_pipelines_spark.operators.providers import ProviderError

    inner = HashingEmbedder(dim=16)

    class FlakyProvider:
        batch_size = 50

        def embed(self, texts):
            for t in texts:
                if len(t) % 97 == 0:
                    raise ProviderError(f"unprocessable payload ({len(t)} chars)", retryable=False)
            return inner.embed(texts)

    return FlakyProvider()


def _flaky_captioner_factory():
    """Deterministic J3 'vision endpoint' stand-in: same ``describe``
    contract as providers.HTTPCaptioner, closed-form caption, permanent
    failure for any image whose byte length % 89 == 0 — a predicate both
    Spark and the DuckDB oracle compute. Module-level so it pickles by
    reference."""
    from frappe_data_pipelines_spark.operators.providers import ProviderError

    class FlakyCaptioner:
        def describe(self, payloads, mimes=None):
            out = []
            for p in payloads:
                if len(p) % 89 == 0:
                    raise ProviderError(
                        f"unprocessable image ({len(p)} bytes)", retryable=False
                    )
                out.append(f"vision: {len(p)} bytes")
            return out

    return FlakyCaptioner()


@register(
    "j3_caption_dead_letter_audit",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CASE WHEN octet_length(encode(text)) % 89 <> 0
                THEN 'vision: ' || octet_length(encode(text)) || ' bytes'
           END AS provider_caption,
           octet_length(encode(text)) % 89 = 0 AS dead
    FROM documents
    """,
    tags=("J3", "I3", "A7", "extension"),
)
def j3_caption_dead_letter_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 vision-provider dead-letter audit (VERDICT r5 #2: the caption seam
    now has the full J1 treatment — providers.HTTPCaptioner carries
    retry/rate-limit against a real endpoint, tests/test_provider_live_http.py
    smokes the live transport, and THIS query oracles the dead-letter
    semantics): ``decode_media_meta(caption_provider_factory=...)`` with a
    deterministic flaky captioner — failing rows keep the local caption and
    record caption_error (reference failure contract:
    vision_service.py:61-177 + process_embedding.py:69-81), never a task
    abort. The oracle reproduces the failure predicate and the caption in
    closed form."""
    from frappe_data_pipelines_spark.operators.multimodal import (
        decode_media_meta,
        documents_as_media,
    )

    docs = load_table(spark, sf_dir, "documents")
    out = decode_media_meta(
        documents_as_media(docs), caption_provider_factory=_flaky_captioner_factory
    )
    return out.select(
        "doc_id",
        "n_bytes",
        F.when(F.col("caption_error").isNull(), F.col("caption")).alias("provider_caption"),
        F.col("caption_error").isNotNull().alias("dead"),
    )


def _flaky_contextualizer():
    """Deterministic J2 provider with ``wants_text``: context built from the
    chunk text length, permanent failure when length % 83 == 0 — mirrors the
    reference's per-chunk LLM call + failure-to-empty-context contract
    (context_service.py:145-196)."""

    class FlakyContextualizer:
        wants_text = True

        def contextualize(self, doc_ids, chunk_indexes, totals, texts=None):
            out = []
            for d, i, n, t in zip(doc_ids, chunk_indexes, totals, texts):
                if len(t) % 83 == 0:
                    raise ValueError(f"context generation failed ({len(t)} chars)")
                out.append(f"Context for doc {d}: {len(t)} chars.")
            return out

    return FlakyContextualizer()


@register(
    "j2_provider_dead_letter_audit",
    oracle="""
    SELECT doc_id,
           CASE WHEN length(substring(text, 1, 200)) % 83 <> 0
                THEN 'Context for doc ' || doc_id || ': '
                     || length(substring(text, 1, 200)) || ' chars.'
                ELSE '' END AS context_prefix,
           length(substring(text, 1, 200)) % 83 = 0 AS dead,
           CASE WHEN length(substring(text, 1, 200)) % 83 <> 0
                THEN 'Context for doc ' || doc_id || ': '
                     || length(substring(text, 1, 200)) || ' chars.'
                     || chr(10) || chr(10) || substring(text, 1, 200)
                ELSE substring(text, 1, 200) END AS embedded_text
    FROM documents
    """,
    tags=("J2", "I3", "H16", "extension"),
)
def j2_provider_dead_letter_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 provider-path dead-letter audit: ``enrich_chunks`` through the
    ``wants_text`` provider seam (the same mapInPandas stage
    providers.HTTPContextualizer plugs into) with a deterministic flaky
    provider. Failing chunks get empty context (H16 then embeds the bare
    chunk) — the reference's failure contract
    (process_embedding.py:175-209). One synthetic chunk per document so the
    oracle states every output column in closed form."""
    from frappe_data_pipelines_spark.operators.enrich import enrich_chunks

    docs = load_table(spark, sf_dir, "documents")
    chunks = docs.select(
        "doc_id",
        F.lit(0).cast("int").alias("chunk_index"),
        F.lit(1).cast("int").alias("total_chunks"),
        F.substring("text", 1, 200).alias("chunk_text"),
    )
    out = enrich_chunks(chunks, provider=_flaky_contextualizer())
    return out.select(
        "doc_id",
        "context_prefix",
        F.col("enrich_error").isNotNull().alias("dead"),
        "embedded_text",
    )


@register(
    "provider_dead_letter_audit",
    oracle="""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN length(text) % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dead,
           CAST(SUM(CASE WHEN length(text) % 97 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_embedded
    FROM documents
    GROUP BY source ORDER BY source
    """,
    tags=("J1", "B4", "I2", "extension"),
)
def provider_dead_letter_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter embedding audit (J1/B4: provider failures become rows,
    not task aborts — reference marks the job Failed and the retry sweep
    re-enqueues it, process_embedding.py:60-90).

    Runs the real ``embed_with_dead_letter`` mapInPandas operator with a
    deterministic flaky provider (sub_batch=1 → row-grained dead letters),
    then audits per-source success/dead counts. The oracle reproduces the
    failure predicate in SQL; the embedding payload itself is checked by
    tests/test_providers.py."""
    from frappe_data_pipelines_spark.operators.providers import embed_with_dead_letter

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    out = embed_with_dead_letter(
        docs, text_col="text", provider_factory=_flaky_provider_factory, sub_batch=1
    )
    return (
        out.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.col("embed_error").isNotNull().cast("int")).cast("bigint").alias("n_dead"),
            F.sum(F.col("embedding").isNotNull().cast("int")).cast("bigint").alias("n_embedded"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# perceptual image hashing / pixel-level near-dup (beyond-reference
# training-pipeline surface; the pixel twin of dedup.py's MinHash-LSH)
# ---------------------------------------------------------------------------

# Closed-form dHash recompute shared by both image-hash oracles: the
# pattern corpus (operators/imagehash.py) is pure integer arithmetic in
# doc_id, so DuckDB rebuilds every 64-bit hash bit-for-bit — pinning the
# whole Spark path (real PNG encode → real PNG decode → area-average
# downsample → comparison bits → band join) end to end.
_DHASH_HASHES_CTE = """
    params AS (
      SELECT doc_id,
             97 + 2 * (((doc_id // 4) * 7) % 64) AS m,
             ((doc_id // 4) * 137) % 251         AS seed,
             (doc_id % 4) * 4                    AS off,
             1 + (doc_id % 2) * 3                AS scale
      FROM documents
    ),
    bits AS (
      SELECT p.doc_id, r.r, c.c,
             CASE WHEN (p.seed + (r.r * 16 + c.c + 1) * p.m + p.off) % 256
                     > (p.seed + (r.r * 16 + c.c) * p.m + p.off) % 256
                  THEN 1 ELSE 0 END AS bit
      FROM params p, range(8) r(r), range(8) c(c)
    ),
    hashes AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN r < 4
                           THEN bit * (1::BIGINT << ((r % 4) * 8 + c))
                           ELSE 0 END) AS BIGINT) AS dhash_hi,
             CAST(SUM(CASE WHEN r >= 4
                           THEN bit * (1::BIGINT << ((r % 4) * 8 + c))
                           ELSE 0 END) AS BIGINT) AS dhash_lo
      FROM bits GROUP BY doc_id
    )
"""


@register(
    "image_dhash_corpus",
    oracle="WITH " + _DHASH_HASHES_CTE + """
    SELECT p.doc_id,
           CAST(9 * p.scale AS INT) AS width,
           CAST(8 * p.scale AS INT) AS height,
           h.dhash_hi, h.dhash_lo
    FROM params p JOIN hashes h USING (doc_id)
    """,
    tags=("multimodal", "dedup", "A7"),
)
def image_dhash_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual dHash over a real-PNG corpus: every document becomes a
    genuine PNG container (zlib, filter chain) whose pixels are closed-form
    in doc_id, then the 64-bit difference hash is computed from the DECODED
    scanlines — so a single bit disagreeing anywhere in encode, decode,
    area-average, or luminance arithmetic fails the oracle. Beyond-reference
    surface (the reference's media path stops at decode+describe,
    fdp/services/vision_service.py); this is the image analogue of MinHash
    document signatures."""
    from frappe_data_pipelines_spark.operators.imagehash import (
        pattern_image_dhash,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return pattern_image_dhash(docs).select(
        "doc_id",
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        "dhash_hi",
        "dhash_lo",
    )


@register(
    "image_dhash_neardup",
    oracle="WITH " + _DHASH_HASHES_CTE + """,
    bands AS (
      SELECT doc_id, b.i AS band_idx,
             CASE b.i WHEN 0 THEN dhash_lo % 65536
                      WHEN 1 THEN dhash_lo // 65536
                      WHEN 2 THEN dhash_hi % 65536
                      ELSE dhash_hi // 65536 END AS band_val,
             dhash_hi, dhash_lo
      FROM hashes, range(4) b(i)
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
             x.dhash_hi AS hi_a, x.dhash_lo AS lo_a,
             y.dhash_hi AS hi_b, y.dhash_lo AS lo_b
      FROM bands x
      JOIN bands y
        ON x.band_idx = y.band_idx AND x.band_val = y.band_val
       AND x.doc_id < y.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b)) AS INT)
             AS hamming
    FROM cand
    WHERE bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b)) <= 6
    """,
    tags=("multimodal", "dedup", "C5"),
)
def image_dhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pixel-level near-duplicate pairs via banded dHash LSH: 4×16-bit
    bands → one bounded shuffle on band value → exact Hamming filter on
    the JVM (``bit_count(hi⊕hi)+bit_count(lo⊕lo)``) — no n² term anywhere,
    the Hamming-space analogue of MinHash-LSH banding. The oracle rebuilds
    hashes closed-form AND re-runs the banding contract in SQL, so both
    the recall rule (pair surfaced iff it agrees on ≥1 band) and the
    exactness rule (every surfaced pair's distance is true) are pinned."""
    from frappe_data_pipelines_spark.operators.imagehash import (
        banded_hamming_pairs,
        pattern_image_dhash,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    hashes = pattern_image_dhash(docs)
    return banded_hamming_pairs(hashes, max_hamming=6)


@register(
    "image_dhash_clusters",
    oracle="WITH RECURSIVE " + _DHASH_HASHES_CTE + """,
    bands AS (
      SELECT doc_id, b.i AS band_idx,
             CASE b.i WHEN 0 THEN dhash_lo % 65536
                      WHEN 1 THEN dhash_lo // 65536
                      WHEN 2 THEN dhash_hi % 65536
                      ELSE dhash_hi // 65536 END AS band_val,
             dhash_hi, dhash_lo
      FROM hashes, range(4) b(i)
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
             x.dhash_hi AS hi_a, x.dhash_lo AS lo_a,
             y.dhash_hi AS hi_b, y.dhash_lo AS lo_b
      FROM bands x
      JOIN bands y
        ON x.band_idx = y.band_idx AND x.band_val = y.band_val
       AND x.doc_id < y.doc_id
    ),
    pairs AS (
      SELECT doc_a, doc_b FROM cand
      WHERE bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b)) <= 6
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    )
    SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
    FROM reach GROUP BY src
    """,
    tags=("multimodal", "dedup", "scale-path"),
)
def image_dhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The image-dedup END PRODUCT: near-dup PAIRS become duplicate
    CLUSTERS via alternating large-star/small-star contraction (Kiveris
    et al., SoCC'14 — O(log n) shuffle rounds on any pair topology), so a
    keep-list is one ``cluster_id = doc_id`` filter away. Same component
    algorithm the text path uses (``dedup_star_clusters``) — pairs from
    pixels, clusters from the identical relational machinery; the oracle
    rebuilds hashes closed-form, re-runs the banding contract AND the
    transitive closure in SQL."""
    from frappe_data_pipelines_spark.operators.dedup import connected_components_star
    from frappe_data_pipelines_spark.operators.imagehash import (
        banded_hamming_pairs,
        pattern_image_dhash,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    hashes = pattern_image_dhash(docs)
    pairs = banded_hamming_pairs(hashes, max_hamming=6).select(
        F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b")
    )
    return connected_components_star(pairs)


# ---------------------------------------------------------------------------
# audio fingerprint / near-dup (operators/multimodal.py:audio_fingerprint)
# — the audio member of the perceptual-dedup trifecta
# ---------------------------------------------------------------------------

# Closed-form fingerprint recompute shared by both audio oracles: PCM
# samples, frame energies, roughness, and comparison bits are all integer
# arithmetic in doc_id, so DuckDB rebuilds each 64-bit fingerprint exactly
# — pinning WAV encode → RIFF parse → framing → feature → hash end to end.
_AUDIO_FP_CTE = """
    params AS (
      SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS v FROM documents
    ),
    smp AS (
      SELECT doc_id, i.i AS i, i.i // 64 AS f,
             (((i.i + g * 1009) * 2654435761) % 4294967296 // 16777216
              + CASE WHEN ((i.i * 40503 + g) % 997) < v * 2
                     THEN 61 ELSE 0 END) % 256 AS s
      FROM params, range(2112) i(i)
    ),
    smp2 AS (
      SELECT doc_id, i, f, s,
             lag(s) OVER (PARTITION BY doc_id ORDER BY i) AS prev_s
      FROM smp
    ),
    feat AS (
      SELECT doc_id, f,
             SUM(abs(s - 128)) AS e,
             SUM(CASE WHEN i % 2 = 1 THEN abs(s - prev_s) ELSE 0 END) AS dr
      FROM smp2 GROUP BY doc_id, f
    ),
    bits AS (
      SELECT doc_id, f,
             CASE WHEN lead(e) OVER w > e THEN 1 ELSE 0 END AS be,
             CASE WHEN lead(dr) OVER w > dr THEN 1 ELSE 0 END AS bd
      FROM feat
      WINDOW w AS (PARTITION BY doc_id ORDER BY f)
    ),
    fps AS (
      SELECT doc_id,
             CAST(SUM(be * (1::BIGINT << f)) AS BIGINT) AS fp_hi,
             CAST(SUM(bd * (1::BIGINT << f)) AS BIGINT) AS fp_lo
      FROM bits WHERE f < 32 GROUP BY doc_id
    )
"""


@register(
    "audio_fingerprint_corpus",
    oracle="WITH " + _AUDIO_FP_CTE + """
    SELECT doc_id, CAST(2112 AS BIGINT) AS n_samples, fp_hi, fp_lo
    FROM fps
    """,
    tags=("multimodal", "dedup", "A7"),
)
def audio_fingerprint_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual audio fingerprints over a real-WAV corpus: every
    document becomes a genuine RIFF container whose 8-bit PCM is
    closed-form in doc_id; the 64-bit fingerprint (32 frame-energy bits +
    32 frame-roughness bits, adjacent-frame comparisons per chromaprint's
    gain-invariance move) is computed from the DECODED samples — one bit
    disagreeing anywhere in WAV write, wave parse, framing, or feature
    arithmetic fails the oracle."""
    from frappe_data_pipelines_spark.operators.multimodal import (
        pattern_audio_fingerprint,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return pattern_audio_fingerprint(docs).select("doc_id", "n_samples", "fp_hi", "fp_lo")


@register(
    "audio_fingerprint_neardup",
    oracle="WITH " + _AUDIO_FP_CTE + """,
    bands AS (
      SELECT doc_id, b.i AS band_idx,
             CASE b.i WHEN 0 THEN fp_lo % 65536
                      WHEN 1 THEN fp_lo // 65536
                      WHEN 2 THEN fp_hi % 65536
                      ELSE fp_hi // 65536 END AS band_val,
             fp_hi, fp_lo
      FROM fps, range(4) b(i)
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
             x.fp_hi AS hi_a, x.fp_lo AS lo_a,
             y.fp_hi AS hi_b, y.fp_lo AS lo_b
      FROM bands x
      JOIN bands y
        ON x.band_idx = y.band_idx AND x.band_val = y.band_val
       AND x.doc_id < y.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b)) AS INT)
             AS hamming
    FROM cand
    WHERE bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b)) <= 6
    """,
    tags=("multimodal", "dedup", "C5"),
)
def audio_fingerprint_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-duplicate pairs: the fingerprints ride the SAME
    modality-agnostic banded-Hamming join the image dHash uses
    (``imagehash.banded_hamming_pairs`` — one bounded shuffle on 16-bit
    band values, exact JVM bit_count filter, no n² term). The oracle
    rebuilds fingerprints closed-form AND re-runs the banding contract in
    SQL. Completes the perceptual-dedup trifecta: text MinHash-LSH,
    image dHash, audio energy fingerprint — three modalities, one join."""
    from frappe_data_pipelines_spark.operators.imagehash import (
        banded_hamming_pairs,
    )
    from frappe_data_pipelines_spark.operators.multimodal import (
        pattern_audio_fingerprint,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    fps = pattern_audio_fingerprint(docs)
    return banded_hamming_pairs(
        fps, max_hamming=6, hi_col="fp_hi", lo_col="fp_lo"
    )


# ---------------------------------------------------------------------------
# video near-dup (operators/imagehash.py video section) — the fourth
# modality: per-frame dHash over real DIB-coded AVI containers
# ---------------------------------------------------------------------------

# Closed-form per-frame dHash recompute: pix(r,c,t) adds a +53·t frame
# drift to the image pattern family, so every frame hash is integer
# arithmetic in (doc_id, frame_idx).
_VIDEO_HASHES_CTE = """
    params AS (
      SELECT doc_id,
             97 + 2 * (((doc_id // 4) * 7) % 64) AS m,
             ((doc_id // 4) * 137) % 251         AS seed,
             (doc_id % 4) * 4                    AS off
      FROM documents
    ),
    bits AS (
      SELECT p.doc_id, t.t AS t, r.r, c.c,
             CASE WHEN (p.seed + (r.r * 16 + c.c + 1) * p.m + t.t * 53 + p.off) % 256
                     > (p.seed + (r.r * 16 + c.c) * p.m + t.t * 53 + p.off) % 256
                  THEN 1 ELSE 0 END AS bit
      FROM params p, range(8) t(t), range(8) r(r), range(8) c(c)
    ),
    vhashes AS (
      SELECT doc_id, t AS frame_idx,
             CAST(SUM(CASE WHEN r < 4
                           THEN bit * (1::BIGINT << ((r % 4) * 8 + c))
                           ELSE 0 END) AS BIGINT) AS dhash_hi,
             CAST(SUM(CASE WHEN r >= 4
                           THEN bit * (1::BIGINT << ((r % 4) * 8 + c))
                           ELSE 0 END) AS BIGINT) AS dhash_lo
      FROM bits GROUP BY doc_id, t
    )
"""


@register(
    "video_dhash_corpus",
    oracle="WITH " + _VIDEO_HASHES_CTE + """
    SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx, dhash_hi, dhash_lo
    FROM vhashes
    """,
    tags=("multimodal", "dedup", "A7"),
)
def video_dhash_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-frame perceptual hashes over a real-video corpus: every document
    becomes a genuine RIFF/AVI container with 8 uncompressed DIB frames
    (the lossless profile — MJPEG's DCT quantization can't round-trip
    closed-form), walked by the real container parser and hashed from
    decoded scanlines. One row per (video, frame); a single bit wrong
    anywhere in container write, chunk walk, DIB decode, or the hash
    arithmetic fails the oracle."""
    from frappe_data_pipelines_spark.operators.imagehash import (
        pattern_video_frame_dhash,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return pattern_video_frame_dhash(docs).select(
        "doc_id", "frame_idx", "dhash_hi", "dhash_lo"
    )


@register(
    "video_dhash_neardup",
    oracle="WITH " + _VIDEO_HASHES_CTE + """,
    bands AS (
      SELECT doc_id, frame_idx, b.i AS band_idx,
             CASE b.i WHEN 0 THEN dhash_lo % 65536
                      WHEN 1 THEN dhash_lo // 65536
                      WHEN 2 THEN dhash_hi % 65536
                      ELSE dhash_hi // 65536 END AS band_val,
             dhash_hi, dhash_lo
      FROM vhashes, range(4) b(i)
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b, x.frame_idx,
             x.dhash_hi AS hi_a, x.dhash_lo AS lo_a,
             y.dhash_hi AS hi_b, y.dhash_lo AS lo_b
      FROM bands x
      JOIN bands y
        ON x.frame_idx = y.frame_idx
       AND x.band_idx = y.band_idx AND x.band_val = y.band_val
       AND x.doc_id < y.doc_id
    )
    SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS n_close_frames
    FROM cand
    WHERE bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b)) <= 6
    GROUP BY doc_a, doc_b
    HAVING count(*) >= 6
    """,
    tags=("multimodal", "dedup", "C5"),
)
def video_dhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-duplicate pairs: the banded-Hamming join keyed by
    (frame_idx, band, value) — FRAME-ALIGNED, two videos only pair through
    the same temporal position — then one aggregation keeps pairs with ≥6
    of 8 close frames. Completes the four-modality perceptual-dedup set
    (text MinHash, image dHash, audio energy fingerprint, video frame
    sequence), all on the same banding machinery; the oracle re-runs the
    full contract in SQL."""
    from frappe_data_pipelines_spark.operators.imagehash import (
        pattern_video_frame_dhash,
        video_neardup_pairs,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    fh = pattern_video_frame_dhash(docs)
    return video_neardup_pairs(fh, max_hamming=6, min_close_frames=6)


@register(
    "audio_fingerprint_incremental",
    oracle="""
    WITH both_params AS (
      SELECT 'c' AS side, doc_id, doc_id // 4 AS g, doc_id % 4 AS v
      FROM documents
      UNION ALL
      SELECT 'n', doc_id, doc_id // 4, doc_id % 4 + 1
      FROM documents WHERE doc_id % 20 = 3
    ), smp AS (
      SELECT side, doc_id, i.i AS i, i.i // 64 AS f,
             (((i.i + g * 1009) * 2654435761) % 4294967296 // 16777216
              + CASE WHEN ((i.i * 40503 + g) % 997) < v * 2
                     THEN 61 ELSE 0 END) % 256 AS s
      FROM both_params, range(2112) i(i)
    ), smp2 AS (
      SELECT side, doc_id, i, f, s,
             lag(s) OVER (PARTITION BY side, doc_id ORDER BY i) AS prev_s
      FROM smp
    ), feat AS (
      SELECT side, doc_id, f,
             SUM(abs(s - 128)) AS e,
             SUM(CASE WHEN i % 2 = 1 THEN abs(s - prev_s) ELSE 0 END) AS dr
      FROM smp2 GROUP BY side, doc_id, f
    ), bits AS (
      SELECT side, doc_id, f,
             CASE WHEN lead(e) OVER w > e THEN 1 ELSE 0 END AS be,
             CASE WHEN lead(dr) OVER w > dr THEN 1 ELSE 0 END AS bd
      FROM feat
      WINDOW w AS (PARTITION BY side, doc_id ORDER BY f)
    ), fps AS (
      SELECT side, doc_id,
             CAST(SUM(be * (1::BIGINT << f)) AS BIGINT) AS fp_hi,
             CAST(SUM(bd * (1::BIGINT << f)) AS BIGINT) AS fp_lo
      FROM bits WHERE f < 32 GROUP BY side, doc_id
    ), nbands AS (
      SELECT doc_id, b.i AS band_idx,
             CASE b.i WHEN 0 THEN fp_lo % 65536
                      WHEN 1 THEN fp_lo // 65536
                      WHEN 2 THEN fp_hi % 65536
                      ELSE fp_hi // 65536 END AS band_val,
             fp_hi, fp_lo
      FROM fps, range(4) b(i) WHERE side = 'n'
    ), cbands AS (
      SELECT doc_id, b.i AS band_idx,
             CASE b.i WHEN 0 THEN fp_lo % 65536
                      WHEN 1 THEN fp_lo // 65536
                      WHEN 2 THEN fp_hi % 65536
                      ELSE fp_hi // 65536 END AS band_val,
             fp_hi, fp_lo
      FROM fps, range(4) b(i) WHERE side = 'c'
    ), cand AS (
      SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id,
             n.fp_hi AS nhi, n.fp_lo AS nlo, c.fp_hi AS chi, c.fp_lo AS clo
      FROM nbands n JOIN cbands c
        ON n.band_idx = c.band_idx AND n.band_val = c.band_val
    )
    SELECT new_id, corpus_id,
           CAST(bit_count(xor(nhi, chi)) + bit_count(xor(nlo, clo)) AS INT)
             AS hamming
    FROM cand
    WHERE bit_count(xor(nhi, chi)) + bit_count(xor(nlo, clo)) <= 6
    """,
    tags=("multimodal", "dedup", "I1", "extension"),
)
def audio_fingerprint_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL audio dedup at the ingest door — the audio member of
    the incremental family (doc-level Bloom, SimHash text, image dHash,
    span-level exact-substring): a re-upload batch (every 20th document
    re-synthesized at the next variant index, the deterministic stand-in
    for a re-encode) is fingerprinted through the REAL WAV kernel and
    banded against the existing corpus fingerprints via the same
    asymmetric broadcast join the image path uses — new band rows
    broadcast, corpus pays one scan, no corpus shuffle. The oracle
    rebuilds both fingerprint sets closed-form and re-runs the banding
    contract; every re-upload must rediscover its original within the
    re-encode Hamming budget."""
    from frappe_data_pipelines_spark.operators.imagehash import banded_hamming_join
    from frappe_data_pipelines_spark.operators.multimodal import (
        pattern_audio_fingerprint,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    corpus = pattern_audio_fingerprint(docs)
    new_batch = pattern_audio_fingerprint(
        docs.filter(F.col("doc_id") % 20 == 3), extra_v=1
    )
    return banded_hamming_join(
        new_batch, corpus, max_hamming=6, hi_col="fp_hi", lo_col="fp_lo"
    )


@register(
    "video_dhash_incremental",
    oracle="""
    WITH both_params AS (
      SELECT 'c' AS side, doc_id,
             97 + 2 * (((doc_id // 4) * 7) % 64) AS m,
             ((doc_id // 4) * 137) % 251         AS seed,
             (doc_id % 4) * 4                    AS off
      FROM documents
      UNION ALL
      SELECT 'n', doc_id,
             97 + 2 * (((doc_id // 4) * 7) % 64),
             ((doc_id // 4) * 137) % 251,
             (doc_id % 4) * 4 + 2
      FROM documents WHERE doc_id % 20 = 3
    ), bits AS (
      SELECT p.side, p.doc_id, t.t AS t, r.r, c.c,
             CASE WHEN (p.seed + (r.r * 16 + c.c + 1) * p.m + t.t * 53 + p.off) % 256
                     > (p.seed + (r.r * 16 + c.c) * p.m + t.t * 53 + p.off) % 256
                  THEN 1 ELSE 0 END AS bit
      FROM both_params p, range(8) t(t), range(8) r(r), range(8) c(c)
    ), vhashes AS (
      SELECT side, doc_id, t AS frame_idx,
             CAST(SUM(CASE WHEN r < 4
                           THEN bit * (1::BIGINT << ((r % 4) * 8 + c))
                           ELSE 0 END) AS BIGINT) AS dhash_hi,
             CAST(SUM(CASE WHEN r >= 4
                           THEN bit * (1::BIGINT << ((r % 4) * 8 + c))
                           ELSE 0 END) AS BIGINT) AS dhash_lo
      FROM bits GROUP BY side, doc_id, t
    ), nbands AS (
      SELECT doc_id, frame_idx, b.i AS band_idx,
             CASE b.i WHEN 0 THEN dhash_lo % 65536
                      WHEN 1 THEN dhash_lo // 65536
                      WHEN 2 THEN dhash_hi % 65536
                      ELSE dhash_hi // 65536 END AS band_val,
             dhash_hi, dhash_lo
      FROM vhashes, range(4) b(i) WHERE side = 'n'
    ), cbands AS (
      SELECT doc_id, frame_idx, b.i AS band_idx,
             CASE b.i WHEN 0 THEN dhash_lo % 65536
                      WHEN 1 THEN dhash_lo // 65536
                      WHEN 2 THEN dhash_hi % 65536
                      ELSE dhash_hi // 65536 END AS band_val,
             dhash_hi, dhash_lo
      FROM vhashes, range(4) b(i) WHERE side = 'c'
    ), cand AS (
      SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id, n.frame_idx,
             n.dhash_hi AS nhi, n.dhash_lo AS nlo,
             c.dhash_hi AS chi, c.dhash_lo AS clo
      FROM nbands n JOIN cbands c
        ON n.frame_idx = c.frame_idx
       AND n.band_idx = c.band_idx AND n.band_val = c.band_val
    )
    SELECT new_id, corpus_id, CAST(count(*) AS BIGINT) AS n_close_frames
    FROM cand
    WHERE bit_count(xor(nhi, chi)) + bit_count(xor(nlo, clo)) <= 6
    GROUP BY new_id, corpus_id
    HAVING count(*) >= 6
    """,
    tags=("multimodal", "dedup", "I1", "extension"),
)
def video_dhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL video dedup at the ingest door — completes the
    incremental set across all four perceptual modalities (text SimHash,
    image dHash, audio fingerprint, video frame sequence): every 20th
    document re-rendered with a +2 brightness shift (the re-encode
    stand-in) is frame-hashed through the real AVI/DIB walk and matched
    frame-aligned against the standing corpus — new (frame, band) rows
    broadcast, corpus pays one scan, >= 6 of 8 frames within Hamming 6.
    The oracle rebuilds both hash sets closed-form and re-runs the
    asymmetric frame-aligned contract in SQL."""
    from frappe_data_pipelines_spark.operators.imagehash import (
        pattern_video_frame_dhash,
        video_neardup_join,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    corpus = pattern_video_frame_dhash(docs)
    new_batch = pattern_video_frame_dhash(
        docs.filter(F.col("doc_id") % 20 == 3), extra_off=2
    )
    return video_neardup_join(
        new_batch, corpus, max_hamming=6, min_close_frames=6
    )


@register(
    "image_dhash_incremental",
    oracle="""
    WITH corpus_params AS (
      SELECT doc_id,
             97 + 2 * (((doc_id // 4) * 7) % 64) AS m,
             ((doc_id // 4) * 137) % 251         AS seed,
             (doc_id % 4) * 4                    AS off
      FROM documents
    ),
    new_params AS (
      SELECT doc_id,
             97 + 2 * (((doc_id // 4) * 7) % 64) AS m,
             ((doc_id // 4) * 137) % 251         AS seed,
             (doc_id % 4) * 4 + 2                AS off
      FROM documents WHERE doc_id % 20 = 3
    ),
    cbits AS (
      SELECT p.doc_id, r.r, c.c,
             CASE WHEN (p.seed + (r.r * 16 + c.c + 1) * p.m + p.off) % 256
                     > (p.seed + (r.r * 16 + c.c) * p.m + p.off) % 256
                  THEN 1 ELSE 0 END AS bit
      FROM corpus_params p, range(8) r(r), range(8) c(c)
    ),
    nbits AS (
      SELECT p.doc_id, r.r, c.c,
             CASE WHEN (p.seed + (r.r * 16 + c.c + 1) * p.m + p.off) % 256
                     > (p.seed + (r.r * 16 + c.c) * p.m + p.off) % 256
                  THEN 1 ELSE 0 END AS bit
      FROM new_params p, range(8) r(r), range(8) c(c)
    ),
    chashes AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN r < 4 THEN bit * (1::BIGINT << ((r % 4) * 8 + c)) ELSE 0 END) AS BIGINT) AS hi,
             CAST(SUM(CASE WHEN r >= 4 THEN bit * (1::BIGINT << ((r % 4) * 8 + c)) ELSE 0 END) AS BIGINT) AS lo
      FROM cbits GROUP BY doc_id
    ),
    nhashes AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN r < 4 THEN bit * (1::BIGINT << ((r % 4) * 8 + c)) ELSE 0 END) AS BIGINT) AS hi,
             CAST(SUM(CASE WHEN r >= 4 THEN bit * (1::BIGINT << ((r % 4) * 8 + c)) ELSE 0 END) AS BIGINT) AS lo
      FROM nbits GROUP BY doc_id
    ),
    cbands AS (
      SELECT doc_id, hi, lo, b.i AS band_idx,
             CASE b.i WHEN 0 THEN lo % 65536 WHEN 1 THEN lo // 65536
                      WHEN 2 THEN hi % 65536 ELSE hi // 65536 END AS band_val
      FROM chashes, range(4) b(i)
    ),
    nbands AS (
      SELECT doc_id, hi, lo, b.i AS band_idx,
             CASE b.i WHEN 0 THEN lo % 65536 WHEN 1 THEN lo // 65536
                      WHEN 2 THEN hi % 65536 ELSE hi // 65536 END AS band_val
      FROM nhashes, range(4) b(i)
    ),
    cand AS (
      SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id,
             n.hi AS nhi, n.lo AS nlo, c.hi AS chi, c.lo AS clo
      FROM nbands n JOIN cbands c
        ON n.band_idx = c.band_idx AND n.band_val = c.band_val
    )
    SELECT new_id, corpus_id,
           CAST(bit_count(xor(nhi, chi)) + bit_count(xor(nlo, clo)) AS INT)
             AS hamming
    FROM cand
    WHERE bit_count(xor(nhi, chi)) + bit_count(xor(nlo, clo)) <= 6
    """,
    tags=("multimodal", "dedup", "I1", "extension"),
)
def image_dhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL image dedup at the ingest door (the image analogue of
    the incremental SimHash path): a re-crawl batch — every 20th document
    re-rendered with a +2 brightness shift, the deterministic stand-in
    for a re-encode — is hashed and banded against the EXISTING corpus
    hashes. The new batch's band rows broadcast, so the corpus pays one
    scan with a map-side probe and NO corpus shuffle: runnable per
    micro-batch, which is the point. The oracle rebuilds both hash sets
    closed-form and re-runs the asymmetric banding contract in SQL;
    every new image must rediscover its own original (small re-encode
    Hamming) plus any near-dup group siblings."""
    from frappe_data_pipelines_spark.operators.imagehash import (
        banded_hamming_join,
        pattern_image_dhash,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    corpus = pattern_image_dhash(docs)
    new_batch = pattern_image_dhash(
        docs.filter(F.col("doc_id") % 20 == 3), extra_off=2
    )
    return banded_hamming_join(new_batch, corpus, max_hamming=6)


@register(
    "training_shard_manifest",
    oracle="""
    WITH a AS (
      SELECT CAST(CAST(('0x' || substring(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 16 AS INT) AS shard,
             doc_id,
             strlen(coalesce(text, '')) AS b,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':' || coalesce(text, '')), 1, 15))
                  AS BIGINT) AS dig
      FROM documents
    )
    SELECT shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(b) AS BIGINT) AS n_bytes,
           min(doc_id) AS min_doc_id,
           max(doc_id) AS max_doc_id,
           bit_xor(dig) AS content_digest
    FROM a GROUP BY shard
    """,
    tags=("sink", "extension", "scale-path"),
)
def training_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-export accounting (sources/shards.py): the deterministic
    md5-bucketed shard assignment every engine can re-derive, with per-shard
    row count, utf-8 byte count, id range, and an ORDER-INDEPENDENT content
    digest (bit_xor of 60-bit md5 prefixes) — the manifest a training job
    checks before trusting an exported corpus. One narrow projection + one
    16-row groupBy; the oracle recomputes assignment, sizes, and digest from
    scratch, so a single lost/duplicated/bit-flipped doc flips its shard's
    digest row. The write/read/verify path is exercised in
    tests/test_shards.py."""
    from frappe_data_pipelines_spark.sources.shards import shard_manifest

    docs = load_table(spark, sf_dir, "documents")
    return shard_manifest(docs, n_shards=16)
