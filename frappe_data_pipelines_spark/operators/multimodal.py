"""Multimodal column operators — image/audio/video as opaque ``binary``
columns with typed metadata (SURVEY §2.A A7/A8/J3 restated for Spark).

``decode_media_meta(real=True)`` runs REAL stdlib decoders for the formats
they can fully parse — PNG (complete codec: zlib inflate + all five
scanline filters, ``operators/imaging.py``), GIF (block walk incl. frame
count), JPEG (SOF dimensions) — and falls back to the deterministic
md5-seeded fake for anything else (audio/video codecs are not in this
container). The default ``real=False`` keeps the fake everywhere so
synthetic-corpus oracles stay stable. Either way the Spark-side plumbing —
binary schema, Arrow batch shape, ``mapInPandas`` signature, partitioning —
is identical.

Reference parity: A7 image scan via vision (text_extraction.py:108-122), J3
vision description (vision_service.py:61-177) — both are "binary column in,
struct of metadata/description out" operators, exactly this shape.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from frappe_data_pipelines_spark.operators import kernel

MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("mime", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("caption", T.StringType()),
    ]
)


def _fake_decode(payload: bytes) -> tuple[int, int, int, str]:
    """Deterministic stand-in for a real decoder: dims/frames derived from a
    hash of the bytes; caption from the leading bytes."""
    h = hashlib.md5(payload).digest()
    width = 320 + h[0] % 8 * 160
    height = 240 + h[1] % 8 * 120
    n_frames = 1 + h[2] % 4
    caption = "media:" + payload[:24].decode("utf-8", errors="replace")
    return width, height, n_frames, caption


def _real_decode(payload: bytes) -> tuple[int, int, int, str]:
    """Magic-sniffed real decode: PNG (full pixel decode), GIF (block walk),
    JPEG (SOF scan), BMP (header+pixels), WebP (VP8/VP8L/VP8X header),
    TIFF (first IFD) — every image format the reference dispatch routes
    (text_extraction.py:13-27) — plus JPEG 2000 (JP2 box or raw
    codestream, full pixel decode via operators/jp2mini). Raises
    ValueError for anything else — the caller falls back to the
    deterministic fake."""
    from frappe_data_pipelines_spark.operators.imaging import (
        bmp_decode,
        gif_meta,
        jpeg_meta,
        png_decode,
        tiff_meta,
        webp_meta,
    )

    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        w, h, channels, _rows = png_decode(payload)
        kind = {1: "gray", 2: "gray+alpha", 3: "rgb", 4: "rgba"}[channels]
        return w, h, 1, f"image/png {w}x{h} {kind}"
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        w, h, n = gif_meta(payload)
        return w, h, n, f"image/gif {w}x{h} {n} frame(s)"
    if payload[:2] == b"\xff\xd8":
        w, h = jpeg_meta(payload)
        return w, h, 1, f"image/jpeg {w}x{h}"
    if payload[:2] == b"BM":
        w, h, _rows = bmp_decode(payload)
        return w, h, 1, f"image/bmp {w}x{h}"
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        w, h = webp_meta(payload)
        return w, h, 1, f"image/webp {w}x{h}"
    if payload[:4] in (b"II\x2a\x00", b"MM\x00\x2a"):
        w, h = tiff_meta(payload)
        return w, h, 1, f"image/tiff {w}x{h}"
    if payload[:8] == b"\x00\x00\x00\x0cjP  " or payload[:4] == b"\xff\x4f\xff\x51":
        from frappe_data_pipelines_spark.operators.jp2mini import jp2_decode

        w, h, comps = jp2_decode(payload)
        kind = {1: "gray", 3: "rgb"}.get(len(comps), f"{len(comps)}comp")
        # third slot is the FRAME count (a still image is 1 frame); the
        # component count rides in the caption like PNG's channel kind
        return w, h, 1, f"image/jp2 {w}x{h} {kind}"
    raise ValueError("no stdlib decoder for this payload")


def decode_media_meta(
    df: DataFrame,
    id_col: str = "doc_id",
    bin_col: str = "content",
    mime_col: str = "mime",
    real: bool = False,
    caption_provider_factory=None,
) -> DataFrame:
    """binary column → typed metadata struct rows via Arrow-batched
    ``mapInPandas``. One pass, shuffle-free; heavier decoders (video/audio)
    would be constructed once per executor task in the generator prologue
    (the lazy-singleton pattern).

    ``caption_provider_factory`` is the J3 vision-LLM seam (reference:
    vision_service.py:61-177): a zero-arg callable built per executor
    returning an object with ``describe(payloads, mimes) -> list[str]`` —
    e.g. ``providers.HTTPCaptioner`` bound to a real endpoint. When set, the
    caption comes from the provider with I3 dead-letter semantics (a failing
    image yields the local decode caption + ``caption_error``, never a task
    abort) and the output schema gains a ``caption_error`` column. Default
    ``None`` keeps the deterministic local caption and the exact
    MEDIA_META_SCHEMA."""
    narrow = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(bin_col).alias("content"),
        F.col(mime_col).alias("mime"),
    )
    schema = MEDIA_META_SCHEMA
    if caption_provider_factory is not None:
        schema = T.StructType(
            MEDIA_META_SCHEMA.fields + [T.StructField("caption_error", T.StringType())]
        )

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        prov = caption_provider_factory() if caption_provider_factory is not None else None
        for pdf in batches:
            out = {k: [] for k in schema.fieldNames()}
            for doc_id, content, mime in zip(pdf["doc_id"], pdf["content"], pdf["mime"]):
                payload = bytes(content) if content is not None else b""
                if real:
                    try:
                        w, h, nf, cap = _real_decode(payload)
                    except Exception:  # noqa: BLE001 — no decoder: keep total
                        w, h, nf, cap = _fake_decode(payload)
                else:
                    w, h, nf, cap = _fake_decode(payload)
                cap_err = None
                if prov is not None:
                    try:
                        cap = prov.describe([payload], [mime])[0]
                    except Exception as e:  # noqa: BLE001 — dead-letter row
                        cap_err = str(e)[:500]
                out["doc_id"].append(doc_id)
                out["mime"].append(mime)
                out["n_bytes"].append(len(payload))
                out["width"].append(w)
                out["height"].append(h)
                out["n_frames"].append(nf)
                out["caption"].append(cap)
                if prov is not None:
                    out["caption_error"].append(cap_err)
            yield pd.DataFrame(out)

    return kernel.map_batches(narrow, run, schema)


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Adapter for the testdata: treat each document's text bytes as an
    opaque media payload with a mime column — stands in for
    ``spark.read.format('binaryFile')`` which would produce the same
    (path, content BINARY) shape from real media files."""
    return docs.select(
        "doc_id",
        F.encode(F.col("text"), "UTF-8").alias("content"),
        F.lit("application/octet-stream").alias("mime"),
    )


def synth_wav(doc_id: int, sample_rate: int = 8000) -> bytes:
    """Deterministic REAL WAV bytes (RIFF + 8-bit unsigned mono PCM) from a
    doc id: n = 400 + (doc_id % 5) * 100 samples with the integer pattern
    samples[i] = (i * (doc_id % 7 + 1)) % 256 — trig-free so both Spark and
    the DuckDB oracle reproduce every sample exactly."""
    import io
    import wave

    step = doc_id % 7 + 1
    n = 400 + (doc_id % 5) * 100
    frames = bytes((i * step) % 256 for i in range(n))
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)
        w.setframerate(sample_rate)
        w.writeframes(frames)
    return buf.getvalue()


_MEDIA_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("content", T.BinaryType()),
])


def _synth_media(docs: DataFrame, id_col: str, row, schema=_MEDIA_SCHEMA) -> DataFrame:
    """``row(doc_id)`` over the docs' ids, spread round-robin across the
    cluster first (a small parquet arrives as one split and the per-row
    synthesis is the workload). Every synthetic-media generator
    (``row`` emits ``(doc_id, content)``) and every fused ``pattern_*``
    hash (``row`` is its composition's row kernel over the synthesized
    bytes) runs through here."""
    par = docs.sparkSession.sparkContext.defaultParallelism
    ids = docs.select(F.col(id_col).cast("long").alias("doc_id")).repartition(par)
    return kernel.map_rows(ids, row, schema)


def documents_as_wav(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, content BINARY) of synthetic-but-REAL WAV files — the audio
    twin of ``documents_as_files``: real RIFF containers the ``wave``-module
    kernel must actually parse."""
    return _synth_media(docs, id_col, lambda d: [(d, synth_wav(int(d)))])


AUDIO_FEATURES_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("sample_rate", T.IntegerType()),
    T.StructField("n_channels", T.IntegerType()),
    T.StructField("n_samples", T.LongType()),
    T.StructField("duration_ms", T.LongType()),
    T.StructField("peak", T.IntegerType()),
    T.StructField("rms", T.DoubleType()),
    T.StructField("zero_crossings", T.LongType()),
    T.StructField("audio_error", T.StringType()),
])


def audio_features(
    df: DataFrame, id_col: str = "doc_id", bin_col: str = "content"
) -> DataFrame:
    """REAL audio feature extraction over WAV binary columns: stdlib
    ``wave`` parses the RIFF container on the executors; numpy computes
    peak / RMS / zero-crossing rate over the centered samples. The A7
    shape for audio — binary column in, typed feature struct out, one
    Arrow-batched shuffle-free pass.

    8-bit unsigned and 16-bit signed PCM are decoded (multi-channel takes
    channel 0 — the deterministic convention, not a silent mixdown); RMS
    uses exact integer sum-of-squares before one rounded sqrt, so the same
    numbers fall out of integer SQL (the ``multimodal_audio_features``
    oracle). A malformed container dead-letters its row into
    ``audio_error`` (I3 semantics) instead of failing the task."""
    import wave

    import numpy as np

    def one(payload: bytes):
        import io

        with wave.open(io.BytesIO(payload), "rb") as w:
            sr = w.getframerate()
            nch = w.getnchannels()
            width = w.getsampwidth()
            n = w.getnframes()
            frames = w.readframes(n)
        if width == 1:
            c = np.frombuffer(frames, dtype=np.uint8).astype(np.int64) - 128
        elif width == 2:
            c = np.frombuffer(frames, dtype="<i2").astype(np.int64)
        else:
            raise ValueError(f"unsupported PCM sample width {width}")
        if nch > 1:
            c = c[::nch]  # channel 0
        if sr <= 0:
            raise ValueError("non-positive sample rate")
        peak = int(np.abs(c).max()) if len(c) else 0
        rms = round(float(np.sqrt((c * c).sum() / len(c))), 6) if len(c) else 0.0
        zc = int(((c[:-1] * c[1:]) < 0).sum()) if len(c) > 1 else 0
        return sr, nch, n, n * 1000 // sr, peak, rms, zc

    def row(doc_id, content):
        try:
            return [(doc_id, *one(bytes(content) if content is not None else b""), None)]
        except Exception as e:  # noqa: BLE001 — dead-letter the row
            return [(doc_id,) + (None,) * 7 + (str(e)[:500],)]

    return kernel.map_rows(df, row, AUDIO_FEATURES_SCHEMA, [id_col, bin_col])


def _synth_video_frames(doc_id: int) -> tuple[list[bytes], int, int]:
    """Deterministic MJPEG frames for a doc: 1 + doc_id % 3 grayscale 16x8
    JPEGs whose pixels derive from (x, y, frame, doc_id)."""
    from frappe_data_pipelines_spark.operators.jpegmini import jpeg_encode_gray

    n = 1 + doc_id % 3
    frames = []
    for f in range(n):
        rows = [
            bytes((x * 3 + y * 5 + doc_id * 7 + f * 11) % 256 for x in range(16))
            for y in range(8)
        ]
        frames.append(jpeg_encode_gray(rows))
    return frames, 16, 8


def documents_as_avi(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, content BINARY) of real MJPEG AVI containers — the video
    twin of ``documents_as_files``/``documents_as_wav``."""
    from frappe_data_pipelines_spark.operators.avimini import avi_write

    return _synth_media(
        docs, id_col, lambda d: [(d, avi_write(*_synth_video_frames(int(d)), fps=10))]
    )


VIDEO_AUDIT_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("fps", T.IntegerType()),
    T.StructField("n_frames", T.LongType()),
    T.StructField("frames_intact", T.BooleanType()),
    T.StructField("first_frame_decodes", T.BooleanType()),
    T.StructField("n_sampled", T.LongType()),
    T.StructField("video_error", T.StringType()),
])


def video_frame_audit(df: DataFrame, id_col: str = "doc_id",
                      bin_col: str = "content") -> DataFrame:
    """Parse MJPEG AVI binary columns on the executors (container walk via
    ``operators/avimini``, first frame decoded through the baseline JPEG
    codec) and emit per-video accounting: geometry, frame counts, byte
    round-trip integrity against the deterministic synthesis, and the
    every-2nd frame-sampling count — the decode → sample → featurize shape
    of a video pipeline with every stage real. A malformed container
    dead-letters its row into ``video_error`` (I3 semantics, matching
    ``audio_features``/``image_dhash``) instead of failing the scan."""
    from frappe_data_pipelines_spark.operators.avimini import avi_parse
    from frappe_data_pipelines_spark.operators.jpegmini import jpeg_decode_gray

    def one(doc_id, payload: bytes):
        m = avi_parse(payload)
        frames = m["frames"]
        expected, _, _ = _synth_video_frames(int(doc_id))
        dw, dh, _rows = jpeg_decode_gray(frames[0]) if frames else (0, 0, [])
        intact = len(frames) == m["n_frames_declared"] and frames == expected
        return (m["width"], m["height"], m["fps"], len(frames), intact,
                (dw, dh) == (m["width"], m["height"]), (len(frames) + 1) // 2)

    def row(doc_id, content):
        try:
            return [(doc_id, *one(doc_id, bytes(content) if content is not None else b""), None)]
        except Exception as e:  # noqa: BLE001 — dead-letter the row
            return [(doc_id,) + (None,) * 7 + (str(e)[:500],)]

    return kernel.map_rows(df, row, VIDEO_AUDIT_SCHEMA, [id_col, bin_col])


def frame_sample(media_meta: DataFrame, every_n: int = 2) -> DataFrame:
    """Frame-sampling plumbing: explode n_frames into (doc_id, frame_index)
    rows, keeping every ``every_n``-th frame — the video-pipeline shape
    (decode → sample → per-frame featurize) without a real decoder."""
    return media_meta.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.col("n_frames") - 1)).alias("frame_index"),
    ).filter(F.col("frame_index") % every_n == 0)


# ---------------------------------------------------------------------------
# audio fingerprinting (the audio member of the perceptual-dedup trifecta:
# text MinHash / image dHash / this) — chromaprint-style frame features,
# trig-free so a SQL oracle reproduces every bit
# ---------------------------------------------------------------------------

# fingerprint geometry: 33 frames of 64 samples → 32 energy-difference
# bits (hi) + 32 roughness-difference bits (lo)
_FP_FRAMES, _FP_FLEN = 33, 64
_FP_SAMPLES = _FP_FRAMES * _FP_FLEN  # 2112


def synth_wav_pattern(doc_id: int, sample_rate: int = 8000,
                      extra_v: int = 0) -> bytes:
    """Deterministic REAL WAV bytes whose PCM is closed-form in doc_id —
    the audio twin of ``imagehash.synth_pattern_png``. Four consecutive
    docs form a group: same multiplicative-hash base waveform

        base(i) = ((i + g·1009) · 2654435761) mod 2³²  ≫ 24

    (pseudo-uniform 8-bit samples; g = doc_id // 4), and variant
    v = doc_id % 4 shifts a sparse deterministic sample subset
    (≈0.2%·v of positions, chosen by (i·40503 + g) mod 997 < 2v) by +61 —
    genuine near-duplicates: measured in-group Hamming ≈ 2.6 bits,
    cross-group ≈ 32, balanced bits (31.4/64 ones at N=500). Everything
    is integer arithmetic, so the DuckDB oracle rebuilds every sample,
    frame energy, and fingerprint bit exactly. ``extra_v`` bumps the
    variant index — the audio re-encode stand-in for incremental dedup
    (the twin of the image path's extra_off brightness shift)."""
    import io
    import wave

    g, v = doc_id // 4, doc_id % 4 + extra_v
    frames = bytes(
        (
            ((i + g * 1009) * 2654435761) % 4294967296 // 16777216
            + (61 if ((i * 40503 + g) % 997) < v * 2 else 0)
        )
        % 256
        for i in range(_FP_SAMPLES)
    )
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)
        w.setframerate(sample_rate)
        w.writeframes(frames)
    return buf.getvalue()


def documents_as_wav_pattern(docs: DataFrame, id_col: str = "doc_id",
                             extra_v: int = 0) -> DataFrame:
    """(doc_id, content BINARY) of real pattern WAVs — real RIFF containers
    the fingerprint kernel must actually parse; ``extra_v`` produces the
    re-encoded arrival batch for incremental dedup."""
    return _synth_media(
        docs, id_col, lambda d: [(d, synth_wav_pattern(int(d), extra_v=extra_v))]
    )


AUDIO_FP_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("n_samples", T.LongType()),
    T.StructField("fp_hi", T.LongType()),
    T.StructField("fp_lo", T.LongType()),
    T.StructField("fp_error", T.StringType()),
])


def _audio_fp_one(payload: bytes) -> tuple[int, int, int]:
    """Per-payload fingerprint kernel — see ``audio_fingerprint``."""
    import io
    import wave

    import numpy as np

    with wave.open(io.BytesIO(bytes(payload)), "rb") as w:
        if w.getsampwidth() != 1 or w.getnchannels() != 1:
            raise ValueError("fingerprint kernel expects 8-bit mono PCM")
        n = w.getnframes()
        raw = w.readframes(n)
    if n < _FP_SAMPLES:
        raise ValueError(f"clip too short for fingerprint: {n} < {_FP_SAMPLES}")
    s = np.frombuffer(raw[:_FP_SAMPLES], dtype=np.uint8).astype(np.int64)
    frames = s.reshape(_FP_FRAMES, _FP_FLEN)
    e = np.abs(frames - 128).sum(axis=1)
    pairs = frames.reshape(_FP_FRAMES, _FP_FLEN // 2, 2)
    d = np.abs(pairs[:, :, 1] - pairs[:, :, 0]).sum(axis=1)
    hi = lo = 0
    for f in range(_FP_FRAMES - 1):
        if e[f + 1] > e[f]:
            hi |= 1 << f
        if d[f + 1] > d[f]:
            lo |= 1 << f
    return n, hi, lo


def _audio_fp_row(did, payload) -> list[tuple]:
    """``audio_fingerprint``'s row kernel."""
    try:
        return [(did, *_audio_fp_one(payload), None)]
    except Exception as exc:  # noqa: BLE001 — wave raises its own Error; corrupt bytes must not kill the scan
        return [(did, None, None, None, f"{type(exc).__name__}: {exc}")]


def audio_fingerprint(
    df: DataFrame, id_col: str = "doc_id", bin_col: str = "content"
) -> DataFrame:
    """64-bit perceptual audio fingerprint from WAV bytes: stdlib ``wave``
    parses the RIFF container, then over the first 33 frames of 64
    samples each, bit f of ``fp_hi`` is 1 iff frame f+1's ENERGY
    (Σ|s−128|) exceeds frame f's, and bit f of ``fp_lo`` compares the
    frames' ROUGHNESS (Σ|s₂ⱼ₊₁−s₂ⱼ| — the trig-free stand-in for
    high-frequency content). Comparing ADJACENT frames (chromaprint's
    move) makes the hash invariant to uniform gain shifts and robust to
    sparse sample corruption — re-encodes land within a few Hamming bits.
    Decode failures and too-short clips land in ``fp_error`` (totality);
    near-dup pairing reuses the modality-agnostic
    ``imagehash.banded_hamming_pairs`` (batch) and
    ``imagehash.banded_hamming_join`` (incremental) joins, which pair
    through the bucket-pair join every near-dup modality shares."""
    narrow = df.select(
        F.col(id_col).cast("long").alias("doc_id"), F.col(bin_col).alias("content")
    )
    return kernel.map_rows(narrow, _audio_fp_row, AUDIO_FP_SCHEMA)


def pattern_audio_fingerprint(
    docs: DataFrame, id_col: str = "doc_id", extra_v: int = 0
) -> DataFrame:
    """Fused ``audio_fingerprint(documents_as_wav_pattern(docs, extra_v))``:
    the same row kernel applied to ``synth_wav_pattern`` in ONE Python
    pass — the WAV container bytes never cross the JVM↔Python Arrow
    boundary (see ``imagehash.pattern_image_dhash``)."""
    return _synth_media(
        docs, id_col,
        lambda d: _audio_fp_row(int(d), synth_wav_pattern(int(d), extra_v=extra_v)),
        AUDIO_FP_SCHEMA,
    )
