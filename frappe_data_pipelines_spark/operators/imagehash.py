"""Perceptual image hashing (dHash) + banded near-duplicate pairing.

The training-data move this implements: a 100 TB multimodal corpus carries
billions of images; exact byte-dedup misses re-encodes, brightness tweaks,
and rescales. The standard cheap answer is a *difference hash* (dHash):
decode → grayscale → area-average down to a 9×8 grid → 64 bits, one per
adjacent-pixel comparison. Near-duplicates are then found WITHOUT an n²
scan by splitting the 64 bits into 4 bands of 16 and bucket-joining on
band equality (the Hamming-space analogue of MinHash-LSH banding): any
pair within Hamming distance 6 agrees exactly on ≥1 band whenever the
differing bits land in ≤3 bands, and the final Hamming filter makes the
report exact for every surfaced pair.

Everything pixel-side runs through the REAL stdlib codecs in
``operators/imaging.py`` (PNG/BMP/GIF/TIFF decode), Arrow-batched via
``mapInPandas``; the pair join is pure DataFrame ops (explode → shuffle on
16-bit band keys → bit_count on JVM longs), so the scale path is one
bounded shuffle, no cartesian anywhere.

This module also owns the one bucket-pair join every near-dup modality
shares: ``_bucket_pairs`` (the banded self-join with its hot-bucket star
degrade) serves text MinHash-LSH (``dedup.minhash_lsh_pairs``), image and
audio dHash (``banded_hamming_pairs``) and frame-aligned video
(``video_neardup_pairs``); ``_band_probe`` (the broadcast new-batch probe)
serves ``banded_hamming_join`` and ``video_neardup_join``. Each operator
keeps only its own last step: the distance filter, the dedup and, for
video, the close-frame count.

Reference parity: the reference's media surface stops at decode+describe
(fdp/services/vision_service.py); image-level near-dup is part of this
engine's beyond-reference training-pipeline surface, same family as
operators/dedup.py's MinHash-LSH (text) — this is the pixel twin.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from frappe_data_pipelines_spark.operators import kernel

# dHash grid: 9 columns × 8 rows of grayscale means → 8×8 comparison bits.
_GRID_W, _GRID_H = 9, 8


def dhash_gray(width: int, height: int, channels: int, rows: list[bytes]) -> tuple[int, int]:
    """64-bit dHash of decoded scanlines → two unsigned 32-bit halves.

    Area-average downsample to the 9×8 grid (exact for images whose
    dimensions are integer multiples of the grid — constant source blocks
    average back to themselves), integer-luminance for multi-channel rows
    (ITU-R 601 weights on a /1000 integer scale, so the kernel is
    float-free and bit-reproducible everywhere). Bit (r, c) of the hash is
    1 iff grid[r][c+1] > grid[r][c]; rows 0-3 fill ``hi``, rows 4-7 ``lo``,
    bit index ``(r % 4) * 8 + c`` — both halves fit a BIGINT unsigned.
    """
    if width < _GRID_W or height < _GRID_H:
        raise ValueError(f"image {width}x{height} smaller than dhash grid")
    # integer luminance per pixel (value * 1000 scale keeps it exact)
    lum: list[list[int]] = []
    for row in rows:
        vals = []
        for x in range(width):
            if channels == 1:
                vals.append(row[x] * 1000)
            else:
                base = x * channels
                r8, g8, b8 = row[base], row[base + 1], row[base + 2]
                vals.append(299 * r8 + 587 * g8 + 114 * b8)
        lum.append(vals)
    # area-average: cell (gr, gc) covers source rows [gr*h//8, (gr+1)*h//8)
    # and cols [gc*w//9, (gc+1)*w//9) — exact integer box sums, compared
    # as cross-multiplied fractions so no float division enters the hash.
    row_edges = [gr * height // _GRID_H for gr in range(_GRID_H + 1)]
    col_edges = [gc * width // _GRID_W for gc in range(_GRID_W + 1)]
    sums = [[0] * _GRID_W for _ in range(_GRID_H)]
    areas = [[0] * _GRID_W for _ in range(_GRID_H)]
    for gr in range(_GRID_H):
        for gc in range(_GRID_W):
            s = 0
            for y in range(row_edges[gr], row_edges[gr + 1]):
                lrow = lum[y]
                for x in range(col_edges[gc], col_edges[gc + 1]):
                    s += lrow[x]
            sums[gr][gc] = s
            areas[gr][gc] = (row_edges[gr + 1] - row_edges[gr]) * (
                col_edges[gc + 1] - col_edges[gc]
            )
    hi = lo = 0
    for gr in range(_GRID_H):
        for gc in range(_GRID_W - 1):
            # mean(right) > mean(left)  ⇔  sum_r * area_l > sum_l * area_r
            if sums[gr][gc + 1] * areas[gr][gc] > sums[gr][gc] * areas[gr][gc + 1]:
                bit = 1 << ((gr % 4) * 8 + gc)
                if gr < 4:
                    hi |= bit
                else:
                    lo |= bit
    return hi, lo


def dhash_payload(payload: bytes) -> tuple[int, int, int, int]:
    """(width, height, hi, lo) for any image the real codecs can read:
    magic-sniffed PNG / BMP / GIF (first frame) / grayscale TIFF / JPEG
    (baseline + progressive, via the jpegmini decoder — the format most
    of a web crawl's images arrive in, and the one where perceptual
    hashing earns its keep: a JPEG re-encode changes every byte but only
    a few dHash bits)."""
    from frappe_data_pipelines_spark.operators.imaging import (
        bmp_decode,
        gif_decode_first_frame,
        png_decode,
        tiff_decode_gray,
    )

    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        w, h, ch, rows = png_decode(payload)
    elif payload[:2] == b"BM":
        w, h, rows = bmp_decode(payload)
        ch = 1
    elif payload[:6] in (b"GIF87a", b"GIF89a"):
        w, h, rows = gif_decode_first_frame(payload)
        ch = 1
    elif payload[:4] in (b"II*\x00", b"MM\x00*"):
        w, h, rows = tiff_decode_gray(payload)
        ch = 1
    elif payload[:2] == b"\xff\xd8":
        from frappe_data_pipelines_spark.operators.jpegmini import (
            JpegError,
            jpeg_decode_gray,
        )

        try:
            w, h, rows = jpeg_decode_gray(payload)
        except JpegError as e:
            raise ValueError(str(e)) from e
        ch = 1
    else:
        raise ValueError("unsupported image format for dhash")
    hi, lo = dhash_gray(w, h, ch, rows)
    return w, h, hi, lo


# ---------------------------------------------------------------------------
# deterministic pattern corpus (the oracle-closed-form image generator)
# ---------------------------------------------------------------------------
#
# pix(r, c) = (seed + (r·16 + c)·m + off) mod 256 over a 9×8 grid,
# optionally magnified by an integer scale with constant scale×scale
# blocks (so the area-average downsample reconstructs the grid EXACTLY).
# The parameters are pure integer functions of doc_id:
#
#   g    = doc_id // 4                   (4 consecutive docs form a group)
#   m    = 97 + 2·((g·7) mod 64)         (odd multiplicative stride)
#   seed = (g·137) mod 251               (group base level)
#   off  = (doc_id mod 4) · 4            (within-group brightness shift)
#   scale= 1 + (doc_id mod 2) · 3        (1× or 4× magnification)
#
# The odd stride m ≥ 97 makes adjacent-pixel differences wrap mod 256
# pseudo-uniformly, so the comparison bits are BALANCED (measured ≈36/64
# ones, hottest 16-bit band bucket 35 docs at N=500) instead of the
# all-ones hash a small additive step produces — the band join stays a
# real LSH workload rather than one giant cluster. Within a group the
# four docs share (seed, m) and differ only by a uniform +off brightness
# shift — dHash compares ADJACENT pixels, so bits flip only where the
# shift moves a comparison across the mod-256 wrap: genuine
# near-duplicates with small Hamming distance. Because every pixel is
# closed-form integer arithmetic, a SQL oracle reproduces the hashes
# bit-for-bit — which pins the whole Spark path (real PNG encode → real
# PNG decode → downsample → hash → band join) end to end.


def _pattern_params(doc_id: int) -> tuple[int, int, int, int]:
    g = doc_id // 4
    m = 97 + 2 * ((g * 7) % 64)
    seed = (g * 137) % 251
    off = (doc_id % 4) * 4
    scale = 1 + (doc_id % 2) * 3
    return seed, m, off, scale


def synth_pattern_png(doc_id: int, extra_off: int = 0) -> bytes:
    """Real PNG bytes (grayscale, filter 0, zlib) of the pattern image.
    ``extra_off`` adds a further uniform brightness shift — a deterministic
    stand-in for a re-crawl/re-encode of the same image (flips only
    wrap-crossing comparisons, keeping the re-render a near-duplicate of
    the original)."""
    from frappe_data_pipelines_spark.operators.imaging import png_encode

    seed, m, off, scale = _pattern_params(doc_id)
    off += extra_off
    rows = []
    for r in range(_GRID_H):
        line = bytes(
            (seed + (r * 16 + c) * m + off) % 256 for c in range(_GRID_W)
        )
        expanded = b"".join(bytes([v]) * scale for v in line)
        rows.extend([expanded] * scale)
    return png_encode(rows, color_type=0)


def documents_as_pattern_images(
    docs: DataFrame, id_col: str = "doc_id", extra_off: int = 0
) -> DataFrame:
    """(doc_id, content BINARY) of real pattern PNGs — the image twin of
    ``documents_as_wav``: real containers the codec must actually parse.
    ``extra_off`` renders every image as its re-crawl variant (see
    ``synth_pattern_png``)."""
    from frappe_data_pipelines_spark.operators.multimodal import _synth_media

    return _synth_media(docs, id_col, lambda d: [(d, synth_pattern_png(int(d), extra_off))])


IMAGE_DHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("dhash_hi", T.LongType()),
        T.StructField("dhash_lo", T.LongType()),
        T.StructField("hash_error", T.StringType()),
    ]
)


def _image_dhash_row(did, payload) -> list[tuple]:
    """``image_dhash``'s row kernel; any decode failure, a null payload
    included, dead-letters the row."""
    try:
        w, h, hi, lo = dhash_payload(b"" if payload is None else bytes(payload))
        return [(did, w, h, hi, lo, None)]
    except Exception as exc:  # noqa: BLE001 — zlib/struct errors too: a corrupt image must not kill the scan
        return [(did, None, None, None, None, f"{type(exc).__name__}: {exc}")]


def image_dhash(df: DataFrame, id_col: str = "doc_id", bin_col: str = "content") -> DataFrame:
    """binary image column → (width, height, dhash_hi, dhash_lo) via the
    real decoders; decode failures land in ``hash_error`` (totality — a
    corrupt image must not kill a 100 TB scan)."""
    narrow = df.select(
        F.col(id_col).cast("long").alias("doc_id"), F.col(bin_col).alias("content")
    )
    return kernel.map_rows(narrow, _image_dhash_row, IMAGE_DHASH_SCHEMA)


def pattern_image_dhash(
    docs: DataFrame, id_col: str = "doc_id", extra_off: int = 0
) -> DataFrame:
    """Fused ``image_dhash(documents_as_pattern_images(docs, extra_off))``:
    the same row kernel applied to ``synth_pattern_png`` in ONE Python
    pass, so the PNG bytes never cross the JVM↔Python Arrow boundary —
    only doc_id goes in, only the hash row comes out (r12 probe: two-stage
    1.30/2.16 s best/median vs fused 0.75/1.24 at sf0.1)."""
    from frappe_data_pipelines_spark.operators.multimodal import _synth_media

    return _synth_media(
        docs, id_col,
        lambda d: _image_dhash_row(int(d), synth_pattern_png(int(d), extra_off)),
        IMAGE_DHASH_SCHEMA,
    )


# ---------------------------------------------------------------------------
# the bucket-pair join every near-dup modality pairs through: text MinHash
# bands (operators/dedup.py), image/audio dHash bands, frame-aligned video
# bands
# ---------------------------------------------------------------------------


def _bands64(hi: str, lo: str) -> Column:
    """(band_idx, band_val): the four 16-bit bands of the 64-bit signature
    in columns ``hi``/``lo`` (two unsigned 32-bit halves), one row each."""
    return F.posexplode(
        F.array(
            F.col(lo) % 65536,
            (F.col(lo) / 65536).cast("long"),
            F.col(hi) % 65536,
            (F.col(hi) / 65536).cast("long"),
        )
    ).alias("band_idx", "band_val")


def _signatures(df: DataFrame, id_col: str, hi_col: str, lo_col: str, *extra: str) -> DataFrame:
    """The non-null signatures of ``df`` as (doc_id, *extra, hi, lo). The
    pair operators cache this table, so while such a cache stands Spark
    serves an incremental join's equal narrowing from it."""
    return df.where(F.col(hi_col).isNotNull()).select(
        F.col(id_col).alias("doc_id"), *extra, F.col(hi_col).alias("hi"), F.col(lo_col).alias("lo")
    )


def _hamming() -> Column:
    """Exact Hamming distance of a pair's (hi_a, lo_a) and (hi_b, lo_b)."""
    return (
        F.bit_count(F.expr("hi_a ^ hi_b")) + F.bit_count(F.expr("lo_a ^ lo_b"))
    ).cast("int")


def _bucket_pairs(
    rows: DataFrame, keys: list[str], payload: list[str], max_bucket_size: int
) -> DataFrame:
    """Every pair of ``rows`` that share a bucket (equal ``keys``), as
    (doc_a < doc_b, *keys, <p>_a, <p>_b for each ``payload`` column p).
    ``rows`` carries ``doc_id``, ``keys`` and ``payload``. A pair sharing k
    buckets appears k times; the caller filters and dedups.

    Scale shape: one shuffle on the bucket keys; no n² term. **Hot-bucket
    bound:** a bucket holding B rows would emit B² self-join rows in ONE
    task, and a 100 TB corpus has million-strong near-identical families
    (boilerplate pages, one logo, one intro frame). Buckets larger than
    ``max_bucket_size`` therefore degrade to STAR linking: every member
    pairs with the bucket's minimum doc_id only (B−1 rows). Connected
    components are unchanged; what is lost is only the pair between two
    non-hub members of a hot bucket. The degrade is deterministic, and
    catalog oracles run with buckets far below the default cap, so their
    SQL mirrors need no hot branch."""
    # the hot list is tiny by construction (≤ rows/max_bucket_size), so
    # both the cool anti-join and the hub join broadcast it
    hot = (
        rows.groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("__bsz"),
            F.min("doc_id").alias("__hub"),
            *[F.min_by(p, "doc_id").alias(f"__hub_{p}") for p in payload],
        )
        .filter(F.col("__bsz") > F.lit(max_bucket_size))
    )
    # r13: one shared full-hot broadcast for both joins is a plan no-op (pruning splits it again)
    cool = rows.join(F.broadcast(hot.select(*keys)), keys, "left_anti")
    pairs_cool = (
        cool.alias("x")
        .join(cool.alias("y"), keys)
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            *keys,
            *[F.col(f"x.{p}").alias(f"{p}_a") for p in payload],
            *[F.col(f"y.{p}").alias(f"{p}_b") for p in payload],
        )
    )
    # hub = min(doc_id) < every other member, so (hub, member) is ordered
    pairs_hot = (
        rows.join(F.broadcast(hot), keys)
        .filter(F.col("doc_id") != F.col("__hub"))
        .select(
            F.col("__hub").alias("doc_a"),
            F.col("doc_id").alias("doc_b"),
            *keys,
            *[F.col(f"__hub_{p}").alias(f"{p}_a") for p in payload],
            *[F.col(p).alias(f"{p}_b") for p in payload],
        )
    )
    return pairs_cool.unionByName(pairs_hot)


def _band_probe(new: DataFrame, corpus: DataFrame, keys: list[str]) -> DataFrame:
    """Every (new, corpus) pair of band rows sharing ``keys``, as
    (doc_a = new id, doc_b = corpus id, *keys, hi_a, lo_a, hi_b, lo_b);
    both sides carry doc_id, ``keys``, hi and lo. A pair sharing k buckets
    appears k times.

    Scale shape: the new batch is a micro-batch, orders of magnitude
    smaller than the corpus, so its band rows BROADCAST and the corpus pays
    ONE scan with a map-side probe: no shuffle of the corpus, which is what
    makes this runnable per ingest batch."""
    return (
        corpus.alias("b")
        .join(F.broadcast(new.alias("a")), keys)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            *keys,
            *[F.col(f"{s}.{p}").alias(f"{p}_{s}") for s in "ab" for p in ("hi", "lo")],
        )
    )


def banded_hamming_pairs(
    hashes: DataFrame,
    max_hamming: int = 6,
    id_col: str = "doc_id",
    hi_col: str = "dhash_hi",
    lo_col: str = "dhash_lo",
    max_bucket_size: int = 1024,
) -> DataFrame:
    """Banded near-dup pairs (doc_a < doc_b, hamming) over ANY 64-bit
    Hamming-space signature (two unsigned 32-bit halves): 4×16-bit bands →
    ``_bucket_pairs`` on (band_idx, band_val) → exact Hamming filter on the
    JVM → dedup on the pair. The image dHash and the audio energy
    fingerprint both ride this join — Hamming-space banding is
    modality-agnostic.

    Recall contract: a pair at Hamming ≤ max_hamming is surfaced whenever
    its differing bits touch ≤ 3 of the 4 bands (guaranteed complete for
    Hamming ≤ 3; the standard LSH-banding trade above that), and inside a
    bucket past ``max_bucket_size`` only pairs with the hub are surfaced.
    Every surfaced pair is EXACT — the final filter recomputes true
    distance."""
    # cached: three reads of the narrow table (r13 banded_cache_ab: beats a shared exchange)
    h = _signatures(hashes, id_col, hi_col, lo_col).cache()
    pairs = _bucket_pairs(
        h.select("*", _bands64("hi", "lo")), ["band_idx", "band_val"], ["hi", "lo"],
        max_bucket_size,
    )
    # filter before the dedup: a pair stands when any of its candidates is
    # close, and far candidates never reach the dedup's shuffle
    return (
        pairs.withColumn("hamming", _hamming())
        .where(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_a", "doc_b"])
        .select("doc_a", "doc_b", "hamming")
    )


# ---------------------------------------------------------------------------
# video near-dup: per-frame dHash over real AVI containers, frame-aligned
# banded join — the fourth modality (text MinHash / image dHash / audio
# energy fingerprint / this)
# ---------------------------------------------------------------------------

_VIDEO_FRAMES = 8  # frames per synthetic pattern video


def synth_pattern_avi(doc_id: int, extra_off: int = 0) -> bytes:
    """Real RIFF/AVI bytes (uncompressed DIB frames — the lossless profile
    ``avimini`` carries precisely so decoded pixels stay closed-form; MJPEG
    quantization cannot round-trip exactly): 8 frames of the scrambled
    9×8 pattern with a per-frame +53·t drift,

        pix(r, c, t) = (seed + (r·16 + c)·m + t·53 + off) mod 256,

    same (seed, m, off) family as ``synth_pattern_png`` — four consecutive
    docs form a near-duplicate group (measured: 814 video pairs at ≥6/8
    close frames over N=500, 632 within-group, hottest frame band
    bucket 40)."""
    from frappe_data_pipelines_spark.operators.avimini import (
        avi_write,
        dib_encode_gray,
    )

    seed, m, off, _scale = _pattern_params(doc_id)
    off += extra_off  # re-encode stand-in (uniform brightness shift)
    frames = []
    for t in range(_VIDEO_FRAMES):
        rows = [
            bytes((seed + (r * 16 + c) * m + t * 53 + off) % 256 for c in range(_GRID_W))
            for r in range(_GRID_H)
        ]
        frames.append(dib_encode_gray(rows))
    return avi_write(frames, _GRID_W, _GRID_H, fps=10, codec=b"DIB ")


def documents_as_pattern_videos(docs: DataFrame, id_col: str = "doc_id",
                                extra_off: int = 0) -> DataFrame:
    """(doc_id, content BINARY) of real pattern AVIs; ``extra_off``
    produces the re-encoded arrival batch for incremental dedup."""
    from frappe_data_pipelines_spark.operators.multimodal import _synth_media

    return _synth_media(docs, id_col, lambda d: [(d, synth_pattern_avi(int(d), extra_off))])


VIDEO_DHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("dhash_hi", T.LongType()),
        T.StructField("dhash_lo", T.LongType()),
        T.StructField("video_error", T.StringType()),
    ]
)


def _video_dhash_rows(did, payload) -> list[tuple]:
    """``video_frame_dhash``'s row kernel: one row per frame; any failure,
    a null payload included, appends a single error row."""
    from frappe_data_pipelines_spark.operators.avimini import (
        AviError,
        avi_parse,
        dib_decode_gray,
    )

    rows = []
    try:
        meta = avi_parse(b"" if payload is None else bytes(payload))
        if meta["codec"] != "DIB":
            raise AviError(f"dhash path needs DIB frames, got {meta['codec']}")
        w, h = meta["width"], meta["height"]
        for idx, frame in enumerate(meta["frames"]):
            hi, lo = dhash_gray(w, h, 1, dib_decode_gray(frame, w, h))
            rows.append((did, idx, hi, lo, None))
    except Exception as exc:  # noqa: BLE001 — a corrupt container must not kill the scan
        rows.append((did, None, None, None, f"{type(exc).__name__}: {exc}"))
    return rows


def video_frame_dhash(
    df: DataFrame, id_col: str = "doc_id", bin_col: str = "content"
) -> DataFrame:
    """AVI binary column → one dHash row PER FRAME via the real container
    walk (``avimini.avi_parse``) and DIB pixel decode; corrupt containers
    emit a single error row (totality). MJPEG-coded videos are decodable
    via jpegmini but not closed-form oracleable — callers wanting them go
    through ``multimodal.video_frames``."""
    narrow = df.select(
        F.col(id_col).cast("long").alias("doc_id"), F.col(bin_col).alias("content")
    )
    return kernel.map_rows(narrow, _video_dhash_rows, VIDEO_DHASH_SCHEMA)


def pattern_video_frame_dhash(
    docs: DataFrame, id_col: str = "doc_id", extra_off: int = 0
) -> DataFrame:
    """Fused ``video_frame_dhash(documents_as_pattern_videos(docs,
    extra_off))``: the same row kernel applied to ``synth_pattern_avi`` in
    ONE Python pass — the AVI container bytes never cross the JVM↔Python
    Arrow boundary (see ``pattern_image_dhash``)."""
    from frappe_data_pipelines_spark.operators.multimodal import _synth_media

    return _synth_media(
        docs, id_col,
        lambda d: _video_dhash_rows(int(d), synth_pattern_avi(int(d), extra_off)),
        VIDEO_DHASH_SCHEMA,
    )


def video_neardup_pairs(
    frame_hashes: DataFrame,
    max_hamming: int = 6,
    min_close_frames: int = 6,
    id_col: str = "doc_id",
    max_bucket_size: int = 1024,
) -> DataFrame:
    """Video near-dup pairs from per-frame dHashes: ``_bucket_pairs``
    keyed by (frame_idx, band_idx, band_val) — FRAME-ALIGNED, so two
    videos only pair through the same temporal position — then one
    aggregation counts a pair's close frames and keeps pairs with
    ``min_close_frames`` or more. ``n_close_frames`` counts frames the
    banding SURFACED at Hamming ≤ max_hamming (complete for ≤3 per the
    banding contract; the standard LSH trade above that) — the oracle
    re-runs the identical contract, so the count is pinned, not fuzzy.

    Scale shape: one shuffle on (frame, band) keys + one groupBy on the
    pair — per-frame band buckets are strictly smaller than video-level
    ones. Hot (frame, band, value) buckets past ``max_bucket_size`` degrade
    to star linking as in ``banded_hamming_pairs``: a million-strong family
    of one intro/outro frame must not emit B² rows in one task;
    hub-anchored counts are the deterministic, observable degrade."""
    # cached for the reason banded_hamming_pairs gives
    h = _signatures(frame_hashes, id_col, "dhash_hi", "dhash_lo", "frame_idx").cache()
    pairs = _bucket_pairs(
        h.select("*", _bands64("hi", "lo")), ["frame_idx", "band_idx", "band_val"],
        ["hi", "lo"], max_bucket_size,
    )
    return (
        pairs.where(_hamming() <= max_hamming)
        .dropDuplicates(["doc_a", "doc_b", "frame_idx"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("bigint").alias("n_close_frames"))
        .where(F.col("n_close_frames") >= min_close_frames)
    )


def video_neardup_join(
    new_frame_hashes: DataFrame,
    corpus_frame_hashes: DataFrame,
    max_hamming: int = 6,
    min_close_frames: int = 6,
    id_col: str = "doc_id",
) -> DataFrame:
    """INCREMENTAL video dedup: match a NEW batch of per-frame dHashes
    against the EXISTING corpus — ``video_neardup_pairs``'s frame-aligned
    banding in the asymmetric ingest-door shape of
    ``banded_hamming_join`` (``_band_probe``: the new batch broadcasts, the
    corpus is probed without a shuffle). Returns (new_id, corpus_id,
    n_close_frames) for pairs with >= ``min_close_frames`` frames within
    ``max_hamming``."""

    def bands(df: DataFrame) -> DataFrame:
        return _signatures(df, id_col, "dhash_hi", "dhash_lo", "frame_idx").select(
            "*", _bands64("hi", "lo")
        )

    cand = _band_probe(
        bands(new_frame_hashes), bands(corpus_frame_hashes),
        ["frame_idx", "band_idx", "band_val"],
    )
    return (
        cand.where(_hamming() <= max_hamming)
        .select(F.col("doc_a").alias("new_id"), F.col("doc_b").alias("corpus_id"), "frame_idx")
        .dropDuplicates(["new_id", "corpus_id", "frame_idx"])
        .groupBy("new_id", "corpus_id")
        .agg(F.count("*").cast("bigint").alias("n_close_frames"))
        .where(F.col("n_close_frames") >= min_close_frames)
    )


def banded_hamming_join(
    new_hashes: DataFrame,
    corpus_hashes: DataFrame,
    max_hamming: int = 6,
    id_col: str = "doc_id",
    hi_col: str = "dhash_hi",
    lo_col: str = "dhash_lo",
) -> DataFrame:
    """INCREMENTAL perceptual dedup: match a NEW batch of signatures
    against an EXISTING corpus (the ingest-time shape — a re-crawl's
    images checked at the door, the image analogue of
    ``simhash_incremental_pairs``) through ``_band_probe``. Returns
    (new_id, corpus_id, hamming), every surfaced pair exact, recall per the
    usual 4×16-bit banding contract. The Hamming filter runs before the
    pair dedup, so a new id with several signatures keeps every corpus
    match any of them makes. (For a big backfill where the 'new' side is
    itself corpus-sized, union both sides into ``banded_hamming_pairs``
    instead.)"""

    def bands(df: DataFrame) -> DataFrame:
        return _signatures(df, id_col, hi_col, lo_col).select("*", _bands64("hi", "lo"))

    cand = _band_probe(bands(new_hashes), bands(corpus_hashes), ["band_idx", "band_val"])
    return (
        cand.withColumn("hamming", _hamming())
        .where(F.col("hamming") <= max_hamming)
        .select(F.col("doc_a").alias("new_id"), F.col("doc_b").alias("corpus_id"), "hamming")
        .dropDuplicates(["new_id", "corpus_id"])
    )
