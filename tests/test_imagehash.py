"""Perceptual dHash + banded near-dup (operators/imagehash.py).

Covers: pure-kernel determinism and geometry invariance, the closed-form
pattern corpus contract (PNG encode → decode → hash equals integer
arithmetic), banding recall vs a brute-force Hamming scan, decode-failure
totality, and the within-group near-duplicate semantics the corpus is
designed to exhibit.
"""

from __future__ import annotations

import pytest

from frappe_data_pipelines_spark.operators.imagehash import (
    _pattern_params,
    dhash_gray,
    dhash_payload,
    documents_as_pattern_images,
    image_dhash,
    synth_pattern_png,
)


def _closed_form(doc_id: int) -> tuple[int, int]:
    seed, m, off, _scale = _pattern_params(doc_id)

    def pix(r: int, c: int) -> int:
        return (seed + (r * 16 + c) * m + off) % 256

    hi = lo = 0
    for r in range(8):
        for c in range(8):
            if pix(r, c + 1) > pix(r, c):
                bit = 1 << ((r % 4) * 8 + c)
                if r < 4:
                    hi |= bit
                else:
                    lo |= bit
    return hi, lo


def _ham(a: tuple[int, int], b: tuple[int, int]) -> int:
    return bin(a[0] ^ b[0]).count("1") + bin(a[1] ^ b[1]).count("1")


def test_pattern_png_roundtrip_matches_closed_form():
    for doc_id in range(0, 300, 7):
        png = synth_pattern_png(doc_id)
        _seed, _m, _off, scale = _pattern_params(doc_id)
        w, h, hi, lo = dhash_payload(png)
        assert (w, h) == (9 * scale, 8 * scale)
        assert (hi, lo) == _closed_form(doc_id), doc_id


def test_dhash_scale_invariant():
    # constant scale×scale blocks average back exactly → hash is identical
    # at 1× and 4× magnification (doc 0 is 1×, doc 1 is 4× but different
    # off — so compare the same doc rendered by hand at both scales)
    for doc_id in (0, 4, 13):
        seed, m, off, _ = _pattern_params(doc_id)
        grids = []
        for scale in (1, 4):
            rows = []
            for r in range(8):
                line = bytes((seed + (r * 16 + c) * m + off) % 256 for c in range(9))
                expanded = b"".join(bytes([v]) * scale for v in line)
                rows.extend([expanded] * scale)
            grids.append(dhash_gray(9 * scale, 8 * scale, 1, rows))
        assert grids[0] == grids[1]


def test_dhash_rgb_luminance_path():
    # an RGB image with R=G=B=v hashes identically to the grayscale image
    gray_rows = [bytes((r * 31 + c * 17) % 256 for c in range(9)) for r in range(8)]
    rgb_rows = [b"".join(bytes([v, v, v]) for v in row) for row in gray_rows]
    assert dhash_gray(9, 8, 1, gray_rows) == dhash_gray(9, 8, 3, rgb_rows)


def test_dhash_rejects_tiny_images():
    with pytest.raises(ValueError):
        dhash_gray(4, 4, 1, [bytes(4)] * 4)
    with pytest.raises(ValueError):
        dhash_payload(b"\x00not-an-image")


def test_within_group_docs_are_near_duplicates():
    # four docs per group share (seed, m); +16 brightness steps flip only
    # wrap-crossing comparisons — small but usually nonzero Hamming
    close = far = 0
    for g in range(40):
        base = _closed_form(4 * g)
        for v in range(1, 4):
            d = _ham(base, _closed_form(4 * g + v))
            if d <= 6:
                close += 1
            else:
                far += 1
    assert close >= 2 * far, (close, far)  # most in-group pairs are near-dups


def test_spark_image_dhash_and_banded_pairs(spark):
    n = 160
    docs = spark.range(n).withColumnRenamed("id", "doc_id")
    hashes = image_dhash(documents_as_pattern_images(docs))
    rows = {r.doc_id: r for r in hashes.collect()}
    assert len(rows) == n
    assert all(r.hash_error is None for r in rows.values())
    for doc_id in (0, 7, 63, 159):
        assert (rows[doc_id].dhash_hi, rows[doc_id].dhash_lo) == _closed_form(doc_id)

    from frappe_data_pipelines_spark.operators.imagehash import banded_hamming_pairs

    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in banded_hamming_pairs(hashes, max_hamming=6).collect()
    }
    # brute-force reference: every surfaced pair must be exact, and every
    # pair ≤6 that agrees on ≥1 band must be surfaced (the banding contract)
    hs = {d: _closed_form(d) for d in range(n)}

    def bands(h: tuple[int, int]) -> list[int]:
        hi, lo = h
        return [lo % 65536, lo >> 16, hi % 65536, hi >> 16]

    expected = {}
    for a in range(n):
        for b in range(a + 1, n):
            d = _ham(hs[a], hs[b])
            if d <= 6 and any(x == y for x, y in zip(bands(hs[a]), bands(hs[b]))):
                expected[(a, b)] = d
    assert got == expected
    assert expected, "corpus produced no near-dup pairs — degenerate fixture"


def test_decode_failure_totality(spark):
    import pyspark.sql.functions as F

    good = synth_pattern_png(5)
    flipped = bytearray(good)
    flipped[good.index(b"IDAT") + 4] ^= 0xFF  # first IDAT data byte: a zlib.error
    df = spark.createDataFrame(
        [(1, bytearray(good)), (2, bytearray(b"\x89PNG\r\n\x1a\nGARBAGE")), (3, bytearray(b"")),
         (4, None), (5, bytearray(good[:16])), (6, flipped)],
        "doc_id long, content binary",
    )
    out = {r.doc_id: r for r in image_dhash(df).collect()}
    assert out[1].hash_error is None and out[1].dhash_hi is not None
    assert out[2].hash_error is not None and out[2].dhash_hi is None
    assert out[3].hash_error is not None
    # a null payload, a truncated header (struct.error) and a corrupt
    # deflate stream (zlib.error) dead-letter their rows too
    assert out[4].hash_error == "ValueError: unsupported image format for dhash"
    assert out[5].hash_error.startswith("error: ") and out[5].dhash_hi is None
    assert out[6].hash_error.startswith("error: ") and out[6].dhash_hi is None
    # and the banded join silently skips failed rows
    from frappe_data_pipelines_spark.operators.imagehash import banded_hamming_pairs

    assert banded_hamming_pairs(image_dhash(df)).count() == 0


def test_streaming_perceptual_dedup(spark, tmp_path):
    """dedup_stream keyed on the dHash (fp_col): a re-delivered image with
    the SAME pixels but a new doc_id is dropped across micro-batches —
    streaming perceptual dedup end to end through real PNG bytes."""
    import pyspark.sql.functions as F

    in_dir = str(tmp_path / "img_in")
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "img_out")

    # batch 1: images 0..9; batch 2: same pixels re-sent under new ids
    rows1 = [(d, bytearray(synth_pattern_png(d))) for d in range(10)]
    rows2 = [(1000 + d, bytearray(synth_pattern_png(d))) for d in range(5)]
    spark.createDataFrame(rows1, "doc_id long, content binary").coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    spark.createDataFrame(rows2, "doc_id long, content binary").coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)

    from frappe_data_pipelines_spark.streaming.stateful import dedup_stream

    stream = (
        spark.readStream.schema("doc_id BIGINT, content BINARY")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    hashed = image_dhash(stream).withColumn(
        "dhash", F.concat_ws(":", "dhash_hi", "dhash_lo")
    )
    q = (
        dedup_stream(hashed, fp_col="dhash")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # expected survivors: the min doc_id per DISTINCT hash among batch 1
    # (within a pattern group the brightness variants can land on the
    # IDENTICAL dhash — those collapse too, by design); batch 2 re-sends
    # exact pixels of docs 0..4, so it adds nothing
    first_by_hash = {}
    for d in range(10):
        first_by_hash.setdefault(_closed_form(d), d)
    expected_ids = set(first_by_hash.values())

    out = spark.read.parquet(out_dir)
    ids = {r.doc_id for r in out.collect()}
    assert ids == expected_ids  # no 1000+ re-encode survives
    assert all(i < 1000 for i in ids)
    # the batch degrade path agrees on survivor count and total drops
    both = spark.createDataFrame(rows1 + rows2, "doc_id long, content binary")
    batch_hashed = image_dhash(both).withColumn(
        "dhash", F.concat_ws(":", "dhash_hi", "dhash_lo")
    )
    batch = dedup_stream(batch_hashed, fp_col="dhash")
    assert batch.count() == len(expected_ids)
    dropped = {r.doc_id: r.n_dupes_dropped for r in batch.collect()}
    assert sum(dropped.values()) == 15 - len(expected_ids)


def test_audio_fingerprint_roundtrip_and_pairs(spark):
    """Audio twin: WAV encode → wave parse → fingerprint equals the
    closed form; the banded join surfaces exactly the brute-force pairs
    that agree on ≥1 band; corrupt clips land in fp_error."""
    from frappe_data_pipelines_spark.operators.imagehash import banded_hamming_pairs
    from frappe_data_pipelines_spark.operators.multimodal import (
        _FP_SAMPLES,
        audio_fingerprint,
        documents_as_wav_pattern,
        synth_wav_pattern,
    )

    def closed(doc_id):
        g, v = doc_id // 4, doc_id % 4
        s = [
            (((i + g * 1009) * 2654435761) % 4294967296 // 16777216
             + (61 if ((i * 40503 + g) % 997) < v * 2 else 0)) % 256
            for i in range(_FP_SAMPLES)
        ]
        e = [sum(abs(x - 128) for x in s[f * 64:(f + 1) * 64]) for f in range(33)]
        d = [sum(abs(s[f * 64 + 2 * j + 1] - s[f * 64 + 2 * j]) for j in range(32))
             for f in range(33)]
        hi = lo = 0
        for f in range(32):
            if e[f + 1] > e[f]:
                hi |= 1 << f
            if d[f + 1] > d[f]:
                lo |= 1 << f
        return hi, lo

    n = 120
    docs = spark.range(n).withColumnRenamed("id", "doc_id")
    fps = audio_fingerprint(documents_as_wav_pattern(docs))
    rows = {r.doc_id: r for r in fps.collect()}
    assert len(rows) == n and all(r.fp_error is None for r in rows.values())
    for d in (0, 3, 17, 119):
        assert (rows[d].fp_hi, rows[d].fp_lo) == closed(d), d

    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in banded_hamming_pairs(fps, 6, hi_col="fp_hi", lo_col="fp_lo").collect()
    }
    hs = {d: closed(d) for d in range(n)}

    def bands(h):
        hi, lo = h
        return [lo % 65536, lo >> 16, hi % 65536, hi >> 16]

    expected = {}
    for a in range(n):
        for b in range(a + 1, n):
            dd = bin(hs[a][0] ^ hs[b][0]).count("1") + bin(hs[a][1] ^ hs[b][1]).count("1")
            if dd <= 6 and any(x == y for x, y in zip(bands(hs[a]), bands(hs[b]))):
                expected[(a, b)] = dd
    assert got == expected and expected

    # totality: truncated / corrupt WAVs error instead of killing the scan
    bad = spark.createDataFrame(
        [(1, bytearray(synth_wav_pattern(0))), (2, bytearray(b"RIFFgarbage")),
         (3, bytearray(synth_wav_pattern(1)[:100]))],
        "doc_id long, content binary",
    )
    out = {r.doc_id: r for r in audio_fingerprint(bad).collect()}
    assert out[1].fp_error is None
    assert out[2].fp_error is not None and out[3].fp_error is not None


def test_video_dhash_and_neardup(spark):
    """Video path: real AVI (DIB frames) container walk → per-frame dHash
    equals the closed form; frame-aligned banded join + ≥6/8 aggregation
    equals brute force; MJPEG containers and garbage error out (totality)."""
    from frappe_data_pipelines_spark.operators.avimini import avi_write
    from frappe_data_pipelines_spark.operators.imagehash import (
        documents_as_pattern_videos,
        synth_pattern_avi,
        video_frame_dhash,
        video_neardup_pairs,
    )

    def frame_closed(doc_id, t):
        seed, m, off, _ = _pattern_params(doc_id)
        pix = lambda r, c: (seed + (r * 16 + c) * m + t * 53 + off) % 256  # noqa: E731
        hi = lo = 0
        for r in range(8):
            for c in range(8):
                if pix(r, c + 1) > pix(r, c):
                    bit = 1 << ((r % 4) * 8 + c)
                    if r < 4:
                        hi |= bit
                    else:
                        lo |= bit
        return hi, lo

    n = 96
    docs = spark.range(n).withColumnRenamed("id", "doc_id")
    fh = video_frame_dhash(documents_as_pattern_videos(docs))
    rows = {(r.doc_id, r.frame_idx): r for r in fh.collect()}
    assert len(rows) == n * 8
    for d, t in ((0, 0), (5, 3), (95, 7)):
        r = rows[(d, t)]
        assert (r.dhash_hi, r.dhash_lo) == frame_closed(d, t), (d, t)

    got = {
        (r.doc_a, r.doc_b): r.n_close_frames
        for r in video_neardup_pairs(fh, 6, 6).collect()
    }
    hs = {(d, t): frame_closed(d, t) for d in range(n) for t in range(8)}

    def bands(h):
        hi, lo = h
        return [lo % 65536, lo >> 16, hi % 65536, hi >> 16]

    expected = {}
    for a in range(n):
        for b in range(a + 1, n):
            close = 0
            for t in range(8):
                ha, hb = hs[(a, t)], hs[(b, t)]
                d = bin(ha[0] ^ hb[0]).count("1") + bin(ha[1] ^ hb[1]).count("1")
                if d <= 6 and any(x == y for x, y in zip(bands(ha), bands(hb))):
                    close += 1
            if close >= 6:
                expected[(a, b)] = close
    assert got == expected and expected

    # totality: MJPEG-coded and corrupt containers produce error rows
    bad = spark.createDataFrame(
        [(1, bytearray(synth_pattern_avi(3))),
         (2, bytearray(avi_write([b"\xff\xd8notjpeg"], 9, 8))),
         (3, bytearray(b"RIFFjunk")),
         (4, None)],
        "doc_id long, content binary",
    )
    out = video_frame_dhash(bad).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert len(by_doc[1]) == 8 and all(r.video_error is None for r in by_doc[1])
    assert len(by_doc[2]) == 1 and by_doc[2][0].video_error is not None
    assert len(by_doc[3]) == 1 and by_doc[3][0].video_error is not None
    assert len(by_doc[4]) == 1 and by_doc[4][0].video_error is not None


def test_banded_pairs_hot_bucket_star_degrade(spark):
    """A band bucket past max_bucket_size degrades to star linking: output
    stays linear in bucket size (hub pairs only), surfaced pairs remain
    exact, and under the default cap the same input yields full pairwise
    output."""
    import pyspark.sql.functions as F

    from frappe_data_pipelines_spark.operators.imagehash import banded_hamming_pairs

    # 40 signatures identical in band 0 only (lo % 65536 == 7); the other
    # three bands are unique per doc, so exactly one bucket crosses the cap
    rows = [(d, d * 65537, 7 + (d << 16)) for d in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, dhash_hi long, dhash_lo long")

    capped = banded_hamming_pairs(df, max_hamming=64, max_bucket_size=10)
    got = capped.collect()
    # every surfaced pair is hub-anchored: doc_a == 0 (the min id), B-1 rows
    assert {r.doc_a for r in got} == {0}
    assert len(got) == 39
    # exactness of surfaced pairs holds: recompute hamming per row
    for r in got:
        a = rows[0]
        b = rows[r.doc_b]
        expect = bin(a[1] ^ b[1]).count("1") + bin(a[2] ^ b[2]).count("1")
        assert r.hamming == expect

    # same input under the default cap: full pairwise output (40*39/2)
    full = banded_hamming_pairs(df, max_hamming=64)
    assert full.count() == 40 * 39 // 2


def test_video_pairs_hot_bucket_star_degrade(spark):
    """A hot (frame, band, value) bucket degrades to hub linking: per-frame
    output linear in bucket size; under the default cap the same frame
    hashes yield full pairwise output."""
    from frappe_data_pipelines_spark.operators.imagehash import video_neardup_pairs

    # 30 videos, single frame 0, identical in band 0 only; all within
    # hamming of the hub so the pair aggregation keeps them
    rows = [(d, 0, d * 65537, 7 + (d << 16)) for d in range(30)]
    fh = spark.createDataFrame(
        rows, "doc_id long, frame_idx int, dhash_hi long, dhash_lo long"
    )
    capped = video_neardup_pairs(fh, max_hamming=64, min_close_frames=1, max_bucket_size=8)
    got = capped.collect()
    assert {r.doc_a for r in got} == {0} and len(got) == 29
    full = video_neardup_pairs(fh, max_hamming=64, min_close_frames=1)
    assert full.count() == 30 * 29 // 2


def test_dhash_jpeg_reencode_is_near_duplicate():
    """The whole point of perceptual hashing: a JPEG re-encode of the same
    pixels changes every byte but lands within a few dHash bits — and the
    hash of the decoded JPEG matches dhash_gray of its own decoded rows
    (the JPEG path is wired through the real jpegmini decoder)."""
    from frappe_data_pipelines_spark.operators.jpegmini import (
        jpeg_decode_gray,
        jpeg_encode_gray,
    )

    # a smooth 36x32 gradient survives quantization with small hash drift
    rows = [bytes(min(255, 40 + 3 * r + 4 * c) for c in range(36)) for r in range(32)]
    ref_hi, ref_lo = dhash_gray(36, 32, 1, rows)
    for quality in (95, 75):
        payload = jpeg_encode_gray(rows, quality=quality)
        w, h, hi, lo = dhash_payload(payload)
        assert (w, h) == (36, 32)
        # consistency: payload hash == hash of what the decoder yields
        dw, dh, drows = jpeg_decode_gray(payload)
        assert (hi, lo) == dhash_gray(dw, dh, 1, drows)
        drift = bin(hi ^ ref_hi).count("1") + bin(lo ^ ref_lo).count("1")
        assert drift <= 6, (quality, drift)

    with pytest.raises(ValueError):
        dhash_payload(b"\xff\xd8truncated-jpeg")


def test_incremental_join_finds_originals(spark):
    """banded_hamming_join: a re-rendered batch (extra_off=2) rediscovers
    its own originals with small Hamming, and matches exactly the
    brute-force banded contract against the corpus."""
    from frappe_data_pipelines_spark.operators.imagehash import banded_hamming_join

    n = 120
    docs = spark.range(n).withColumnRenamed("id", "doc_id")
    corpus = image_dhash(documents_as_pattern_images(docs))
    new = image_dhash(
        documents_as_pattern_images(
            docs.filter((docs.doc_id % 10) == 3), extra_off=2
        )
    )
    got = {
        (r.new_id, r.corpus_id): r.hamming
        for r in banded_hamming_join(new, corpus, max_hamming=6).collect()
    }

    def closed(doc_id, extra=0):
        seed, m, off, _ = _pattern_params(doc_id)
        off += extra
        pix = lambda r, c: (seed + (r * 16 + c) * m + off) % 256  # noqa: E731
        hi = lo = 0
        for r in range(8):
            for c in range(8):
                if pix(r, c + 1) > pix(r, c):
                    bit = 1 << ((r % 4) * 8 + c)
                    if r < 4:
                        hi |= bit
                    else:
                        lo |= bit
        return hi, lo

    def bands(h):
        hi, lo = h
        return [lo % 65536, lo >> 16, hi % 65536, hi >> 16]

    corpus_h = {d: closed(d) for d in range(n)}
    new_h = {d: closed(d, 2) for d in range(n) if d % 10 == 3}
    expected = {}
    for a, ha in new_h.items():
        for b, hb in corpus_h.items():
            d = bin(ha[0] ^ hb[0]).count("1") + bin(ha[1] ^ hb[1]).count("1")
            if d <= 6 and any(x == y for x, y in zip(bands(ha), bands(hb))):
                expected[(a, b)] = d
    assert got == expected
    # every re-rendered image rediscovers its own original
    assert all((d, d) in got for d in new_h), "a re-crawl missed its original"


@pytest.mark.parametrize("order", [1, -1])
def test_incremental_join_keeps_a_repeated_ids_exact_match(spark, order):
    """A new id carrying two signatures keeps the match either one makes,
    whatever their row order: the Hamming filter runs before the pair
    dedup, so the distance-16 candidate cannot shadow the exact one."""
    from frappe_data_pipelines_spark.operators.imagehash import banded_hamming_join

    schema = "doc_id long, dhash_hi long, dhash_lo long"
    new = spark.createDataFrame([(1, 0, 0), (1, 0, 0xFFFF0000)][::order], schema)
    corpus = spark.createDataFrame([(9, 0, 0)], schema)
    got = banded_hamming_join(new, corpus, max_hamming=6).collect()
    assert [tuple(r) for r in got] == [(1, 9, 0)]


def _band_family(spark, n: int):
    """(doc_id, dhash_hi, dhash_lo) for ``n`` signatures that share band 0
    (lo % 65536 == 7) and carry ``doc_id`` in the other three, so one
    bucket holds the corpus and two docs lie 3·popcount(a ^ b) apart."""
    rows = [(d, d * 65537, 7 + (d << 16)) for d in range(n)]
    return spark.createDataFrame(rows, "doc_id long, dhash_hi long, dhash_lo long")


@pytest.mark.parametrize("cap", [8, 1024])
def test_video_pairs_on_single_frames_equal_banded_pairs(spark, cap):
    """On one-frame videos the frame-aligned join is the image join: the
    same pairs at min_close_frames=1, with a hot bucket (cap 8) and
    without (the default cap)."""
    import pyspark.sql.functions as F

    from frappe_data_pipelines_spark.operators.imagehash import (
        banded_hamming_pairs,
        video_neardup_pairs,
    )

    hashes = _band_family(spark, 30)
    image = {(r.doc_a, r.doc_b) for r in banded_hamming_pairs(
        hashes, max_hamming=4, max_bucket_size=cap).collect()}
    frames = hashes.withColumn("frame_idx", F.lit(0))
    video = {(r.doc_a, r.doc_b) for r in video_neardup_pairs(
        frames, max_hamming=4, min_close_frames=1, max_bucket_size=cap).collect()}
    assert video == image and image
    if cap == 8:  # the hot bucket links to its hub only
        assert {a for a, _ in image} == {0}


def test_video_join_on_single_frames_equals_banded_join(spark):
    """On one-frame videos the incremental video join is the image join."""
    import pyspark.sql.functions as F

    from frappe_data_pipelines_spark.operators.imagehash import (
        banded_hamming_join,
        video_neardup_join,
    )

    corpus = _band_family(spark, 30)
    new = spark.createDataFrame(
        [(100, 3, 7), (101, 6, 7 + (2 << 16)), (101, 0xFFFF, 0), (102, 1 << 40, 1 << 20)],
        "doc_id long, dhash_hi long, dhash_lo long",
    )
    image = {(r.new_id, r.corpus_id) for r in banded_hamming_join(
        new, corpus, max_hamming=4).collect()}

    def frame0(df):
        return df.withColumn("frame_idx", F.lit(0))

    video = {(r.new_id, r.corpus_id) for r in video_neardup_join(
        frame0(new), frame0(corpus), max_hamming=4, min_close_frames=1).collect()}
    assert video == image and image


def test_fused_pattern_kernels_equal_composition(spark):
    """The fused synth+hash operators (one mapInPandas stage, no binary
    across the Arrow boundary) must be row-identical to the two-stage
    compositions they replace, for every modality and for the re-encode
    variant offsets the incremental doors use."""
    from frappe_data_pipelines_spark.operators.imagehash import (
        documents_as_pattern_videos,
        pattern_image_dhash,
        pattern_video_frame_dhash,
        video_frame_dhash,
    )
    from frappe_data_pipelines_spark.operators.multimodal import (
        audio_fingerprint,
        documents_as_wav_pattern,
        pattern_audio_fingerprint,
    )

    docs = spark.range(0, 40).withColumnRenamed("id", "doc_id")

    for off in (0, 2):
        composed = sorted(
            image_dhash(documents_as_pattern_images(docs, extra_off=off)).collect()
        )
        fused = sorted(pattern_image_dhash(docs, extra_off=off).collect())
        assert fused == composed

        composed_v = sorted(
            video_frame_dhash(documents_as_pattern_videos(docs, extra_off=off)).collect()
        )
        fused_v = sorted(pattern_video_frame_dhash(docs, extra_off=off).collect())
        assert fused_v == composed_v

    for v in (0, 1):
        composed_a = sorted(
            audio_fingerprint(documents_as_wav_pattern(docs, extra_v=v)).collect()
        )
        fused_a = sorted(pattern_audio_fingerprint(docs, extra_v=v).collect())
        assert fused_a == composed_a
