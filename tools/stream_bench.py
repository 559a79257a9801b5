"""Streaming latency/throughput bench: feeds document files into the ingest
stream one batch at a time and measures per-micro-batch latency percentiles
(arrival → the micro-batch's job rows durably written, which happens after
the chunk sink in the same batch) plus steady-state docs/sec.

Complements bench.py's bulk-ingest rate with the latency view a streaming
pipeline is judged on (SURVEY §2.I): p50/p95 micro-batch latency under a
steady trickle — measured for BOTH door configurations so the cost of the
round-7 ingest doors is visible (VERDICT r7 #8):

* ``doors_off`` — the plain chunk→embed path;
* ``doors_on``  — exact-substring scrub against a standing corpus
  (winnow fingerprints persisted once per stream lifetime) plus the
  Aho-Corasick blocklist screen, both at the door.

Artifact: STREAM_BENCH.json.

Usage: python tools/stream_bench.py [sf_dir] [n_waves] [docs_per_wave]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.measure import CLEAN_Q6_REF, Timer, canary_ratio  # noqa: E402


def pctl(xs: list[float], p: float) -> float:
    s = sorted(xs)
    i = min(len(s) - 1, int(round(p * (len(s) - 1))))
    return s[i]


def run_config(
    spark, waves, docs_per_wave: int, scrub_against=None, blocklist_terms=None
) -> dict:
    from frappe_data_pipelines_spark.streaming.ingest import start_ingest_stream

    tmp = tempfile.mkdtemp(prefix="fdp_stream_bench_")
    inp, outp, ckpt = (os.path.join(tmp, d) for d in ("in", "out", "ckpt"))
    os.makedirs(inp)

    q = start_ingest_stream(
        spark,
        inp,
        outp,
        ckpt,
        max_files_per_trigger=1,
        available_now=False,
        scrub_against=scrub_against,
        blocklist_terms=blocklist_terms,
    )

    jobs_dir = os.path.join(outp, "records", "sink=jobs")

    def jobs_rows() -> int:
        # job rows land in the batch's single unified write (round 10) —
        # parquet part-files appear in the final dir at JOB COMMIT, so a
        # new file == the batch durably complete, and they grow for every
        # wave regardless of how many docs the doors dead-letter. Counted
        # via the filesystem: the previous spark.read...count() poll every
        # 200 ms was ~30 competing Spark jobs inside each measured window,
        # inflating the very latency it measured.
        try:
            return sum(
                1 for f in os.listdir(jobs_dir) if f.endswith(".parquet")
            )
        except OSError:
            return 0

    # wave 0 warms the stream (JVM source init, first python workers,
    # and — doors_on — the one-time corpus fingerprint persist)
    latencies: list[float] = []
    total_docs = 0
    t_start = None
    for i, w in enumerate(waves):
        before = jobs_rows()
        t0 = time.time()
        w.write.mode("append").parquet(inp)
        deadline = t0 + 300
        while time.time() < deadline:
            if jobs_rows() > before:
                break
            time.sleep(0.2)
        dt = time.time() - t0
        if i == 0:
            t_start = time.time()
        else:
            latencies.append(dt)
            total_docs += docs_per_wave
    steady_sec = time.time() - t_start
    # idle-stop: a mid-batch interrupt trips Spark's interruption-
    # classification regex on a huge py4j message (see
    # streaming/ingest.stop_streaming_query) — stop between triggers
    from frappe_data_pipelines_spark.streaming.ingest import stop_streaming_query

    stop_streaming_query(q)
    for cache_attr in ("scrub_corpus_fp", "scrub_corpus_doc_fp"):
        cache = getattr(q, cache_attr, None)
        if cache is not None:
            cache.unpersist()
    shutil.rmtree(tmp, ignore_errors=True)
    return {
        "p50_batch_latency_sec": round(pctl(latencies, 0.50), 3),
        "p95_batch_latency_sec": round(pctl(latencies, 0.95), 3),
        "max_batch_latency_sec": round(max(latencies), 3),
        "steady_docs_per_sec": round(total_docs / steady_sec, 1),
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_waves = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    docs_per_wave = int(sys.argv[3]) if len(sys.argv) > 3 else 200

    from pyspark.sql import functions as F

    from frappe_data_pipelines_spark.session import get_spark
    from frappe_data_pipelines_spark.sources.tables import load_table

    spark = get_spark(app_name="stream-bench")
    spark.sparkContext.setLogLevel("ERROR")

    n_stream = n_waves * docs_per_wave
    all_docs = load_table(spark, sf_dir, "documents")
    docs = all_docs.limit(n_stream).cache()
    waves = [
        docs.filter((docs.doc_id % n_waves) == i).coalesce(1) for i in range(n_waves)
    ]
    [w.count() for w in waves]
    streamed_ids = {r.doc_id for r in docs.select("doc_id").collect()}

    # standing corpus for the scrub door: a DISJOINT slice of the corpus
    # (scrubbing the streamed docs against themselves would cut everything
    # to empty and measure only the dead-letter path)
    corpus = (
        all_docs.filter(~F.col("doc_id").isin(list(streamed_ids)))
        .limit(2 * n_stream)
        .select("doc_id", "text")
        .cache()
    )
    corpus.count()
    terms = spark.createDataFrame(
        [(1, "zzxqunobtanium"), (2, "qqzzforbidden")], "term_id long, term string"
    )

    timer = Timer(spark, sf_dir)

    def bracketed(label, fn):
        # every artifact row carries its own canary context (VERDICT r10
        # task 3: a doors_on_10x_waves 549->318 docs/s move shipped with
        # no canary stamp, so environment vs plan was undecidable). No
        # cache drop: the waves and the scrub corpus are cached up front
        # so the stream's timed writes do not re-read them.
        res, c_b, c_a = timer.bracket(fn, f"stream:{label}", clear_cache=False)
        res["canary_before_sec"] = round(c_b, 3)
        res["canary_after_sec"] = round(c_a, 3)
        res["canary_ratio"] = round(canary_ratio(c_b, c_a, CLEAN_Q6_REF), 3)
        return res

    off = bracketed("doors_off", lambda: run_config(spark, waves, docs_per_wave))
    on = bracketed("doors_on", lambda: run_config(
        spark, waves, docs_per_wave, scrub_against=corpus, blocklist_terms=terms
    ))

    # doors-on at 10x the wave size: the door's cost is FIXED per
    # micro-batch (scrub join + AC pass stage overhead), so per-doc
    # throughput should rise roughly with the wave size — this config
    # makes that amortization measurable instead of asserted
    big_per_wave = docs_per_wave * 10
    big_n_waves = max(4, n_waves // 2)
    n_big = big_n_waves * big_per_wave
    big_docs = all_docs.limit(n_big).cache()
    big_waves = [
        big_docs.filter((big_docs.doc_id % big_n_waves) == i).coalesce(1)
        for i in range(big_n_waves)
    ]
    [w.count() for w in big_waves]
    big_ids = {r.doc_id for r in big_docs.select("doc_id").collect()}
    big_corpus = (
        all_docs.filter(~F.col("doc_id").isin(list(big_ids)))
        .limit(n_big)
        .select("doc_id", "text")
        .cache()
    )
    big_corpus.count()
    on_big = bracketed("doors_on_10x_waves", lambda: run_config(
        spark, big_waves, big_per_wave,
        scrub_against=big_corpus, blocklist_terms=terms,
    ))
    on_big["docs_per_wave"] = big_per_wave
    on_big["waves"] = big_n_waves

    out = {
        "sf_dir": sf_dir,
        "waves": n_waves,
        "docs_per_wave": docs_per_wave,
        "doors_off": off,
        "doors_on": on,
        "doors_on_10x_waves": on_big,
        # legacy top-level keys mirror doors_off (pre-r8 artifact shape)
        **off,
        "note": "latency = file arrival -> the micro-batch's job rows durably "
        "readable (the last sink write of the batch; poll 200ms); wave 0 "
        "excluded as stream warmup. doors_on = exact-substring scrub vs a "
        "disjoint standing corpus + Aho-Corasick blocklist screen at the "
        "door; doors_off = plain chunk->embed. doors_on_10x_waves = the "
        "same doors with 10x docs per micro-batch: door cost is per-batch "
        "stage overhead, so docs/sec amortizes toward the doors-off rate.",
    }
    print(json.dumps(out, indent=2))
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "STREAM_BENCH.json"), "w") as f:
        json.dump(out, f, indent=2)


if __name__ == "__main__":
    main()
