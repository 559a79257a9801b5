"""Benchmark harness: runs the engine's headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints the full result JSON line

    {"metric": "headline_suite_sec", "value": N, "unit": "sec",
     "queries": {...}, "sf": ...}

followed by a COMPACT summary line, followed by the FINAL stdout line: the
driver-contract object (metric/value/unit/sf) carrying the 65 headline
per-query timings at 2 decimals. The driver's artifact keeps only a
~2000-char stdout tail and parses the final JSON line; rounds 11-12 put the
full ``queries`` map only on the big first line (truncated away), so PERF's
per-query and scaling tables came back empty both rounds (VERDICT r12 task
1). The 65-entry map measures ~1.9k chars — the whole final line survives
the tail. The full object (all 73 rows, baseline comparison, adjudication)
is persisted to BENCH_LOCAL_LAST.json (sf0.1 runs only) as the next round's
adjudication prior.

Queries are timed through ``tools/measure.py`` (noop-format writes: the
whole plan runs, no rows are collected to the driver).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tools.measure import (  # noqa: E402
    CANARY,
    CLEAN_Q6_REF,
    bracket_verdict,
    moved,
    open_timer,
)

HEADLINE = [
    "flagship_chunk_embed_search",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q18_large_orders",
    "tpch_q6_forecast_revenue",
    "tpch_q8_market_share",
    "tpch_q21_waiting_orders",
    "c6_knn_topk",
    "b6_filtered_knn",
    "c5_find_similar",
    "embedding_neardup_pairs",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "bm25_keyword_search",
    "rrf_hybrid_fusion",
    "sessionization",
    "e1_chunk_enumeration",
    "chunk_recursive",
    "c1_permission_semi_join",
    "ann_lsh_pairs",
    "asof_join_purchase_click",
    "dedup_minhash_signatures",
    "multimodal_decode_meta",
    "j2_enrich_contexts",
    "tumbling_hourly_counts",
    "a2_extraction_dispatch",
    "range_join_click_window",
    "skew_salted_agg",
    "corpus_quality_filter",
    "dataset_splits",
    "percentile_price_by_priority",
    "extract_real_kernels",
    "corpus_segment_dedup",
    "exact_substring_spans",
    "exact_substring_spans_winnow",
    "j3_caption_dead_letter_audit",
    "pii_redaction",
    "intra_doc_repeat_len",
    "html_extract_main",
    "nb_quality_classifier",
    "warc_roundtrip_extract",
    "bloom_incremental_dedup",
    "heavy_hitters_cms",
    "approx_distinct_hll_registers",
    "priority_weighted_sample",
    # round-12: the KN bigram LM joins the build/serve split family —
    # the headline row is the persisted-LM scoring path; training moved
    # to BUILD_TIER (an LM is trained once per reference corpus); the
    # from-scratch kneser_ney_bigram_lm stays fully oracled in the gate
    "kneser_ney_cached",
    "unimax_language_budgets",
    "image_dhash_neardup",
    "soft_dedup_weights",
    "hard_negative_mining",
    "audio_fingerprint_neardup",
    "benchmark_span_decontaminate",
    "video_dhash_neardup",
    "exact_substring_scrub",
    # round-7 ninth session: near-dup-cluster splits, AC blocklist, shard
    # manifest (full-corpus ops; the suffix-slice frequency query stays out
    # — its wall time is fixed round-count overhead, not data)
    "cluster_safe_splits",
    "blocklist_term_audit",
    "training_shard_manifest",
    "ann_bq_search",
    # round-8/12: the exactly-oracled SQ8 quantizer tier — now the CACHED
    # serving row (persisted codes + sidecar grid); construction moved to
    # BUILD_TIER, the from-scratch ann_sq_search stays in the parity gate
    "ann_sq_search_cached",
    # round-12 (VERDICT r11 task 3): the suffix/∞-gram family's headline
    # rows are the SERVING paths only; construction moved to BUILD_TIER
    # below (it was being paid twice in the suite sum — once in-memory by
    # infinigram_backoff_inference, once persisted by suffix_index_build).
    # The uncached inference + token construction queries remain fully
    # oracled in the parity gate; they're just not double-billed here.
    "infinigram_query_cached",
    "substring_frequency_cached",
    "token_ngram_frequency_cached",
    "token_next_distribution_cached",
    # round-9: the ingest-door scrub (symmetric fingerprint-narrowed
    # expansion) joins the headline so the door's batch-side cost is
    # tracked per round, not only in STREAM_BENCH's latency view
    "incremental_substring_scrub",
]

# Construction costs, measured ONCE before the headline passes (warming
# the serving caches the cached queries read) and reported as their own
# tier — like ingest rates, not summed into the headline (VERDICT r11
# task 3: a build is paid once per corpus, so billing it per suite pass
# misprices the engine). Best-of-2: builds are multi-stage enough to
# deserve one retry against a contention window.
BUILD_TIER = [
    "suffix_index_build",
    "token_suffix_index_build",
    "sq_index_build",
    "kn_lm_build",
]

# Driver-contract continuity (round 12): every query name the r11 bench
# reported in its `queries` map keeps appearing there — entries may be
# ADDED, never removed or renamed. The four uncached/construction rows
# that the r11-task-3 restructure moved out of the headline SUM (their
# construction cost was being billed twice per suite pass: once here,
# once by the build tier / cached rows) are still timed every run —
# best-of-2 each, after the headline passes — and merged into the
# reported `queries` map alongside the build tier. Only `value` (the
# suite sum) excludes them. Caveat (ADVICE r12): these rows run best-of-2
# in a fully warmed session AFTER the headline passes (persisted indexes
# on disk, warm page cache), while earlier rounds measured them best-of-3
# round-robin mid-suite — read round-over-round deltas on these four rows
# as directional, not exact. Documented in OPTIMIZATION_r12.md.
LEGACY_TIER = [
    "kneser_ney_bigram_lm",
    "ann_sq_search",
    "infinigram_backoff_inference",
    "token_suffix_array_ranks",
]


def scrape_prior_tail(tail: str, known: set) -> dict:
    """name→seconds pairs regex-scraped from a driver-truncated bench
    ``tail`` string. Anchored on a terminating comma/brace so a timing cut
    off mid-digits at the truncation point is DROPPED rather than misread
    as a (wrong) prior (ADVICE r9)."""
    import re as _re

    return {
        m.group(1): float(m.group(2))
        for m in _re.finditer(
            r'"([a-z0-9_]+)":\s*(-?\d+\.?\d*)\s*[,}]', tail
        )
        if m.group(1) in known
    }


def load_prior_timings(here: str, known: set, canary: str,
                       sf: str = "0.1",
                       cpus: str | None = None) -> tuple[dict, str | None]:
    """(prior name→seconds, source filename) — prefers BENCH_LOCAL_LAST.json
    (the FULL object bench.py now writes on every sf-matching run, immune
    to the driver's tail truncation), then walks the NEWEST BENCH_r*.json
    whose record yields a prior containing the canary. The driver's capture
    sometimes truncates the bench line so hard that only adjudication rows
    survive (BENCH_r09 is like that) — walking backwards keeps a real
    baseline instead of silently comparing against nothing.

    ``cpus``: the local record is only a valid per-query prior when it was
    measured at the SAME core count — the r12 driver's c8 run seeded the
    r13 c32 adjudication and flagged two untouched queries "real" purely
    on the core-count delta (BENCH_RUNS_r13.json.bench_run1). A record
    with a mismatched/absent cpus stamp is skipped in favor of the
    walk-back (whose canary normalization then carries the comparison)."""
    import glob as _glob
    import json as _json
    import re as _re

    local = os.path.join(here, "BENCH_LOCAL_LAST.json")
    if os.path.isfile(local):
        try:
            with open(local) as f:
                rec = _json.load(f)
            cand = rec.get("queries") or {}
            cpus_ok = cpus is None or str(rec.get("cpus")) == str(cpus)
            if (str(rec.get("sf")) == str(sf) and cand.get(canary, 0) > 0
                    and cpus_ok):
                return cand, "BENCH_LOCAL_LAST.json"
        except Exception:  # noqa: BLE001 — unreadable local record: walk back
            pass
    benches = sorted(
        _glob.glob(os.path.join(here, "BENCH_r*.json")),
        key=lambda p: int(_re.search(r"BENCH_r0*(\d+)", p).group(1)),
    )
    for path in reversed(benches):
        with open(path) as f:
            rec = _json.load(f)
        cand = (rec.get("queries")
                or (rec.get("parsed") or {}).get("queries")
                or scrape_prior_tail(rec.get("tail", ""), known))
        if cand.get(canary, 0) > 0:
            return cand, os.path.basename(path)
    return {}, None


def _cpus_stamp() -> str:
    """The run's RESOLVED core count: ``local[*]`` and an explicit
    ``SPARK_GRAFT_CPUS=<n_cores>`` on the same host are the same
    measurement environment, so stamp the number — otherwise a '*' record
    would spuriously mismatch the driver's explicit count."""
    raw = os.environ.get("SPARK_GRAFT_CPUS", "*")
    return str(os.cpu_count()) if raw == "*" else raw


def final_contract_line(timings: dict, total: float, sf) -> str:
    """The FINAL stdout line (VERDICT r12 task 1): the original driver
    contract — metric/value/unit/sf/queries — with the headline timings at
    2 decimals. Sized to survive the driver's ~2000-char stdout tail whole
    (measured ~1.96k chars at 65 queries); if the map ever outgrows the
    budget, precision degrades to 1 decimal, then to whole seconds (error
    rows keep -1.0). A line that still does not fit raises ValueError
    instead of being cut silently by the tail."""
    final = {"metric": "headline_suite_sec", "value": total, "unit": "sec",
             "sf": sf}
    for digits in (2, 1, None):
        final["queries"] = {
            n: t if t < 0 else round(t, digits) for n, t in timings.items()
        }
        line = json.dumps(final, separators=(",", ":"))
        if len(line) <= 1992:  # tail is 2000 chars; leave room for the newline
            return line
    raise ValueError(
        f"final contract line is {len(line)} chars even at whole seconds; "
        "the driver keeps only the last 2000"
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from frappe_data_pipelines_spark.sources.tables import load_table

    timer = open_timer("fdp-bench", sf_dir)
    spark = timer.spark

    # build tier first: constructions run once, their caches serve the
    # cached headline rows below
    build_tier = timer.tier(BUILD_TIER, 2, "build")
    spark.catalog.clearCache()

    timings = timer.round_robin(HEADLINE, 3)
    total = round(sum(t for t in timings.values() if t > 0), 3)

    # legacy tier: timed (best-of-2) so the r11 query names stay in the
    # reported map, but not summed into `value` (see LEGACY_TIER note)
    legacy = timer.tier(LEGACY_TIER, 2, "legacy")
    spark.catalog.clearCache()
    # the reported `queries` map: headline + build tier + legacy tier —
    # a superset of every prior round's keys
    report_queries = {**timings, **build_tier, **legacy}

    # --- automatic mover adjudication (VERDICT r8 task 5, r9 task 2) -------
    # Any query moving against the latest recorded prior (tools.measure's
    # mover rule) gets an ISOLATED best-of-3 re-run right here, and the A/B
    # verdict ships inside the artifact — the manual late-day-throttling
    # investigations of rounds 6-8 (BENCH_RUNS_*.json) become a machine
    # step.
    #
    # CANARY NORMALIZATION (VERDICT r9: the r9 adjudicator labeled three
    # queries whose plans had ZERO code changes "real" inside a window the
    # canary showed 2.17x throttled): every cross-round comparison divides
    # the current reading by the same-window canary ratio (current q6 /
    # prior q6) before labeling, and the canary block ships in the
    # artifact. If q6 itself ever regresses by CODE, the plan audit + its
    # own BASELINE row catch it — normalization only launders host drift,
    # not plan changes.
    #
    # BRACKETED per-mover adjudication (VERDICT r10 task 1): sampling the
    # canary once for the whole phase let a throttle burst inside one
    # mover's isolated A/B go unseen (the host swings 2.3-5.5x within
    # minutes), so each mover gets its OWN canary bracket, retried once if
    # unstable (tools.measure.bracket_verdict).
    adjudication = []
    canary_block = None
    try:
        here = os.path.dirname(os.path.abspath(__file__))
        prior, prior_src = load_prior_timings(
            here, set(timings), CANARY, sf, cpus=_cpus_stamp()
        )
        ratio = 1.0
        if prior.get(CANARY, 0) > 0 and timings.get(CANARY, 0) > 0:
            ratio = timings[CANARY] / prior[CANARY]
            canary_block = {
                "query": CANARY,
                "prior_round": round(prior[CANARY], 3),
                "prior_source": prior_src,
                "suite_best3": timings[CANARY],
                "suite_ratio": round(ratio, 3),
            }
        movers = [
            n for n, t in timings.items()
            if n != CANARY and t > 0 and prior.get(n, 0) > 0
            and moved(t / ratio, prior[n])
        ]
        if prior.get(CANARY, 0) > 0:
            for name in movers:
                best, before, after = timer.bracket(
                    lambda: timer.best_of(name, 3)[0],
                    f"adjudicate:{name}", attempts=2,
                )
                adjudication.append({
                    "query": name,
                    "prior_round": round(prior[name], 3),
                    "suite_best3": timings[name],
                    **bracket_verdict(best, before, after,
                                      prior[name], prior[CANARY]),
                })
        spark.catalog.clearCache()
    except Exception as e:  # noqa: BLE001 — adjudication must never sink the bench
        print(f"# bench adjudication error: {e}", file=sys.stderr)

    # streaming ingest throughput (docs/sec, steady-state: JVM/stream init
    # already warmed by the suite above); measured for BOTH sink tiers —
    # parquet-append (default) and the exactly-once MERGE sink (VERDICT r4
    # #6: the transactional path needs a tracked number before it can be
    # the default)
    def measure_ingest(exactly_once: bool) -> float | None:
        import shutil
        import tempfile

        from frappe_data_pipelines_spark.streaming.ingest import start_ingest_stream

        best = None
        # best-of-2 fresh streams: stream wall time is dominated by
        # checkpoint fsyncs + first-trigger init, both hostage to disk
        # contention windows — same rationale as the round-robin above
        for _ in range(2):
            tmp = tempfile.mkdtemp(prefix="fdp_bench_ingest_")
            inp, outp, ckpt = (os.path.join(tmp, d) for d in ("in", "out", "ckpt"))
            docs = load_table(spark, sf_dir, "documents")
            docs.coalesce(8).write.parquet(inp)
            n_docs = docs.count()
            t0 = time.time()
            q_stream = start_ingest_stream(
                spark, inp, outp, ckpt, exactly_once=exactly_once
            )
            q_stream.awaitTermination(300)
            rate = round(n_docs / (time.time() - t0), 1)
            best = rate if best is None else max(best, rate)
            shutil.rmtree(tmp, ignore_errors=True)
        return best

    ingest_rate = exactly_once_rate = None
    try:
        ingest_rate = measure_ingest(exactly_once=False)
        exactly_once_rate = measure_ingest(exactly_once=True)
    except Exception as e:  # noqa: BLE001
        print(f"# bench ingest error: {e}", file=sys.stderr)

    out = {
        "metric": "headline_suite_sec",
        "value": total,
        "unit": "sec",
        "queries": report_queries,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # core-count stamp: a per-query prior is only core-comparable to a
        # run at the same count (see load_prior_timings)
        "cpus": _cpus_stamp(),
    }
    if build_tier:
        out["build_tier_sec"] = build_tier
    if ingest_rate is not None:
        out["ingest_docs_per_sec"] = ingest_rate
    if exactly_once_rate is not None:
        out["ingest_exactly_once_docs_per_sec"] = exactly_once_rate
    if canary_block:
        out["canary"] = canary_block
    if adjudication:
        out["adjudication"] = adjudication

    # --- BASELINE v3 comparison (VERDICT r11 task 1) ---------------------
    # BASELINE_V3.json (written by tools/repin_baseline.py) holds
    # bracketed, canary-normalized pins; compare this run's readings after
    # normalizing by the SAME clean-q6 anchor, so both sides of every
    # ratio are in clean-window units and a throttled host can't fake a
    # regression (or an improvement).
    try:
        here = os.path.dirname(os.path.abspath(__file__))
        v3_path = os.path.join(here, "BASELINE_V3.json")
        if str(out["sf"]) == "0.1" and os.path.isfile(v3_path):
            with open(v3_path) as f:
                v3 = json.load(f)
            anchor = v3.get("clean_q6_ref", CLEAN_Q6_REF)
            cur_ratio = (
                timings.get(CANARY, 0) / anchor
                if timings.get(CANARY, 0) > 0 else None
            )
            if cur_ratio:
                per = {}
                for name, row in v3.get("rows", {}).items():
                    pin = row.get("normalized")
                    t = timings.get(name, 0)
                    if pin and pin > 0 and t > 0:
                        norm = t / cur_ratio
                        per[name] = {
                            "pin_normalized": pin,
                            "current_normalized": round(norm, 3),
                            "ratio": round(norm / pin, 3),
                        }
                if per:
                    s_pin = sum(p["pin_normalized"] for p in per.values())
                    s_cur = sum(p["current_normalized"] for p in per.values())
                    out["baseline_v3"] = {
                        "source": "BASELINE_V3.json",
                        "window_ratio": round(cur_ratio, 3),
                        "sum_pin_normalized": round(s_pin, 3),
                        "sum_current_normalized": round(s_cur, 3),
                        "suite_vs_baseline": round(s_cur / s_pin, 3),
                        "per_query": per,
                    }
    except Exception as e:  # noqa: BLE001 — comparison must never sink the bench
        print(f"# bench baseline-v3 error: {e}", file=sys.stderr)

    # FULL object to a local artifact (next round's adjudication prior —
    # immune to the driver's tail truncation; only for the headline sf so
    # an sf0.01 iteration run never poisons the prior)
    if str(out["sf"]) == "0.1":
        try:
            here = os.path.dirname(os.path.abspath(__file__))
            with open(os.path.join(here, "BENCH_LOCAL_LAST.json"), "w") as f:
                json.dump(out, f)
        except Exception as e:  # noqa: BLE001 — artifact write must not sink the bench
            print(f"# bench local-artifact error: {e}", file=sys.stderr)

    print(json.dumps(out))
    # COMPACT summary line (VERDICT r10 task 5): small enough that its
    # trailing fields survive the ~2000-char stdout tail alongside the
    # final per-query line below — suite total, canary, ingest rates,
    # verdicts, worst offenders.
    slowest = dict(sorted(
        ((n, t) for n, t in timings.items() if t > 0),
        key=lambda kv: -kv[1],
    )[:5])
    # key order matters: only this line's trailing ~40 chars survive the
    # tail once the final per-query line follows, so the single most
    # valuable scalar (baseline_v3 suite ratio) goes LAST
    compact = {
        "metric": "headline_suite_sec",
        "value": total,
        "unit": "sec",
        "sf": out["sf"],
        "n_queries": sum(1 for t in timings.values() if t > 0),
        "n_errors": sum(1 for t in timings.values() if t < 0),
        "build_tier_sec": build_tier,
        "ingest_docs_per_sec": ingest_rate,
        "ingest_exactly_once_docs_per_sec": exactly_once_rate,
        "slowest5": slowest,
        "canary": canary_block,
        "verdicts": {a["query"]: a["verdict"] for a in adjudication},
        "baseline_v3": (out.get("baseline_v3") or {}).get("suite_vs_baseline"),
    }
    print(json.dumps(compact))
    # FINAL stdout line (VERDICT r12 task 1): the driver parses the final
    # JSON line of its ~2000-char tail; for two rounds that line carried no
    # `queries` map, so the driver's per-query and scaling adjudication ran
    # blind (PERF n_common=0). The 8 build/legacy aux rows would push the
    # line past the tail budget, so they ride the full line +
    # BENCH_LOCAL_LAST.json instead (they are not part of `value` and not
    # in the round-over-round common set).
    print(final_contract_line(timings, total, out["sf"]))


if __name__ == "__main__":
    main()
