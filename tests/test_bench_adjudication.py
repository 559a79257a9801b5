"""bench.py adjudication plumbing (ADVICE r9 + VERDICT r9 task 2).

The harness itself needs a Spark session and minutes of wall time; these
tests cover the two pure pieces the round-9 judge flagged: the
truncated-tail prior scraper (a digit cut off mid-number must be dropped,
not misread) and the canary-normalized verdict math.
"""

from __future__ import annotations

from bench import scrape_prior_tail


def test_tail_scraper_drops_number_cut_at_truncation_point():
    known = {"tpch_q1_pricing_summary", "c6_knn_topk", "dedup_minhash_lsh"}
    tail = (
        '"queries": {"tpch_q1_pricing_summary": 0.84, '
        '"c6_knn_topk": 0.512, "dedup_minhash_lsh": 1.2'
    )  # truncated mid-record: 1.2 might really be 1.234 — no terminator
    got = scrape_prior_tail(tail, known)
    assert got == {"tpch_q1_pricing_summary": 0.84, "c6_knn_topk": 0.512}


def test_tail_scraper_keeps_terminated_pairs_and_filters_unknown():
    tail = '{"a_query": 1.5, "not_known": 2.0, "b_query": 0.3}'
    got = scrape_prior_tail(tail, {"a_query", "b_query"})
    assert got == {"a_query": 1.5, "b_query": 0.3}


def test_tail_scraper_handles_negative_and_integer_values():
    tail = '{"err_query": -1.0, "int_query": 3}'
    got = scrape_prior_tail(tail, {"err_query", "int_query"})
    assert got == {"err_query": -1.0, "int_query": 3.0}


def test_canary_normalization_relabels_throttle_drift_as_environmental():
    """The r9 failure mode in miniature: a 2.17x-throttled host makes an
    untouched query read 2x its prior. Raw labeling calls it 'real';
    dividing by the same-window canary ratio must not."""
    prior = 1.0
    measured = 2.0          # same plan, throttled host
    canary_ratio = 2.17     # q6 drift measured in the same window
    norm = measured / canary_ratio
    assert abs(norm - prior) <= max(0.15 * prior, 0.3)  # environmental
    # and a genuine 3x regression still surfaces through the same math
    real = 6.0 / canary_ratio
    assert abs(real - prior) > max(0.15 * prior, 0.3)


def test_bench_module_compiles_and_exposes_contract():
    """The driver execs bench.py directly; a syntax error or a renamed
    entry would only surface at round end. Compile-check it in-suite."""
    src = open("bench.py").read()
    compile(src, "bench.py", "exec")
    assert "def main" in src and "scrape_prior_tail" in src
    assert '"canary_ratio"' in src and '"normalized_best3"' in src


def test_prior_walks_back_past_truncated_artifacts(tmp_path):
    """BENCH_r09's driver capture is truncated so early only adjudication
    rows survive — the prior loader must walk BACK to the newest artifact
    that actually yields per-query timings including the canary (r8,
    whose q6 is the 0.199s clean reference). Run against a copy holding
    ONLY the r02-r09 BENCH_r*.json artifacts, so neither a
    BENCH_LOCAL_LAST.json in the repo root nor a later round's complete
    artifact shadows the walk-back path under test."""
    import glob
    import shutil

    from bench import HEADLINE, load_prior_timings

    for p in glob.glob("BENCH_r0*.json"):
        shutil.copy(p, tmp_path)
    prior, src = load_prior_timings(
        str(tmp_path), set(HEADLINE), "tpch_q6_forecast_revenue"
    )
    assert src == "BENCH_r08.json"
    assert prior["tpch_q6_forecast_revenue"] == 0.199
    assert len(prior) >= 50


def test_prior_prefers_full_local_artifact_when_sf_matches(tmp_path):
    """VERDICT r10 task 5: bench.py persists its full output object to
    BENCH_LOCAL_LAST.json; the prior loader prefers it over tail-scraped
    driver artifacts — but ONLY when the sf matches (an sf0.01 iteration
    run must never poison the sf0.1 prior)."""
    import glob
    import json
    import shutil

    from bench import load_prior_timings

    for p in glob.glob("BENCH_r0*.json"):
        shutil.copy(p, tmp_path)
    local = {"sf": 0.1, "queries": {"tpch_q6_forecast_revenue": 0.25, "x": 1.0}}
    (tmp_path / "BENCH_LOCAL_LAST.json").write_text(json.dumps(local))
    known = {"tpch_q6_forecast_revenue", "x"}
    prior, src = load_prior_timings(
        str(tmp_path), known, "tpch_q6_forecast_revenue", sf="0.1"
    )
    assert src == "BENCH_LOCAL_LAST.json" and prior["x"] == 1.0
    # sf mismatch: falls back to the walk-back
    prior2, src2 = load_prior_timings(
        str(tmp_path), known, "tpch_q6_forecast_revenue", sf="0.01"
    )
    assert src2 == "BENCH_r08.json"


def test_bracketed_verdict_rule():
    """VERDICT r10 task 1 in miniature: a mover whose before/after canary
    bracket disagrees >1.3x must be unadjudicable (never 'real'); a stable
    bracket normalizes by the geometric mean of the two ratios."""
    prior_q6 = 0.2
    # unstable bracket: burst landed inside the mover's A/B
    c_b, c_a = 0.2, 0.45
    assert max(c_b, c_a) / min(c_b, c_a) > 1.3  # → unadjudicable
    # stable bracket, throttled window: untouched plan reads 2x its prior
    c_b, c_a = 0.41, 0.39
    assert max(c_b, c_a) / min(c_b, c_a) <= 1.3
    g_ratio = (c_b * c_a) ** 0.5 / prior_q6
    norm = 2.0 / g_ratio  # prior was 1.0
    assert abs(norm - 1.0) <= max(0.15, 0.3)  # environmental
    src = open("bench.py").read()
    assert '"canary_before"' in src and '"canary_after"' in src
    assert '"unadjudicable"' in src and "bracket_spread" in src


def test_headline_and_build_tier_names_resolve_in_catalog():
    """Every bench row must name a registered catalog query — a renamed
    query would otherwise only surface as -1.0 timings at round end. Also
    pins the r12 restructure: construction queries live in BUILD_TIER,
    not the headline sum, and the cached serving twins are headline."""
    from bench import BUILD_TIER, HEADLINE
    from frappe_data_pipelines_spark.plans.catalog import queries

    q = queries()
    missing = [n for n in HEADLINE + BUILD_TIER if n not in q]
    assert not missing, f"bench names not in catalog: {missing}"
    assert not set(HEADLINE) & set(BUILD_TIER)
    for build in ("suffix_index_build", "token_suffix_index_build",
                  "sq_index_build"):
        assert build in BUILD_TIER
    for serving in ("infinigram_query_cached", "substring_frequency_cached",
                    "token_ngram_frequency_cached",
                    "token_next_distribution_cached", "ann_sq_search_cached"):
        assert serving in HEADLINE
    assert "infinigram_backoff_inference" not in HEADLINE  # double-pay
    assert "ann_sq_search" not in HEADLINE  # cached twin serves instead


def test_final_contract_line_fits_driver_tail_and_parses():
    """VERDICT r12 task 1: the driver keeps a ~2000-char stdout tail and
    parses the FINAL JSON line; two rounds of PERF ran per-query-blind
    because that line had no `queries` map. The final line must (a) be the
    driver contract (metric/value/unit/sf/queries), (b) carry every
    headline timing, and (c) fit the tail whole even with pessimistic
    per-query values."""
    import json

    from bench import HEADLINE, final_contract_line

    # pessimistic: every query at a 2-digit-seconds reading
    timings = {n: 12.345 for n in HEADLINE}
    line = final_contract_line(timings, 802.4, 0.1)
    assert len(line) <= 1990, f"final line {len(line)} chars > tail budget"
    rec = json.loads(line)
    assert rec["metric"] == "headline_suite_sec"
    assert rec["value"] == 802.4 and rec["unit"] == "sec" and rec["sf"] == 0.1
    assert set(rec["queries"]) == set(HEADLINE)
    # realistic sub-10s values keep full 2-decimal precision
    line2 = final_contract_line({n: 1.234 for n in HEADLINE}, 80.2, 0.1)
    assert json.loads(line2)["queries"][HEADLINE[0]] == 1.23


def test_prior_skips_core_count_mismatched_local_record(tmp_path):
    """A BENCH_LOCAL_LAST written at one core count must not seed the
    adjudication of a run at another: the r12 driver's c8 record flagged
    two untouched queries 'real' in the r13 c32 run purely on the
    core-count delta. Mismatched (or absent-cpus-stamped records against a
    requested count) fall back to the walk-back; matching stamps are
    used."""
    import glob
    import json
    import shutil

    from bench import load_prior_timings

    for p in glob.glob("BENCH_r0*.json"):
        shutil.copy(p, tmp_path)
    rec = {"sf": 0.1, "cpus": "8",
           "queries": {"tpch_q6_forecast_revenue": 0.25, "x": 1.0}}
    (tmp_path / "BENCH_LOCAL_LAST.json").write_text(json.dumps(rec))
    known = {"tpch_q6_forecast_revenue", "x"}
    # same count -> local record used
    prior, src = load_prior_timings(
        str(tmp_path), known, "tpch_q6_forecast_revenue", sf="0.1", cpus="8"
    )
    assert src == "BENCH_LOCAL_LAST.json"
    # different count -> walk-back
    prior2, src2 = load_prior_timings(
        str(tmp_path), known, "tpch_q6_forecast_revenue", sf="0.1", cpus="*"
    )
    assert src2 == "BENCH_r08.json"
    # a record without a cpus stamp cannot prove its core count -> walk-back
    rec.pop("cpus")
    (tmp_path / "BENCH_LOCAL_LAST.json").write_text(json.dumps(rec))
    prior3, src3 = load_prior_timings(
        str(tmp_path), known, "tpch_q6_forecast_revenue", sf="0.1", cpus="32"
    )
    assert src3 == "BENCH_r08.json"
    # no requested count: the unstamped record is still used
    prior4, src4 = load_prior_timings(
        str(tmp_path), known, "tpch_q6_forecast_revenue", sf="0.1"
    )
    assert src4 == "BENCH_LOCAL_LAST.json"
