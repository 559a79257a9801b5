"""bench.py adjudication plumbing (ADVICE r9 + VERDICT r9 task 2).

The harness itself needs a Spark session and minutes of wall time; these
tests cover the pure pieces: the truncated-tail prior scraper (a digit
cut off mid-number must be dropped, not misread), the prior loader, the
final contract line, and ``tools.measure.bracket_verdict`` — the
canary-normalized verdict every bracketed mover gets.
"""

from __future__ import annotations

import pytest

from bench import scrape_prior_tail
from tools.measure import bracket_verdict

# the adjudication record fields for each verdict, as bench.py ships them
UNSTABLE_KEYS = {"isolated_best3", "canary_before", "canary_after",
                 "bracket_spread", "verdict"}
STABLE_KEYS = UNSTABLE_KEYS | {"canary_ratio", "normalized_best3"}


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
    prior, prior_q6 = 1.0, 0.2
    throttled_q6 = 2.17 * prior_q6  # q6 drift measured in the same window
    rec = bracket_verdict(2.0, throttled_q6, throttled_q6, prior, prior_q6)
    assert rec["canary_ratio"] == 2.17
    assert rec["verdict"] == "environmental"
    # and a genuine 3x regression still surfaces through the same math
    rec = bracket_verdict(6.0, throttled_q6, throttled_q6, prior, prior_q6)
    assert rec["verdict"] == "real"
    assert set(rec) == STABLE_KEYS


def test_bench_module_compiles_and_exposes_contract():
    """The driver execs bench.py directly; a syntax error or a renamed
    entry would only surface at round end. Compile-check it in-suite, and
    pin the adjudication record fields its verdict function returns."""
    src = open("bench.py").read()
    compile(src, "bench.py", "exec")
    assert "def main" in src and "scrape_prior_tail" in src
    rec = bracket_verdict(1.0, 0.2, 0.2, 1.0, 0.2)
    assert "canary_ratio" in rec and "normalized_best3" in rec


def test_bench_tooling_imports():
    """bench.py and the measurement tools import without a Spark session,
    so a dangling reference to a removed tool or a moved helper fails
    here, not when the tool is next run."""
    import importlib

    entries = {"bench": "main", "tools.measure": "open_timer",
               "tools.ab_bench": "main", "tools.repin_baseline": "main",
               "tools.stream_bench": "main"}
    for module, entry in entries.items():
        assert callable(getattr(importlib.import_module(module), entry))


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
    # unstable bracket: burst landed inside the mover's A/B — even a
    # reading 5x its prior is not called real
    for best in (2.0, 5.0):
        rec = bracket_verdict(best, 0.2, 0.45, 1.0, prior_q6)
        assert rec["verdict"] == "unadjudicable"
        assert rec["bracket_spread"] == 2.25
        assert set(rec) == UNSTABLE_KEYS
    # stable bracket, throttled window: untouched plan reads 2x its prior
    rec = bracket_verdict(2.0, 0.41, 0.39, 1.0, prior_q6)
    assert rec["verdict"] == "environmental"
    g_ratio = (0.41 * 0.39) ** 0.5 / prior_q6
    assert rec["canary_ratio"] == round(g_ratio, 3)
    assert rec["normalized_best3"] == round(2.0 / g_ratio, 3)
    assert (rec["canary_before"], rec["canary_after"]) == (0.41, 0.39)
    assert set(rec) == STABLE_KEYS
    # the mover rule at a clean window: >15% AND >0.3 s off the prior
    for best, prior, verdict in ((4.7, 4.0, "real"),
                                 (4.5, 4.0, "environmental"),
                                 (1.25, 1.0, "environmental")):
        assert bracket_verdict(best, 0.2, 0.2, prior, 0.2)["verdict"] == verdict
    # no prior canary: no normalization, the raw reading decides
    assert bracket_verdict(2.0, 0.41, 0.39, 1.0, 0)["verdict"] == "real"


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
    # 3-digit seconds overflow 1 decimal: whole seconds, error rows -1.0
    slow = {n: 123.456 for n in HEADLINE}
    slow[HEADLINE[1]] = -1.0
    line3 = final_contract_line(slow, 8024.6, 0.1)
    assert len(line3) <= 1992
    got = json.loads(line3)["queries"]
    assert got[HEADLINE[0]] == 123 and got[HEADLINE[1]] == -1.0
    assert '"' + HEADLINE[1] + '":-1.0' in line3
    # a map no precision can fit must fail loudly, not be cut by the tail
    with pytest.raises(ValueError):
        final_contract_line({n: 1e30 for n in HEADLINE}, 1.0, 0.1)


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
