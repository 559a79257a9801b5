"""Re-pin BASELINE as v3 with BRACKETED, canary-normalized rows
(VERDICT r11 task 1).

The v2 pins are single-window 2026-08-13 absolutes measured against the
r8 clean canary; the host has been 1.2-11x cgroup-throttled in every
window since, so comparisons against them mix window drift into the one
table that should be signal (the known-stale dedup_minhash_signatures
pin produced a fake ~3x flag three rounds running). v3 pins every row
in CLEAN-WINDOW UNITS instead:

    per pin: q6 canary best-of-3 BEFORE, pin best-of-3, q6 best-of-3
    AFTER; bracket_ratio = geomean(before, after) / CLEAN_Q6_REF;
    normalized = raw / bracket_ratio. A bracket whose two canary
    readings disagree >1.3x is retried (up to 3 attempts) and, if still
    unstable, the row is recorded with "unstable": true — the reading
    ships with its uncertainty instead of posing as a clean pin.

CLEAN_Q6_REF (``tools/measure.py``) is BENCH_r08's clean-window q6 — the
same anchor bench.py's baseline_v3 comparison divides by, so pin and
reading cancel the anchor and only the genuine plan-speed ratio survives.

Usage: python tools/repin_baseline.py [--out BASELINE_V3.json]
Writes the machine-readable pin table bench.py reads every sf0.1 run.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from tools.measure import (  # noqa: E402
    CLEAN_Q6_REF,
    SPREAD_MAX,
    canary_ratio,
    open_timer,
    spread,
)

# the 14 v2-pinned queries (BASELINE.md round-2 re-baseline tables), by
# catalog name
PINNED = [
    "flagship_chunk_embed_search",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q6_forecast_revenue",
    "tpch_q8_market_share",
    "tpch_q18_large_orders",
    "tpch_q21_waiting_orders",
    "c6_knn_topk",
    "b6_filtered_knn",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_minhash_signatures",
    "embedding_neardup_pairs",
]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=os.path.join(ROOT, "BASELINE_V3.json"))
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    timer = open_timer("fdp-repin-baseline", sf_dir)

    started = int(time.time())
    rows: dict[str, dict] = {}
    for name in PINNED:
        raw, c_b, c_a = timer.bracket(
            lambda: timer.best_of(name, 3)[0], f"repin:{name}", attempts=3
        )
        ratio = canary_ratio(c_b, c_a, CLEAN_Q6_REF)
        rec = {
            "raw": round(raw, 3),
            "canary_before": round(c_b, 3),
            "canary_after": round(c_a, 3),
            "bracket_spread": round(spread(c_b, c_a), 3),
            "bracket_ratio": round(ratio, 3),
            "normalized": round(raw / ratio, 3),
        }
        rec["unstable"] = rec["bracket_spread"] > SPREAD_MAX
        rows[name] = rec
        print(f"{name}: raw {rec['raw']}s bracket {rec['bracket_ratio']}x "
              f"(spread {rec['bracket_spread']}) -> normalized "
              f"{rec['normalized']}s"
              + (" UNSTABLE" if rec["unstable"] else ""), flush=True)

    out = {
        "version": 3,
        "method": "per-pin bracketed q6 canaries (best-of-3 each side), "
                  "geometric-mean normalization to the r8 clean window; "
                  f"spread >{SPREAD_MAX} retried 3x then flagged unstable",
        "clean_q6_ref": CLEAN_Q6_REF,
        "sf_dir": sf_dir,
        "started_unix": started,
        "ended_unix": int(time.time()),
        "rows": rows,
        "sum_normalized": round(
            sum(r["normalized"] for r in rows.values()), 3
        ),
        "n_unstable": sum(1 for r in rows.values() if r["unstable"]),
    }
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
    print(f"wrote {args.out}: sum_normalized={out['sum_normalized']}s, "
          f"{out['n_unstable']} unstable")
    return 0


if __name__ == "__main__":
    sys.exit(main())
