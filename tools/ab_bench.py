"""Isolated, canary-bracketed A/B timings for catalog queries (VERDICT r12
task 2: settle movers with clean-window brackets; guide §1).

Usage:
    python tools/ab_bench.py [--reps N] [--sf SF_DIR] [--env K=V ...] \
        [--label NAME] QUERY [QUERY ...]

Each QUERY is timed ISOLATED (noop sink, best-of-``reps``), bracketed by
its own canary (tpch_q6) best-of-3 immediately before and after — the
bench.py adjudication discipline (``tools/measure.py``), reusable from the
shell. ``--env K=V`` pairs are set before the engine imports so code-shape
toggles (e.g. FDP_KN_BROADCAST_MAX_BYTES=0) select the variant under test
inside the SAME JVM lineage as the control run. Output: one JSON line per
query plus a trailing summary line.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.measure import open_timer, spread  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--env", action="append", default=[])
    ap.add_argument("--label", default="")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    for kv in args.env:
        k, _, v = kv.partition("=")
        os.environ[k] = v

    timer = open_timer(f"fdp-ab-{args.label or 'bench'}", args.sf)
    results = []
    for name in args.queries:
        (best, ts), c_b, c_a = timer.bracket(
            lambda: timer.best_of(name, args.reps), f"ab:{args.label}:{name}"
        )
        rec = {
            "query": name,
            "label": args.label,
            "best": round(best, 3),
            "median": round(statistics.median(ts), 3),
            "reps": [round(t, 3) for t in ts],
            "canary_before": round(c_b, 3),
            "canary_after": round(c_a, 3),
            "bracket_spread": round(spread(c_b, c_a), 3),
            "env": args.env,
            "sf": args.sf,
        }
        results.append(rec)
        print(json.dumps(rec), flush=True)
    print(json.dumps({"label": args.label, "n": len(results)}))


if __name__ == "__main__":
    main()
