"""The one measurement helper of the bench harness: ``bench.py``,
``tools/ab_bench.py``, ``tools/repin_baseline.py`` and
``tools/stream_bench.py`` all time queries through it.

It owns
* the decision constants: the host-drift canary (tpch_q6 — pure-JVM
  scan+agg, untouched since round 2), its clean-window reference, the
  bracket spread gate and the mover rule;
* the session warm-up;
* the timed ``noop``-write run and its best-of-N schedules;
* the canary bracket (canary best-of-3 immediately before and after a
  measurement, retried while the two readings disagree) and the pure
  verdict a bracketed reading earns against its prior.

Each query runs to completion through a ``noop``-format write: the whole
physical plan executes on the executors, but no rows are converted into
Python driver objects — that cost belongs to the client, not the engine,
and at 600k-row result sets it would dominate the measurement.
"""

from __future__ import annotations

import sys
import time
from typing import Any, Callable

CANARY = "tpch_q6_forecast_revenue"
# BENCH_r08's clean-window q6 best-of-3 (the repo's only gate-passing
# sample; BASELINE.md): the anchor of the BASELINE_V3 pins
CLEAN_Q6_REF = 0.199
# two canary readings further apart than this cannot vouch for the
# window the bracketed measurement ran in
SPREAD_MAX = 1.3


def moved(seconds: float, prior: float) -> bool:
    """The mover rule: a reading moved when it is more than 15% (and more
    than 0.3 s) away from its prior."""
    return abs(seconds - prior) > max(0.15 * prior, 0.3)


def spread(before: float, after: float) -> float:
    """How far apart a bracket's two canary readings are (>= 1)."""
    return max(before, after) / max(min(before, after), 1e-9)


def canary_ratio(before: float, after: float, ref: float) -> float:
    """The bracket's window drift against ``ref``: the geometric mean of
    the two canary readings divided by the reference canary time."""
    return (before * after) ** 0.5 / ref


def bracket_verdict(best: float, before: float, after: float,
                    prior: float, prior_canary: float) -> dict:
    """The adjudication fields for one bracketed isolated reading ``best``
    of a query whose prior time is ``prior``.

    An unstable bracket (spread > SPREAD_MAX) is "unadjudicable" — never
    "real" on a reading the canary cannot vouch for. Otherwise the reading
    is divided by the bracket's canary ratio against ``prior_canary``
    (1.0 when there is no prior canary) and labelled "real" if it still
    moved, "environmental" if the move was host drift."""
    s = spread(before, after)
    rec = {
        "isolated_best3": round(best, 3),
        "canary_before": round(before, 3),
        "canary_after": round(after, 3),
        "bracket_spread": round(s, 3),
    }
    if s > SPREAD_MAX:
        rec["verdict"] = "unadjudicable"
        return rec
    ratio = canary_ratio(before, after, prior_canary) if prior_canary > 0 else 1.0
    norm = best / ratio
    rec.update(
        canary_ratio=round(ratio, 3),
        normalized_best3=round(norm, 3),
        verdict="real" if moved(norm, prior) else "environmental",
    )
    return rec


class Timer:
    """Times catalog queries at one scale-factor directory in one
    session."""

    def __init__(self, spark, sf_dir: str):
        from frappe_data_pipelines_spark.plans.catalog import queries

        self.spark = spark
        self.sf_dir = sf_dir
        self.q = queries()

    def run(self, name: str) -> float:
        """Wall seconds of one run of query ``name`` through the noop
        sink."""
        t0 = time.time()
        self.q[name](self.spark, self.sf_dir).write.format("noop").mode(
            "overwrite").save()
        return time.time() - t0

    def best_of(self, name: str, n: int) -> tuple[float, list[float]]:
        """(best, every sample) of ``n`` back-to-back runs."""
        ts = [self.run(name) for _ in range(n)]
        return min(ts), ts

    def tier(self, names: list[str], n: int, label: str) -> dict[str, float]:
        """Best of ``n`` back-to-back runs per query, rounded to ms; a
        query that raises reads -1.0 and is not retried."""
        out = {}
        for name in names:
            try:
                out[name] = round(self.best_of(name, n)[0], 3)
            except Exception as e:  # noqa: BLE001 — one error row, not a dead suite
                out[name] = -1.0
                print(f"# bench {label} error {name}: {e}", file=sys.stderr)
        return out

    def round_robin(self, names: list[str], passes: int) -> dict[str, float]:
        """Best of ``passes`` ROUND-ROBIN passes per query, rounded to ms.
        The host is shared, and back-to-back repeats put all of a query's
        samples inside one contention window; interleaving spreads a bad
        window across many queries' single samples instead. The session
        cache is dropped after every pass, since queries may cache
        intermediates by design. A query that raises reads -1.0 and is
        skipped on later passes."""
        best: dict[str, float] = {}
        for _ in range(passes):
            for name in names:
                if best.get(name, 0) < 0:
                    continue
                try:
                    dt = self.run(name)
                except Exception as e:  # noqa: BLE001 — one error row, not a dead suite
                    best[name] = -1.0
                    print(f"# bench error {name}: {e}", file=sys.stderr)
                    continue
                best[name] = min(best.get(name, dt), dt)
            self.spark.catalog.clearCache()
        return {n: round(t, 3) for n, t in best.items()}

    def bracket(self, measure: Callable[[], Any], label: str,
                attempts: int = 1,
                clear_cache: bool = True) -> tuple[Any, float, float]:
        """(measure(), canary before, canary after): ``measure`` runs
        between two canary readings. A bracket whose readings are further
        apart than SPREAD_MAX is re-run, up to ``attempts`` brackets in
        all; the last one is returned. ``clear_cache`` drops the session
        cache before each of the three phases (off for callers whose
        measurement reads DataFrames they cached beforehand). Spark jobs
        carry ``label`` as their description. Each canary reading is a
        best-of-3."""
        sc = self.spark.sparkContext

        def canary():
            return self.best_of(CANARY, 3)[0]

        phases = ((f"{label}:canary-before", canary), (label, measure),
                  (f"{label}:canary-after", canary))
        try:
            for _ in range(attempts):
                readings = []
                for description, fn in phases:
                    if clear_cache:
                        self.spark.catalog.clearCache()
                    sc.setJobDescription(description)
                    readings.append(fn())
                before, result, after = readings
                if spread(before, after) <= SPREAD_MAX:
                    break
        finally:
            sc.setJobDescription(None)
        return result, before, after


def open_timer(app_name: str, sf_dir: str) -> Timer:
    """A Timer on a fresh ``get_spark`` session (log level ERROR) that has
    already paid the session's one-time costs, so no query is billed for
    them: JVM/codegen startup, parquet column bytes (``count()`` alone
    only touches footers) and the OS page cache, and the Arrow Python
    worker pool (numpy/pandas import)."""
    from pyspark.sql import functions as F

    from frappe_data_pipelines_spark.session import get_spark
    from frappe_data_pipelines_spark.sources.tables import TABLE_NAMES, load_table

    spark = get_spark(app_name=app_name)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    for t in TABLE_NAMES:
        try:
            df = load_table(spark, sf_dir, t)
            df.agg(*[F.count(c).alias(c) for c in df.columns]).collect()
        except Exception:  # noqa: BLE001 — missing optional table
            pass
    spark.range(64).repartition(32).mapInPandas(
        lambda it: (pdf for pdf in it), "id long"
    ).count()
    return Timer(spark, sf_dir)
