"""Per-layer spans read from Spark's own status stores.

A span wraps one layer call in its own Spark job group, and the caller
materialises the call's output inside it. When the span closes, the
listener bus is drained and the counters are read back:

* job ids of the group from ``sc.statusTracker()``;
* per-stage task, run, CPU, GC, shuffle-write and spill figures from
  ``AppStatusStore.lastStageAttempt(id)``, one stage at a time (py4j
  cannot call ``stageList``, whose other arguments are Scala defaults);
* Python-worker run time from the SQL metrics of the executions the span
  started (``SQLAppStatusStore.executionMetrics``), which is where the
  ``MapInPandas`` / ``ArrowEvalPython`` nodes report it.

Spans are kept in memory and summarised when the run ends. The untraced
runs never create one, so materialising at span boundaries (which breaks
the fusion of the untraced plan) only costs the traced run.
"""

from __future__ import annotations

import itertools
import re
import statistics
import time
from collections import defaultdict

COUNTERS = (
    "wall_ms", "jobs", "tasks", "run_ms", "cpu_ms", "gc_ms",
    "shuffle_write_bytes", "spill_bytes", "py_worker_ms",
)
PY_RUN_METRIC = "time to run Python workers"
_UNIT_MS = {"ms": 1.0, "s": 1000.0, "m": 60_000.0, "h": 3_600_000.0}
_TIMING = re.compile(r"([\d.,]+)\s*(ms|s|m|h)\b")


def parse_timing_ms(text: str) -> float:
    """Total of a formatted SQL timing metric: either ``'12 ms'`` or
    ``'total (min, med, max ...)\\n7.6 s (1.8 s, ...)'``."""
    body = text.split("\n", 1)[-1]
    m = _TIMING.search(body)
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT_MS[m.group(2)]


class Tracer:
    _groups = itertools.count()  # job group ids, unique across tracers

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()  # noqa: SLF001 — status stores live here
        self._sql = spark._jsparkSession.sharedState().statusStore()  # noqa: SLF001
        self.spans: dict[str, list[dict]] = defaultdict(list)

    def drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def job_count(self) -> int:
        """Jobs the application has run so far."""
        self.drain()
        return self._jsc.statusStore().jobsList(None).size()

    def _execution_ids(self) -> list[int]:
        it = self._sql.executionsList().iterator()
        out = []
        while it.hasNext():
            out.append(it.next().executionId())
        return out

    def _py_worker_ms(self, exec_ids: list[int]) -> float:
        total = 0.0
        for eid in exec_ids:
            ui = self._sql.execution(eid)
            if not ui.isDefined():
                continue
            values = self._sql.executionMetrics(eid)
            seen = set()
            it = ui.get().metrics().iterator()
            while it.hasNext():
                m = it.next()
                acc = m.accumulatorId()
                if m.name() != PY_RUN_METRIC or acc in seen:
                    continue
                seen.add(acc)
                v = values.get(acc)
                if v.isDefined():
                    total += parse_timing_ms(v.get())
        return total

    def span(self, name: str, fn):
        """Run ``fn`` (which must materialise its result) under a fresh job
        group and record the group's counters as one sample of ``name``."""
        group = f"perfbench-{next(Tracer._groups)}"
        before = set(self._execution_ids())
        self.sc.setJobGroup(group, name)
        t = time.perf_counter()
        try:
            out = fn()
        finally:
            wall_ms = (time.perf_counter() - t) * 1000.0
            self.sc._jsc.clearJobGroup()  # noqa: SLF001
        self.drain()
        rec = dict.fromkeys(COUNTERS, 0.0)
        rec["wall_ms"] = wall_ms
        tracker = self.sc.statusTracker()
        store = self._jsc.statusStore()
        stages = set()
        for job in tracker.getJobIdsForGroup(group):
            rec["jobs"] += 1
            info = tracker.getJobInfo(job)
            stages.update(info.stageIds if info else ())
        for stage in stages:  # a reused stage belongs to several jobs
            try:
                sd = store.lastStageAttempt(stage)
            except Exception:  # noqa: BLE001 — py4j error: stage never ran
                continue
            rec["tasks"] += sd.numCompleteTasks()
            rec["run_ms"] += sd.executorRunTime()
            rec["cpu_ms"] += sd.executorCpuTime() / 1e6
            rec["gc_ms"] += sd.jvmGcTime()
            rec["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            rec["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        new = sorted(set(self._execution_ids()) - before)
        rec["py_worker_ms"] = self._py_worker_ms(new)
        self.spans[name].append(rec)
        return out

    def summary(self) -> dict[str, float]:
        """``<span>.<counter>`` -> mean over the span's samples (search
        spans hold one sample per request, the others one sample)."""
        out = {}
        for name, recs in sorted(self.spans.items()):
            for c in COUNTERS:
                out[f"{name}.{c}"] = statistics.fmean(r[c] for r in recs)
        return out
