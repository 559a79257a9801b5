#!/usr/bin/env python3
"""Benchmark of the document pipeline: four user workloads, one command.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

``--trace 0`` measures the workload untraced and prints the end-to-end
metrics. ``--trace 1`` runs the traced per-layer profile (every layer of
every workload, one span per layer call) and prints the per-layer metrics.
The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
A failed output check makes ``correct`` false and the exit code 1.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --repeat N

is the steadiness mode: N untraced runs with seeds n..n+N-1, then the
median, quartiles and quartile spread of every metric.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --determinism

runs the traced profile twice with one seed and lists the spans whose
jobs, tasks or shuffle-write bytes differ between the two runs.

Everything the run writes goes under ``.perfbench_work/`` in the checkout,
which is removed at the end. See perfbench/README.md for the workloads,
the metrics and the layer -> end-to-end map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import procstat  # noqa: E402 — after the path set-up above

WORKLOAD_NAMES = ("bulk_ingest", "search_serve", "curate_dedup", "stream_door")
BUILD_REPS = 3
MAX_CPUS = 4

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "throughput_per_s": "1/s",
    "cpu_ms_per_item": "ms",
    "peak_rss_mb": "MB",
}
# the workload-specific names each end-to-end metric stands for
ALIASES = {
    "bulk_ingest": {"throughput_per_s": "ingest_docs_per_s"},
    "search_serve": {"latency_p50_ms": "search_p50_ms"},
    "curate_dedup": {"latency_p50_ms": "curate_wall_ms"},
    "stream_door": {"latency_p50_ms": "door_p50_ms"},
}


def host_env(work: str) -> dict:
    """Size Spark from the host, through the environment only: cores from
    the CPU affinity mask (at most MAX_CPUS), driver heap from MemTotal
    (a sixteenth, 1-4 GiB; in local mode the driver heap is the engine's
    whole heap). Temp and scratch files stay under ``work``."""
    cpus = max(1, min(MAX_CPUS, len(os.sched_getaffinity(0))))
    heap_mb = max(1024, min(4096, procstat.mem_total_mb() // 16))
    tmp = os.path.join(work, "tmp")
    conf = os.path.join(work, "conf")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(conf, exist_ok=True)
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as f:
        f.write("spark.ui.showConsoleProgress false\n")
    with open(os.path.join(conf, "log4j2.properties"), "w") as f:
        f.write("rootLogger.level = error\nrootLogger.appenderRef.stderr.ref = console\n"
                "appender.console.type = Console\nappender.console.name = console\n"
                "appender.console.target = SYSTEM_ERR\n"
                "appender.console.layout.type = PatternLayout\n"
                "appender.console.layout.pattern = %p %c{1}: %m%n\n")
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": f"{heap_mb}m",
        "SPARK_DRIVER_JAVA_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} "
                                     f"-Dderby.system.home={work}",
        "SPARK_LOCAL_DIRS": tmp,
        "SPARK_CONF_DIR": conf,
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join([ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
    }


def quantile(xs: list, q: float) -> float:
    s = sorted(xs)
    return s[min(len(s) - 1, int(q * len(s)))]


def metric_line(correct: bool, attempted: int, failed: int, metrics: dict, units: dict) -> str:
    return json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    })


def stop_spark(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers are gone."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 15
    while len(procstat.descendants(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.1)


def run_untraced(ctx, name: str, seconds: float, t_session: float) -> tuple:
    from workloads import WORKLOADS

    w = WORKLOADS[name](ctx)
    try:
        builds = []
        for rep in range(BUILD_REPS):
            t = time.perf_counter()
            w.build(rep)
            builds.append(time.perf_counter() - t)
        t = time.perf_counter()
        w.prepare()
        w.warmup()
        warm = time.perf_counter() - t
        setup_s = t_session + statistics.median(builds) + warm
        res = w.measure(seconds)
    finally:
        w.close()
    lat = res.latencies_s or [float("nan")]
    throughput, cpu_ms = res.rates(w.WINDOW_OPS)
    metrics = {
        "setup_s": setup_s,
        "latency_p50_ms": statistics.median(lat) * 1000.0,
        "throughput_per_s": throughput,
        "cpu_ms_per_item": cpu_ms,
        "peak_rss_mb": procstat.peak_rss_mb(),
    }
    info = {
        "workload": name, "item": w.item, "ops": len(res.latencies_s),
        "items": res.items, "wall_s": round(res.wall_s, 3),
        "cpu_s": round(res.cpu_s, 3),
        "failed_frac": res.failed / max(1, res.attempted),
        "session_s": round(t_session, 3),
        "build_s": [round(b, 3) for b in builds], "prepare_warmup_s": round(warm, 3),
        "hwm_mb": {"jvm": round(procstat.hwm_mb(procstat.jvm_pid()), 1),
                   "driver": round(procstat.hwm_mb(os.getpid()), 1)},
        "errors": res.errors,
    }
    for k, alias in ALIASES.get(name, {}).items():
        info[alias] = round(metrics[k], 3)
    # p90 only where at least ten samples lie beyond it
    if len(lat) >= 100:
        info[name.split("_")[0] + "_p90_ms"] = round(quantile(lat, 0.9) * 1000.0, 3)
    if name == "stream_door":
        info["generator_late_max_ms"] = round(w.lateness_max_s * 1000.0, 1)
        info["backlog_files_at_schedule_end"] = w.backlog
    if name in ("bulk_ingest", "curate_dedup"):
        info[name.split("_")[0] + "_cpu_s"] = round(res.cpu_s, 3)
    return res, metrics, END_TO_END, info


def run_traced(ctx, name: str, seconds: float, t_session: float) -> tuple:
    """The per-layer profile: every workload's layers, one span per call,
    on the seed's inputs; plus the tracing overhead of ``name``'s op."""
    from spans import Tracer
    from workloads import WORKLOADS, Result

    tracer = Tracer(ctx.spark)
    res = Result()
    counts: dict = {}
    overhead = 0.0
    for wname, cls in WORKLOADS.items():
        ctx.tracer = None
        w = cls(ctx)
        try:
            # no warm-up: the spans record each layer's first call after
            # set-up; the overhead ops below run warm
            w.build(0)
            w.prepare()
            ctx.tracer = tracer
            counts.update(w.trace_pass(res))
            res.attempted += 1
            if wname == name and wname != "stream_door":
                # same ops untraced then traced (into a tracer of their own,
                # so the profile keeps one sample set per span); the door's
                # layers run inside the engine's micro-batch, where the
                # benchmark adds no span
                plain, traced = [], []
                for i in (1, 2, 3):
                    for mode, acc in ((None, plain), (Tracer(ctx.spark), traced)):
                        ctx.tracer = mode
                        t = time.perf_counter()
                        _, out = w.op(i)
                        acc.append(time.perf_counter() - t)
                        w.check(i, out, res)
                overhead = statistics.median(traced) - statistics.median(plain)
        finally:
            ctx.tracer = None
            w.close()
    metrics = {**tracer.summary(), **counts, "trace.overhead_s": overhead}
    units = {}
    for k in sorted(metrics):
        counter = k.rsplit(".", 1)[1]
        if counter.endswith("_ms"):
            units[k] = "ms"
        elif counter.endswith("_bytes"):
            units[k] = "bytes"
        elif counter.endswith("_s"):
            units[k] = "s"
        elif counter.endswith("_ratio"):
            units[k] = "ratio"
        else:
            units[k] = "count"
    info = {"workload": name, "mode": "traced profile", "errors": res.errors,
            "session_s": round(t_session, 3)}
    return res, metrics, units, info


def run_once(args) -> int:
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    env = host_env(work)
    os.environ.update(env)
    import tempfile

    tempfile.tempdir = env["TMPDIR"]
    spark = None
    try:
        from frappe_data_pipelines_spark.session import get_spark
        from workloads import Ctx

        spark = get_spark(app_name=f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        t_session = procstat.uptime_since_start_s()
        ctx = Ctx(spark, work, args.seed)
        runner = run_traced if args.trace else run_untraced
        res, metrics, units, info = runner(ctx, args.workload, args.seconds, t_session)
        info["host"] = {k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY")}
        for k in units:
            print(f"{k} = {metrics[k]:.6g} {units[k]}")
        print(json.dumps(info))
        correct = res.failed == 0
        print(metric_line(correct, max(1, res.attempted), res.failed, metrics, units))
        return 0 if correct else 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass


def child_result(args, seed: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-2000:] + p.stderr[-2000:])
        raise SystemExit(f"run with seed {seed} failed (exit {p.returncode})")
    return json.loads(lines[-1])


def steadiness(args) -> int:
    values: dict = {}
    for k in range(args.repeat):
        out = child_result(args, args.seed + k, 0)
        for name, m in out["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(json.dumps({"seed": args.seed + k, **{n: round(m["value"], 4)
                                                   for n, m in out["metrics"].items()}}),
              flush=True)
    summary = {}
    for name, xs in values.items():
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (med, med, med)
        summary[name] = {"median": med, "q1": q1, "q3": q3,
                         "spread": (q3 - q1) / med if med else 0.0}
    print(json.dumps({"workload": args.workload, "runs": args.repeat, "summary": summary}))
    return 0


def determinism(args) -> int:
    runs = [child_result(args, args.seed, 1)["metrics"] for _ in range(2)]
    spans = sorted({k.rsplit(".", 1)[0] for k in runs[0] if k.endswith(".jobs")})
    differ = {}
    for span in spans:
        diff = {c: [r[f"{span}.{c}"]["value"] for r in runs]
                for c in ("jobs", "tasks", "shuffle_write_bytes")
                if runs[0][f"{span}.{c}"]["value"] != runs[1][f"{span}.{c}"]["value"]}
        if diff:
            differ[span] = diff
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "spans": spans, "spans_with_differing_counts": differ}))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOAD_NAMES, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--repeat", type=int, default=0,
                    help="steadiness mode: this many untraced runs, seeds seed..seed+N-1")
    ap.add_argument("--determinism", action="store_true",
                    help="compare span counts of two traced runs with one seed")
    args = ap.parse_args()
    if args.repeat:
        return steadiness(args)
    if args.determinism:
        return determinism(args)
    return run_once(args)


if __name__ == "__main__":
    sys.exit(main())
