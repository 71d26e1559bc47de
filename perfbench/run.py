"""Benchmark of the telecom competitor-analysis engine, one workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The run makes its inputs from the
seed, sets the engine up on `local[4]` in this process (one client, closed
loop), checks the engine's outputs, then repeats the workload's timed unit
(a "pass") as many times as fit in `--seconds` at the pass's nominal length.
The last line of standard output is one JSON object: `correct`, `attempted`
and `failed` operations, and the metrics — the end-to-end ones with
`--trace 0`, the per-layer ones with `--trace 1`.

A traced run turns Spark's event log on, wraps the calls into the engine's
layers in spans once set-up is done, and measures the same passes as an
untraced run; its `trace.pass_s` over an untraced run's `pass_s` is the
tracing overhead. Untraced runs keep the event log off and set no job
groups.

Everything the run writes lives under `.perfbench/` in the checkout; the
per-run directory is removed at exit and the per-span breakdown is kept in
`.perfbench/traces/`.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager

from spans import Tracer, engine_totals, fold_event_log
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = 4
# a 1 GB heap ceiling instead of the engine's 8 GB one: at these input sizes
# garbage collection takes 3-9% of task time under it (spark.gc_s over
# spark.task_s), and under 8 GB the heap's growth, and so peak_rss_mb, varies
# by a third from run to run. The heap is neither pre-sized nor pre-touched,
# so peak_rss_mb follows what the engine allocates.
HEAP = "1g"

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_geomean_s": "s",
    "peak_rss_mb": "MB",
}
# what a traced run prints; the `jobs.curate.*` stage metrics of
# `curate_corpus`, which BENCHMARK.json does not list, go to the trace file
PER_LAYER = {
    "session.get_spark_s": "s",
    "sources.read_wrapped_json_s": "s",
    "sources.silver_write_s": "s",
    "sources.write_gold_s": "s",
    "sources.gold_files": "count",
    "sources.bytes_written": "bytes",
    "jobs.clean.clean_products_s": "s",
    "jobs.load.plan_star_appends_s": "s",
    "jobs.load.append_frac": "ratio",
    "operators.merge.exec_s": "s",
    "operators.merge.history_rows": "rows",
    "jobs.run_pipeline.self_s": "s",
    "jobs.run_pipeline.spark_jobs": "count",
    "plans.build_s": "s",
    "plans.optimize_s": "s",
    "plans.exec_s": "s",
    "plans.exchanges": "count",
    "plans.scans": "count",
    "plans.shuffled_joins": "count",
    "plans.broadcast_joins": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.scheduler_delay_s": "s",
    "spark.core_busy_frac": "ratio",
    "spark.task_s": "s",
    "spark.task_cpu_s": "s",
    "spark.task_skew": "ratio",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.gc_s": "s",
    "spark.rows_scanned_per_row_out": "ratio",
    "spark.failed_tasks": "count",
    "trace.pass_s": "s",
}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def process_age() -> float:
    """Seconds since this process started (10 ms resolution)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def geomean(values) -> float:
    values = list(values)
    return math.exp(sum(math.log(v) for v in values) / len(values))


class Context:
    """One benchmark run: its directories, Spark session and tallies."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace = trace
        self.work = os.path.join(ROOT, ".perfbench")
        self.cache = os.path.join(self.work, "cache")
        self.run_dir = os.path.join(self.work, "runs",
                                    f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.run_dir, ignore_errors=True)
        for sub in ("local", "materialized", "tmp", "warehouse", "events"):
            os.makedirs(self.path(sub))
        # per-run program caches: the engine's materialized-artifact cache
        # and Spark's scratch space start empty in every run
        os.environ.update({
            "SPARK_GRAFT_CPUS": str(CPUS),
            "SPARK_LOCAL_DIRS": self.path("local"),
            "TCAS_MATERIALIZED_DIR": self.path("materialized"),
            "TMPDIR": self.path("tmp"),
            "SPARK_DRIVER_MEMORY": HEAP,
        })
        self.gen_s = 0.0
        self.setup_s = 0.0
        self.get_spark_s = 0.0
        self.spark = None
        self.attempted = 0
        self.failed = 0

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    @contextmanager
    def generating(self):
        """Input generation and expected-result computation: excluded from
        `setup_s`."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.gen_s += time.perf_counter() - t0

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            log(f"check failed: {what}")
        return ok

    def start_spark(self, event_log: bool):
        from telecom_competitor_analysis_spark.session import get_spark

        conf = {
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData",
            "spark.eventLog.enabled": str(event_log).lower(),
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log:
            conf.update({
                "spark.eventLog.dir": "file://" + self.path("events"),
                "spark.eventLog.compress": "false",
            })
        t0 = time.perf_counter()
        self.spark = get_spark(app_name=f"perfbench-{self.workload}",
                               extra_conf=conf)
        self.get_spark_s = time.perf_counter() - t0
        return self.spark

    def stop_spark(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def peak_rss_mb(self) -> float:
        from pyspark import SparkContext

        jvm = SparkContext._gateway.proc.pid
        return (peak_rss_kb("self") + peak_rss_kb(jvm)) / 1024

    def close(self) -> None:
        """Stop the session and the JVM behind it, wait for the JVM to exit
        and remove the per-run directory."""
        from pyspark import SparkContext

        self.stop_spark()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                proc.wait(timeout=60)
        shutil.rmtree(self.run_dir, ignore_errors=True)


def measure(ctx: Context, workload, tracer) -> list[dict]:
    """Run as many passes as fit in `ctx.seconds` at the workload's nominal
    pass length (at least one). The count does not depend on how fast this
    run goes: the JVM is still warming up over these passes, so a count set
    by a deadline would let a slow host measure earlier, slower passes. Each
    pass returns `ops` (operation -> wall) and `rows_out`."""
    passes = []
    for _ in range(max(1, round(ctx.seconds / workload.nominal_s))):
        with tracer.span("pass", index=len(passes)) as rec:
            t0 = time.perf_counter()
            out = workload.run_pass(ctx, tracer, len(passes))
            out["wall"] = time.perf_counter() - t0
        out["span"] = rec
        passes.append(out)
        log(f"pass {len(passes) - 1} {out['wall']:.2f}s: "
            + " ".join(f"{k}={v:.3f}" for k, v in out["ops"].items()))
    return passes


def end_to_end(ctx: Context, passes: list[dict], rss_mb: float
               ) -> dict[str, float]:
    """Means over the run's passes: the host's speed drifts by about 10%
    over windows of ten seconds, so a figure that spans every pass is
    steadier than the wall of the one pass a median would pick."""
    ops: dict[str, list[float]] = {}
    for p in passes:
        for name, wall in p["ops"].items():
            ops.setdefault(name, []).append(wall)
    return {
        "setup_s": ctx.setup_s,
        "pass_s": statistics.mean(p["wall"] for p in passes),
        "op_geomean_s": geomean(statistics.mean(w) for w in ops.values()),
        "peak_rss_mb": rss_mb,
    }


def engine_metrics(tracer, passes: list[dict], groups: dict) -> dict:
    per_pass = []
    for p in passes:
        ids = tracer.descendants(p["span"])
        tot = engine_totals([g for name, g in groups.items()
                             if name.startswith("span-")
                             and int(name[5:]) in ids])
        tot["core_busy_frac"] = tot["task_s"] / (CPUS * p["wall"])
        tot["rows_scanned_per_row_out"] = (
            tot["rows_scanned"] / max(p["rows_out"], 1))
        per_pass.append(tot)
    keys = ("jobs", "stages", "tasks", "scheduler_delay_s", "core_busy_frac",
            "task_s", "task_cpu_s", "task_skew", "shuffle_write_bytes",
            "shuffle_read_bytes", "spill_bytes", "gc_s",
            "rows_scanned_per_row_out", "failed_tasks")
    return {f"spark.{k}": statistics.median(t[k] for t in per_pass)
            for k in keys}


def write_trace(ctx: Context, tracer, groups: dict, layers: dict) -> str:
    spans = []
    for s in tracer.spans:
        g = groups.get(f"span-{s['id']}", {})
        spans.append({
            **{k: v for k, v in s.items() if k not in ("start", "end")},
            "wall_s": s["end"] - s["start"],
            "engine": {k: v for k, v in g.items() if k != "stage_task_s"},
        })
    out_dir = os.path.join(ctx.work, "traces")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{ctx.workload}-seed{ctx.seed}.json")
    with open(path, "w") as fh:
        json.dump({"workload": ctx.workload, "seed": ctx.seed,
                   "layers": layers, "spans": spans}, fh, indent=1,
                  default=str)
    return path


def run(ctx: Context) -> dict:
    """Prepare, set up, measure; return the metrics to print."""
    workload = WORKLOADS[ctx.workload]
    with ctx.generating():
        workload.prepare(ctx)
    ctx.start_spark(event_log=ctx.trace)
    workload.setup(ctx)
    for i in range(workload.warm_passes):
        workload.run_pass(ctx, Tracer(), -1 - i)
    ctx.setup_s = process_age() - ctx.gen_s
    log(f"inputs {ctx.gen_s:.2f}s, session {ctx.get_spark_s:.2f}s, "
        f"set-up {ctx.setup_s:.2f}s")
    tracer = Tracer(ctx.spark, enabled=ctx.trace)
    if ctx.trace:
        workload.instrument(ctx, tracer)
    try:
        passes = measure(ctx, workload, tracer)
    finally:
        tracer.unwrap()
    rss_mb = ctx.peak_rss_mb()
    workload.finish(ctx)
    if not ctx.trace:
        return end_to_end(ctx, passes, rss_mb)

    ctx.stop_spark()  # flushes the event log
    groups = fold_event_log(ctx.path("events"))
    layers = dict.fromkeys(PER_LAYER, 0.0)
    layers.update(workload.layer_metrics(ctx, tracer, passes, groups))
    layers.update(engine_metrics(tracer, passes, groups))
    layers["session.get_spark_s"] = ctx.get_spark_s
    layers["trace.pass_s"] = statistics.mean(p["wall"] for p in passes)
    log(f"trace written to {write_trace(ctx, tracer, groups, layers)}")
    return layers


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(ROOT, "telecom_competitor_analysis_spark"))):
        log(f"no engine sources under {ROOT}; run from the root of a source "
            "checkout")
        return 2
    sys.path.insert(0, ROOT)
    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from "
            f"{sorted(WORKLOADS)}")
        return 2
    ctx = Context(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        metrics = run(ctx)
    except Exception:  # noqa: BLE001 — report, print no result
        traceback.print_exc()
        return 1
    finally:
        ctx.close()
    units = PER_LAYER if args.trace else END_TO_END
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
