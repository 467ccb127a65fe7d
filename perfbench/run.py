"""Benchmark entry point.

    python3 perfbench/run.py --workload {analytics,search} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. Generates the inputs from the seed into a
per-run directory under ``.bench_runs/``, starts the engine with a pinned
environment, sets up, computes the expected outputs outside the engine,
warms the measured code paths, measures for ``--seconds`` and checks
every output. Times are wall times as measured; the host's CPU steal
while they ran is in the detail line, as a diagnostic.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. The line before it holds the
run's details (tail percentile and sample count, input mix, per-query
and per-path medians). A traced run also writes its spans to
``.bench_out/trace-<workload>-<seed>.json``. Exit code 1 when any output
was wrong or any operation failed.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shlex
import shutil
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEM = "2g"  # sf0.1 needs well under 1 GB of heap


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("analytics", "search"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def pin_environment(run_dir: str) -> int:
    """Pin the engine's environment to this machine and this run's
    directory; returns the core count. Must run before the JVM starts."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf", shlex.quote(f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}"),
            "pyspark-shell",
        ]),
    })
    os.chdir(run_dir)  # spark-warehouse/ and any relative path land here
    return cores


class Context:
    """What a workload needs: the session, where its inputs are, and the
    hooks that record spans and Spark counters around each operation."""

    def __init__(self, args, run_dir, sf_dir, cores, tracer):
        self.seed = args.seed
        self.seconds = args.seconds
        self.run_dir = run_dir
        self.sf_dir = sf_dir
        self.cores = cores
        self.tracer = tracer
        self.traced = args.trace == 1
        self.spark = None
        self.probe = None

    def begin_op(self, name: str):
        if not self.traced:
            return None
        t = time.perf_counter()
        gid = self.probe.start_group(name)
        self.tracer.overhead_s += time.perf_counter() - t
        return gid

    def end_op(self, op: dict, gid) -> None:
        if gid is None:
            return
        t = time.perf_counter()
        op["counters"] = self.probe.group_counters(gid)
        self.spark.sparkContext._jsc.clearJobGroup()
        self.tracer.overhead_s += time.perf_counter() - t


@contextlib.contextmanager
def timed(out: dict, key: str):
    """Store the wall seconds of the block in ``out[key]``."""
    t = time.perf_counter()
    try:
        yield
    finally:
        out[key] = time.perf_counter() - t


def start_engine():
    from esco_neo4j_spark.session import get_spark

    return get_spark("perfbench")


def stop_engine(spark) -> None:
    """Stop Spark and wait for the driver JVM (and the Python workers it
    forked) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        with contextlib.suppress(Exception):
            gw.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def e2e_metrics(ops, setup_s: float, summary: dict, workload: str):
    """End-to-end metrics, as wall times; and the detail-line extras."""
    from perfbench.stats import median, tail

    began = "due" if workload == "search" else "start"  # open loop: from the due time
    lat_ms = [1000 * (o["end"] - o[began]) for o in ops]
    ok = sum(o["ok"] for o in ops)
    if workload == "search":  # completed requests per second of the schedule
        done = ok / (max(o["end"] for o in ops) - min(o["due"] for o in ops))
        recall = summary["approx_recall_at_10"]
    else:  # closed loop: operations per busy second
        done = ok / (sum(lat_ms) / 1000)
        recall = summary["near_catch_ratio"]
    tail_ms, tail_pct, beyond = tail(lat_ms)
    metrics = {
        "setup_s": (setup_s, "s"),
        "throughput_per_s": (done, "1/s"),
        "latency_p50_ms": (median(lat_ms), "ms"),
        "latency_tail_ms": (tail_ms, "ms"),
        "answer_recall": (recall, "ratio"),
    }
    return metrics, {"samples": len(lat_ms), "tail_percentile": tail_pct, "tail_beyond": beyond}


def layer_metrics(ctx, ops, summary, starts) -> tuple[dict, dict]:
    """Per-layer metrics from the spans and the per-op Spark counters;
    and the per-batch gate and upsert times for the detail line."""
    from perfbench.sparkprobe import COUNTERS
    from perfbench.stats import median, self_times
    from perfbench.workloads import SEARCH_PATHS

    spans = [s for s in ctx.tracer.spans if s["request"] is not None]  # measured ops
    self_s = self_times(ctx.tracer.spans)

    def med_self_s(name):
        return median([self_s[s["id"]] for s in spans if s["name"] == name])

    batches = [s for s in spans if s["name"] == "streaming.dedup.process_neardup_batch"]
    upsert_s = [sum(u["end"] - u["start"] for u in spans
                    if u["parent"] == b["id"] and u["name"] == "sources.merge.upsert_parquet")
                for b in batches]
    batch_s = [b["end"] - b["start"] for b in batches]
    c = {k: sum(o.get("counters", {}).get(k, 0) for o in ops) for k in COUNTERS}
    n = len(ops)
    wall_ms = 1000 * sum(o["end"] - o["start"] for o in ops)
    search = [o for o in ops if o["name"] in SEARCH_PATHS]
    scored = sum(o.get("counters", {}).get("input_records", 0) for o in search)
    returned = sum(o.get("rows", 0) for o in search)
    mb = 2**20
    m = {
        "session.start_s": (starts["session_start_s"], "s"),
        "session.warmup_s": (starts["workload_setup_s"], "s"),
        "catalog.load_s": (med_self_s("catalog.load_tables"), "s"),
        "plans.build_s": (med_self_s("plans.build"), "s"),
        "plans.collect_s": (med_self_s("spark.collect"), "s"),
        "spark.jobs_per_op": (c["jobs"] / n, "count"),
        "spark.tasks_per_op": (c["tasks"] / n, "count"),
        "spark.stages_skipped_per_op": (c["stages_skipped"] / n, "count"),
        "spark.failed_tasks": (c["failed_tasks"], "count"),
        "spark.executor_busy_ratio": (c["run_ms"] / (wall_ms * ctx.cores), "ratio"),
        "spark.shuffle_write_mb_per_op": (c["shuffle_write_bytes"] / mb / n, "MB"),
        "spark.shuffle_read_mb_per_op": (c["shuffle_read_bytes"] / mb / n, "MB"),
        "spark.spill_mb": (c["spill_bytes"] / mb, "MB"),
        "similarity.rows_scored_per_result": (scored / returned if returned else 0.0, "ratio"),
        "jvm.gc_s": (starts["gc_s"], "s"),
        "jvm.peak_rss_mb": (starts["rss_mb"], "MB"),
        "trace.overhead_ms_per_op": (1000 * ctx.tracer.overhead_s / n, "ms"),
        "merge.upsert_share": (sum(upsert_s) / sum(batch_s) if batches else 0.0, "ratio"),
        "merge.mb_written_per_batch": (summary.get("mb_written_per_batch", 0.0), "MB"),
        "merge.write_amp": (summary.get("write_amp", 0.0), "ratio"),
        "merge.space_amp": (summary.get("space_amp", 0.0), "ratio"),
        "dedup.exact_catch_ratio": (summary.get("exact_catch_ratio", 0.0), "ratio"),
        "dedup.near_catch_ratio": (summary.get("near_catch_ratio", 0.0), "ratio"),
        "dedup.survivor_ratio": (summary.get("survivor_ratio", 0.0), "ratio"),
    }
    detail = {}
    if batches:  # times of a layer only analytics calls: detail line, not metrics
        detail = {"merge.upsert_s": median(upsert_s),
                  "dedup.gate_self_s": median([b - u for b, u in zip(batch_s, upsert_s)])}
    return m, detail


def run(args) -> int:
    from perfbench import gen
    from perfbench.trace import NO_TRACE, Tracer, patched
    from perfbench.workloads import WORKLOADS

    run_dir = os.path.join(ROOT, ".bench_runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    spark = None
    try:
        cores = pin_environment(run_dir)
        sf_dir = os.path.join(run_dir, "data")
        wl = WORKLOADS[args.workload]()
        gen.write_tables(args.seed, sf_dir, wl.tables)
        tracer = Tracer() if args.trace else NO_TRACE
        ctx = Context(args, run_dir, sf_dir, cores, tracer)

        from perfbench.sparkprobe import (
            SparkProbe, host_cpu_ticks, python_maxrss_mb, steal_share_between, vm_hwm_mb)

        took: dict[str, float] = {}  # phase -> wall seconds
        cpu0 = host_cpu_ticks()
        with timed(took, "session_start_s"), tracer.span("session.start"):
            import esco_neo4j_spark.catalog as catalog_mod
            import esco_neo4j_spark.plans  # noqa: F401  (fills the registry)
            import esco_neo4j_spark.plans.registry as registry_mod
            import esco_neo4j_spark.streaming.dedup as dedup_mod

            spark = ctx.spark = start_engine()
        with contextlib.ExitStack() as patches:
            if ctx.traced:
                # wrap the names the program modules call through
                patches.enter_context(patched(catalog_mod, "load_tables", tracer, "catalog.load_tables"))
                patches.enter_context(patched(registry_mod, "load_tables", tracer, "catalog.load_tables"))
                patches.enter_context(patched(dedup_mod, "upsert_parquet", tracer, "sources.merge.upsert_parquet"))
            ctx.probe = SparkProbe(spark)
            with timed(took, "workload_setup_s"), tracer.span("setup"):
                wl.setup(ctx)
            with timed(took, "oracle_s"):
                wl.oracle(ctx)  # outside the engine; not part of setup_s
            with timed(took, "warm_s"), tracer.span("setup.warm"):
                wl.warm(ctx)

            gc0 = ctx.probe.gc_ms()
            cpu1 = host_cpu_ticks()
            with timed(took, "measured_s"):
                ops = wl.run(ctx, args.seconds)
            cpu2 = host_cpu_ticks()
            gc_s = (ctx.probe.gc_ms() - gc0) / 1000.0
            rss_mb = vm_hwm_mb(ctx.probe.jvm_pid()) + python_maxrss_mb()

        summary = wl.summary(ops)
        setup_s = took["session_start_s"] + took["workload_setup_s"] + took["warm_s"]
        e2e, detail = e2e_metrics(ops, setup_s, summary, args.workload)
        failed = sum(not o["ok"] for o in ops)
        detail.update({
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "cores": cores, "driver_mem": DRIVER_MEM, **took,
            # diagnostics: share of busy CPU ticks the hypervisor gave to
            # other guests, before and during the measured window
            "setup_steal_share": steal_share_between(cpu0, cpu1),
            "measured_steal_share": steal_share_between(cpu1, cpu2),
            "gc_s": gc_s, "peak_rss_mb": rss_mb,
            "errors": sorted({o["error"] for o in ops if o["error"]}),
            **summary,
        })
        metrics = e2e
        if ctx.traced:
            starts = {"session_start_s": took["session_start_s"],
                      "workload_setup_s": took["workload_setup_s"] + took["warm_s"],
                      "gc_s": gc_s, "rss_mb": rss_mb}
            metrics, layer_detail = layer_metrics(ctx, ops, summary, starts)
            detail.update(layer_detail)
            untraced = _read_json(os.path.join(out_dir, f"e2e-{args.workload}-{args.seed}.json"))
            if untraced:
                detail["tracing_overhead_p50_ms"] = (
                    e2e["latency_p50_ms"][0] - untraced["latency_p50_ms"])
            with open(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
                json.dump({"detail": detail, "per_layer": {k: v for k, (v, _) in metrics.items()},
                           "ops": ops,
                           "spans": tracer.spans}, f, default=str)
        else:
            with open(os.path.join(out_dir, f"e2e-{args.workload}-{args.seed}.json"), "w") as f:
                json.dump({k: v for k, (v, _) in metrics.items()}, f)
    finally:
        try:
            if spark is not None:
                stop_engine(spark)
        finally:
            os.chdir(ROOT)
            shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if failed == 0 else 1


def _read_json(path):
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops the JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "esco_neo4j_spark")):
        print(f"esco_neo4j_spark package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
