"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload catalog|serve_mix \\
        --seed N --seconds S --trace 0|1

Run from the repository root. Inputs are generated from ``--seed``; the
engine runs in this process on ``local[nproc]``. The last stdout line is
one JSON object ``{"correct", "attempted", "failed", "metrics"}`` with
the end-to-end metrics of BENCHMARK.json (``--trace 0``) or its per-layer
metrics (``--trace 1``); the lines before it are a readable report.
Details and spans land in ``.perfbench/`` at the repository root.
Exits 1 when any output is wrong or unchecked, or when more lookups
raise than the known read race explains (see README.md); 2 when the
engine is not there.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("catalog", "serve_mix")
LAYER_OF = {  # span-name prefix -> layer for self times
    "queries.": "queries",
    "pipeline.": "pipeline",
    "sharded_store.": "sharded_store",
    "grants_store.": "grants_store",
    "harness.": "harness",
}
# A fixed driver heap (not pre-touched): G1 then sizes its generations
# the same way on every run.
DRIVER_MEM = "2g"


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(work: str) -> None:
    """Keep every file the engine, Spark and the JVM write inside the
    checkout, and let Python workers import the engine."""
    os.makedirs(work, exist_ok=True)
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = work
    # -UsePerfData: no /tmp/hsperfdata file, which ignores java.io.tmpdir.
    java_opts = f"-Djava.io.tmpdir={work} -Xms{DRIVER_MEM} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell"
    )
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={work} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ.pop("SPARK_GRAFT_ON_CLUSTER", None)
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _end_to_end(run, session_s: float, memory_bytes: int) -> dict[str, float]:
    return {
        "setup_s": session_s + run.setup_s,
        "memory_mb": memory_bytes / 2**20,
        "latency_ms": run.latency_ms,
    }


def _per_layer(run, tracer, spark_delta, host: dict) -> dict[str, float]:
    from perfbench.harness import Tracer
    from perfbench.workloads import CATALOG_QUERIES, pct

    out: dict[str, float] = {f"catalog.{q}_s": 0.0 for q in CATALOG_QUERIES}
    out.update({"queries.build_s": 0.0, "queries.exec_s": 0.0})
    for name in (
        "pipeline.catchup_s pipeline.catchups pipeline.events_per_catchup "
        "pipeline.freshness_p50_s pipeline.backlog_events stream.trigger_ms "
        "stream.latest_offset_ms stream.query_planning_ms stream.add_batch_ms "
        "stream.wal_commit_ms stream.state_rows stream.state_commit_ms "
        "stream.state_memory_bytes stream.start_stop_ms sharded_store.store_bytes "
        "sharded_store.bytes_written sharded_store.shards_rewritten "
        "grants_store.notifications lookup.spark_jobs lookup.queue_wait_ms_p95 "
        "lookup.known_share lookup.slo_miss_ratio generator.lag_ms_p99"
    ).split():
        out[name] = 0.0  # a layer the workload leaves idle reads 0
    out.update(run.layers)

    def ms(name, q):
        d = tracer.durations(name)
        return pct(d, q) * 1000 if d else 0.0

    out["sharded_store.upsert_s"] = sum(tracer.durations("sharded_store.upsert"))
    out["sharded_store.read_store_s"] = sum(tracer.durations("sharded_store.read_store"))
    out["sharded_store.point_lookup_ms"] = ms("sharded_store.point_lookup", 50)
    out["grants_store.append_notifications_s"] = sum(
        tracer.durations("grants_store.append_notifications")
    )
    out["grants_store.has_grant_ms_p50"] = ms("grants_store.has_grant", 50)
    out["grants_store.has_grant_ms_p95"] = ms("grants_store.has_grant", 95)
    out["grants_store.latest_circuit_open_ms_p50"] = ms("grants_store.latest_circuit_open", 50)

    out["spark.jobs"] = spark_delta["jobs"]
    out["spark.tasks"] = spark_delta["tasks"]
    out["spark.executor_run_s"] = spark_delta["executor_run_ms"] / 1e3
    out["spark.executor_cpu_s"] = spark_delta["executor_cpu_ns"] / 1e9
    out["spark.gc_s"] = spark_delta["gc_ms"] / 1e3
    for k in ("scan_bytes", "shuffle_write_bytes", "shuffle_read_bytes", "python_bytes"):
        out[f"spark.{k}"] = spark_delta[k]
    out["spark.spill_bytes"] = spark_delta["spill_mem_bytes"] + spark_delta["spill_disk_bytes"]

    selfs = {layer: 0.0 for layer in LAYER_OF.values()}
    for name, t in tracer.self_times().items():
        for prefix, layer in LAYER_OF.items():
            if name.startswith(prefix):
                selfs[layer] += t
    out.update({f"self.{layer}_s": t for layer, t in selfs.items()})

    # Tracing cost: the spans recorded times the measured cost of one.
    probe = Tracer(True)
    t0 = time.perf_counter()
    for _ in range(20_000):
        probe.end(probe.begin("probe"))
    per_span = (time.perf_counter() - t0) / 20_000
    out["trace.spans"] = len(tracer.spans)
    out["trace.overhead_ms"] = len(tracer.spans) * per_span * 1000
    out["trace.latency_ms"] = run.latency_ms
    out.update(host)
    return out


def main(argv=None) -> int:
    args = _args(argv)
    t_begin = time.perf_counter()
    if not os.path.isdir(os.path.join(ROOT, "feature_store_2_spark")):
        print(f"perfbench: no engine under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"work-{os.getpid()}")
    _environment(work)

    from perfbench import harness, workloads

    spec = _spec()
    tracer = harness.Tracer(bool(args.trace), run=f"{args.workload}-{args.seed}")
    cpu0 = harness.cpu_times()
    memory = harness.MemorySampler()
    spark = None
    try:
        from feature_store_2_spark.session import get_spark

        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        memory.attach(spark)
        session_s = time.perf_counter() - t_begin
        probes = harness.Probes(spark, memory, bool(args.trace))
        workload = getattr(workloads, args.workload)
        run = workload(spark, work, args.seed, args.seconds, tracer, probes)
    finally:
        t_stop = time.perf_counter()
        memory.stop()
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    run.report["session_s"] = session_s
    run.report["stop_s"] = time.perf_counter() - t_stop
    run.report["total_s"] = time.perf_counter() - t_begin
    host = {
        "host.loadavg_1m": harness.loadavg_1m(),
        "host.steal_pct": harness.steal_pct(cpu0, harness.cpu_times()),
    }

    run.report.update(
        python_peak_mb=memory.python_peak / 2**20,
        jvm_heap_live_mb=memory.heap_live / 2**20,
        jvm_nonheap_mb=memory.nonheap / 2**20,
        jvm_heap_peak_mb=memory.heap_peak / 2**20,
    )
    e2e = _end_to_end(run, session_s, memory.held)
    values = _per_layer(run, tracer, probes.spark_delta, host) if args.trace else e2e
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        return 2
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "end_to_end": e2e,
        "report": run.report,
        "latencies_ms": run.latencies_ms,
        "per_query_s": run.per_query_s,
        "layers": values if args.trace else {},
        "host": host,
        "problems": run.problems,
    }
    with open(os.path.join(out_dir, tag + ".json"), "w") as f:
        json.dump(detail, f, indent=1)
    if args.trace:
        tracer.dump(os.path.join(out_dir, tag + ".spans.jsonl"))

    print(f"perfbench {tag}: {run.attempted} operations, {run.failed} failed")
    for k, v in {**e2e, **run.report}.items():
        print(f"  {k:28s} {v:.6g}")
    for p in run.problems:
        print(f"  PROBLEM {p}")
    correct = run.wrong == 0
    print(
        json.dumps(
            {"correct": correct, "attempted": run.attempted, "failed": run.failed, "metrics": metrics}
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
