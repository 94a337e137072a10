"""The benchmark's workloads: ``catalog`` and ``serve_mix``.

Each workload has a set-up phase (done ``SETUP_REPEATS`` times; the last
copy is used), a timed phase of ``seconds`` and a correctness gate
after the timed phase; ``probes`` marks the timed phase's start and end.
``Run`` collects what the report needs; the traced run adds spans and
per-layer numbers.
"""

from __future__ import annotations

import json
import math
import os
import queue
import shutil
import threading
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

from perfbench import datagen
from perfbench.harness import StreamProgress, Tracer

SETUP_REPEATS = 3
# Catalog: sf0.01 tables and the bench.HEADLINE queries that fit the run
# budget (see README.md): scan/agg, a decorrelated multi-join, the
# reference's feature dataflow, a window and the global-window gate.
CATALOG_SF = 0.01
CATALOG_QUERIES = (
    "q1_pricing_summary",
    "q21_waiting_orders",
    "fs_purchase_allowlist",
    "window_running_spend",
    "feat_quantile_normalize",
)
# The set-up passes collect with toPandas; one untimed pass through the
# noop write warms the path the timed passes take. Without it, a set of
# ten runs spread 0.20 in latency; with it, 0.09.
CATALOG_WARMUP_PASSES = 1
CATALOG_MIN_PASSES = 4
# serve_mix: the store holds the first STORE_EVENTS events of the sf0.1
# user population; during the run SERVE_EVENT_RATE error events/s land as
# one file per second, catch-ups run back to back (so every lookup shares
# the machine with one) and lookups arrive open-loop.
STREAM_USERS = 1500
STORE_EVENTS = 20_000
SERVE_EVENT_RATE = 2
SERVE_LOOKUP_RATE = 3
LOOKUP_WORKERS = 3  # with the catch-up thread, nproc threads of load
KNOWN_SHARE = 0.25
LOOKUP_LIMIT_MS = 1000.0
WARMUP_LOOKUPS = 12  # untimed, after set-up: the read path is cold until then
# A lookup can raise on a known read race (README.md, Scope notes), seen
# once in 150 to 670 lookups. More raised lookups than this in one run
# make it fail.
LOOKUP_ERRORS_ALLOWED = 2
FEATURE = "purchase"


def pct(values, q: float) -> float:
    """``np.percentile`` that reads nan for no values."""
    return float(np.percentile(values, q)) if len(values) else math.nan


@dataclass
class Run:
    """Everything one workload run measured. ``latency_ms`` is the
    workload's typical operation latency: the mean over catalog queries
    of each query's median, or the median ``serve_mix`` lookup."""

    setup_s: float = 0.0
    latency_ms: float = 0.0
    latencies_ms: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    wrong: int = 0  # failures that make the run incorrect
    problems: list[str] = field(default_factory=list)
    report: dict[str, float] = field(default_factory=dict)
    per_query_s: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)

    def fail(self, what: str, wrong: bool = True) -> None:
        """Count a failed operation. ``wrong=False`` is a lookup that
        raised within LOOKUP_ERRORS_ALLOWED: it counts as failed but does
        not make the run incorrect."""
        self.failed += 1
        self.wrong += wrong
        if len(self.problems) < 20:
            self.problems.append(what)


def _catalog():
    from feature_store_2_spark.queries import CATALOG

    return {q.name: q for q in CATALOG}


def _files(path: str) -> dict[str, int]:
    out = {}
    for dp, _, names in os.walk(path):
        for n in names:
            f = os.path.join(dp, n)
            out[f] = os.stat(f).st_size
    return out


# --- traced-run instrumentation ----------------------------------------------


def _traced_upsert(orig, layers: dict[str, float]):
    """Bytes written and shards rewritten per ``sharded_store.upsert``,
    measured outside the call so the span time stays the call's own."""
    from feature_store_2_spark.streaming import sharded_store

    def upsert(new, path, *args, **kwargs):
        before, old_files = sharded_store._read_manifest(path) or {}, _files(path)
        out = orig(new, path, *args, **kwargs)
        after = sharded_store._read_manifest(path) or {}
        layers["sharded_store.shards_rewritten"] += sum(
            1 for s, v in after.items() if before.get(s) != v
        )
        layers["sharded_store.bytes_written"] += sum(
            size for f, size in _files(path).items() if f not in old_files
        )
        return out

    return upsert


class Instrument:
    """Traced run only: span wrappers on the engine's layer entry points,
    plus the upsert counters wrapped outside the upsert span. Restores
    the originals on exit."""

    def __init__(self, tracer: Tracer, layers: dict[str, float]):
        from feature_store_2_spark.streaming import grants_store, pipeline, sharded_store

        self.tracer, self.layers, self.saved = tracer, layers, []
        self.targets = [
            (sharded_store, "upsert", "sharded_store.upsert"),
            (sharded_store, "read_store", "sharded_store.read_store"),
            (sharded_store, "point_lookup", "sharded_store.point_lookup"),
            (pipeline, "append_notifications", "grants_store.append_notifications"),
            (grants_store, "has_grant", "grants_store.has_grant"),
            (grants_store, "latest_circuit_open", "grants_store.latest_circuit_open"),
        ]

    def __enter__(self):
        if not self.tracer.enabled:
            return self
        for mod, attr, name in self.targets:
            self.saved.append((mod, attr, getattr(mod, attr)))
            setattr(mod, attr, self.tracer.wrap(getattr(mod, attr), name))
        store = self.targets[0][0]
        self.layers["sharded_store.shards_rewritten"] = 0
        self.layers["sharded_store.bytes_written"] = 0
        store.upsert = _traced_upsert(store.upsert, self.layers)
        return self

    def __exit__(self, *exc):
        for mod, attr, orig in reversed(self.saved):
            setattr(mod, attr, orig)
        return False


# --- catalog ----------------------------------------------------------------


def catalog(spark, work: str, seed: int, seconds: float, tracer: Tracer, probes) -> Run:
    import bench

    run = Run()
    by_name = _catalog()
    order = list(np.random.default_rng(seed).permutation(CATALOG_QUERIES))

    # Set-up: fresh tables (the generator is not timed), then the engine's
    # first, staging pass over every query, whose answers the oracle gate
    # checks after the timed phase. The passes also warm JIT and codegen.
    first_pass_s = []
    for rep in range(SETUP_REPEATS):
        sf_dir = os.path.join(work, f"sf_{rep}")
        datagen.write_tables(sf_dir, seed, CATALOG_SF)
        if rep:
            shutil.rmtree(os.path.join(work, f"sf_{rep - 1}"))
        answers = {}
        t0 = time.perf_counter()
        for name in order:
            try:
                answers[name] = by_name[name].fn(spark, sf_dir).toPandas()
            except Exception as e:  # noqa: BLE001 — one broken query costs one failure
                answers[name] = f"{type(e).__name__}: {e}"[:300]
        first_pass_s.append(time.perf_counter() - t0)
    run.setup_s = float(np.median(first_pass_s))

    t_warm = time.perf_counter()
    for _ in range(CATALOG_WARMUP_PASSES):
        for name in order:
            spark.catalog.clearCache()
            bench.force(by_name[name].fn(spark, sf_dir))
    run.report["warmup_s"] = time.perf_counter() - t_warm

    probes.start_timed()
    per_query: dict[str, list[float]] = {n: [] for n in order}
    build: dict[str, list[float]] = {n: [] for n in order}
    passes = 0
    t_start = time.perf_counter()
    with Instrument(tracer, run.layers):
        while passes < CATALOG_MIN_PASSES or time.perf_counter() - t_start < seconds:
            for name in order:
                with tracer.span("harness.catalog_query", root=True):
                    spark.catalog.clearCache()
                    run.attempted += 1
                    try:
                        t0 = time.perf_counter()
                        sid = tracer.begin("queries.build")
                        tracer.adopt = sid  # foreachBatch work inside q.fn
                        try:
                            df = by_name[name].fn(spark, sf_dir)
                        finally:
                            tracer.adopt = None
                            tracer.end(sid)
                        t1 = time.perf_counter()
                        with tracer.span("queries.exec"):
                            bench.force(df)
                        t2 = time.perf_counter()
                    except Exception as e:  # noqa: BLE001
                        run.fail(f"{name}: {type(e).__name__}: {e}"[:300])
                        continue
                per_query[name].append(t2 - t0)
                build[name].append(t1 - t0)
            passes += 1
    wall = time.perf_counter() - t_start
    # Release the last query's plan and cached blocks, so the memory read
    # does not depend on which query the seed put last.
    df = None
    spark.catalog.clearCache()
    probes.end_timed()

    # Oracle gate. DuckDB is imported only now, after memory sampling stopped.
    from check_oracle import compare, duck_connection

    t_check = time.perf_counter()
    con = duck_connection(sf_dir)
    for name in order:
        run.attempted += 1
        got = answers[name]
        if isinstance(got, str):
            problems = [got]
        else:
            try:
                problems = compare(name, got, con.execute(by_name[name].oracle).fetchdf())
            except Exception as e:  # noqa: BLE001
                problems = [f"oracle: {type(e).__name__}: {e}"[:300]]
        for p in problems:
            run.fail(f"{name}: {p}")
    con.close()
    run.report["check_s"] = time.perf_counter() - t_check

    medians = run.per_query_s = {n: pct(v, 50) for n, v in per_query.items()}
    run.latencies_ms = [m * 1000 for m in medians.values()]
    run.latency_ms = sum(run.latencies_ms) / len(run.latencies_ms)
    run.report.update(
        catalog_s=sum(medians.values()), passes=passes, queries=len(order), timed_s=wall
    )
    if tracer.enabled:
        build_s = sum(pct(v, 50) for v in build.values())
        run.layers.update({f"catalog.{n}_s": t for n, t in medians.items()})
        run.layers["queries.build_s"] = build_s
        run.layers["queries.exec_s"] = run.report["catalog_s"] - build_s
    return run


# --- serve_mix ----------------------------------------------------------------


@dataclass
class Store:
    """One grants store plus the paths its pipeline needs."""

    root: str

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def __post_init__(self):
        os.makedirs(self.path("events"), exist_ok=True)


def _source_offset(checkpoint: str) -> int:
    """The file source's log offset as of the last committed micro-batch
    (the last line of that batch's offset log entry holds ``logOffset``)."""
    commits = [int(n) for n in os.listdir(os.path.join(checkpoint, "commits")) if n.isdigit()]
    with open(os.path.join(checkpoint, "offsets", str(max(commits)))) as f:
        return int(json.loads(f.read().strip().splitlines()[-1])["logOffset"])


def _source_files(checkpoint: str) -> dict[str, int]:
    """file name -> the file source's log offset that first listed it."""
    out: dict[str, int] = {}
    log_dir = os.path.join(checkpoint, "sources", "0")
    for name in os.listdir(log_dir):
        if name.startswith("."):
            continue
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                if line.startswith("{"):
                    entry = json.loads(line)
                    out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


class CatchUp:
    """``run_grants_pipeline_merge`` catch-ups on one store."""

    def __init__(self, spark, store: Store, tracer: Tracer, parts: int):
        self.spark, self.store, self.tracer, self.parts = spark, store, tracer, parts
        self.log: list[tuple[float, float, int]] = []  # (start, end, source offset)
        self.errors: list[str] = []

    def once(self) -> None:
        from feature_store_2_spark.streaming import run_grants_pipeline_merge

        s = self.store
        t0 = time.perf_counter()
        sid = self.tracer.begin("pipeline.catchup", root=True)
        self.tracer.adopt = sid  # foreachBatch runs on the py4j callback thread
        try:
            run_grants_pipeline_merge(
                self.spark,
                s.path("events"),
                s.path("grants"),
                s.path("notifications"),
                s.path("checkpoint"),
                s.path("aggstate"),
                shuffle_partitions=self.parts,
            )
        finally:
            self.tracer.adopt = None
            self.tracer.end(sid)
        self.log.append((t0, time.perf_counter(), _source_offset(s.path("checkpoint"))))

    def back_to_back(self, t_stop: float) -> None:
        """Catch-ups one after another; the last one starts before ``t_stop``."""
        while time.perf_counter() < t_stop:
            try:
                self.once()
            except Exception as e:  # noqa: BLE001 — recorded, the run fails
                self.errors.append(f"catch-up: {type(e).__name__}: {e}"[:300])
                return


class Arrivals:
    """Open-loop file arrivals: tick ``i`` lands ``files[i]`` at ``t0 + i``."""

    def __init__(self, store: Store, files: list[pa.Table], tracer: Tracer):
        self.store, self.files, self.tracer = store, files, tracer
        self.due: dict[str, float] = {}
        self.rows: dict[str, int] = {}
        self.lag_ms: list[float] = []

    def run(self, t0: float) -> None:
        for i, table in enumerate(self.files):
            due = t0 + i
            time.sleep(max(0.0, due - time.perf_counter()))
            self.lag_ms.append((time.perf_counter() - due) * 1000)
            name = f"tick-{i:05d}.parquet"
            with self.tracer.span("harness.land_file", root=True):
                datagen.write_events_file(table, self.store.path("events"), name)
            self.due[name], self.rows[name] = due, table.num_rows


def _freshness(arrivals: Arrivals, cu: CatchUp, t_stop: float) -> tuple[list[float], int, set[str]]:
    """Per event: return time of the catch-up that made it visible minus
    its file's due time. Also the backlog at ``t_stop`` (landed, not yet
    visible) and the set of files the store has ingested."""
    offset_of = _source_files(cu.store.path("checkpoint"))
    final = cu.log[-1][2]
    fresh: list[float] = []
    backlog = 0
    for name, due in arrivals.due.items():
        off = offset_of.get(name)
        done = next((end for _, end, last in cu.log if off is not None and last >= off), None)
        if done is None or done > t_stop:
            backlog += arrivals.rows[name]
        if done is not None:
            fresh.extend([done - due] * arrivals.rows[name])
    return fresh, backlog, {n for n, off in offset_of.items() if off <= final}


def _check_store(spark, store: Store, files: set[str], run: Run) -> None:
    """Final grants store == the stream_feature_grants oracle over
    exactly the ingested event files."""
    import duckdb
    from check_oracle import compare

    from feature_store_2_spark.streaming import grants_snapshot

    run.attempted += 1
    paths = sorted(os.path.join(store.path("events"), f) for f in files)
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet({paths!r})")
        want = con.execute(_catalog()["stream_feature_grants"].oracle).fetchdf()
    finally:
        con.close()
    got = grants_snapshot(spark, store.path("grants")).toPandas()
    for p in compare("grants_store", got, want):
        run.fail(f"grants store: {p}")


def _serving_setup(spark, root: str, events: pa.Table):
    """The store built from ``events``, the closed rates table, and each
    stored user's pre-run ``purchase`` grant."""
    from pyspark.sql import functions as F

    from feature_store_2_spark.plans.circuit_breaker import windowed_denial_rate
    from feature_store_2_spark.queries.streaming_queries import _stream_parts
    from feature_store_2_spark.streaming import grants_snapshot, latest_circuit_open

    store = Store(root)
    datagen.write_events_file(events, store.path("events"), "setup.parquet")
    cu = CatchUp(spark, store, Tracer(False), _stream_parts(store.path("events")))
    cu.once()

    # The rates table is the breaker's 10-minute windows re-evaluated
    # every 15 s over the last hour of purchases before the run (the
    # breaker only ever reads trailing windows). The access log has no
    # denials, so the circuit is closed and every lookup reads the store.
    last_us = int(events.column("ts").to_numpy().max().astype("int64"))
    access = (
        spark.read.parquet(store.path("events"))
        .filter(F.col("event_type") == FEATURE)
        .filter(F.unix_micros("ts") > last_us - 3600 * 10**6)
    )
    rates = windowed_denial_rate(access, denied=F.lit(False), slide="15 seconds").localCheckpoint()
    grants = (
        grants_snapshot(spark, store.path("grants"))
        .filter(F.col("feature") == FEATURE)
        .toPandas()
    )
    expected = dict(zip(grants["user_id"].astype(int), grants["has_grant"].astype(bool)))
    return store, cu, rates, latest_circuit_open(rates, FEATURE), expected


def _error_files(seed: int, ticks: int, known: list[int]) -> list[pa.Table]:
    """SERVE_EVENT_RATE error events per tick for users in the store,
    timed after the whole backlog so the dedup watermark keeps them."""
    rng = np.random.default_rng(seed + 2)
    n = ticks * SERVE_EVENT_RATE
    start = datagen.EPOCH_2024_US + datagen.THIRTY_DAYS_US
    table = pa.table(
        {
            "event_id": pa.array(np.arange(10**9, 10**9 + n), pa.int64()),
            "ts": pa.array(start + np.arange(n) * 500_000, pa.timestamp("us", tz="UTC")),
            "user_id": pa.array(np.array(known)[rng.integers(0, len(known), n)], pa.int64()),
            "event_type": pa.array(["error"] * n),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2) + 0.01),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )
    return [table.slice(i * SERVE_EVENT_RATE, SERVE_EVENT_RATE) for i in range(ticks)]


@dataclass
class Lookup:
    j: int
    due: float
    user: int
    want: bool
    start: float = 0.0
    end: float = 0.0
    got: bool | None = None
    error: str | None = None


def _lookup_schedule(seed: int, t0: float, seconds: float, expected: dict) -> list[Lookup]:
    """Evenly spaced lookups; exactly KNOWN_SHARE of them (in seeded
    positions) ask for a stored user, the rest for ids never seen."""
    rng = np.random.default_rng(seed + 1)
    known = sorted(expected)
    n = int(seconds * SERVE_LOOKUP_RATE)
    is_known = rng.permutation(np.arange(n) < round(n * KNOWN_SHARE))
    out = []
    for j in range(n):
        due = t0 + (j + 0.5) / SERVE_LOOKUP_RATE
        if is_known[j]:
            user = known[int(rng.integers(0, len(known)))]
            out.append(Lookup(j, due, user, expected[user]))
        else:  # default grant
            out.append(Lookup(j, due, STREAM_USERS + 10**6 + j, True))
    return out


def _serve(spark, store: Store, rates, lookups: list[Lookup], tracer: Tracer) -> list[float]:
    """Open-loop dispatcher feeding LOOKUP_WORKERS worker threads; returns
    how late each lookup was handed to the queue (ms)."""
    from feature_store_2_spark.streaming import serve_has_grant

    todo: queue.Queue = queue.Queue()
    lag_ms: list[float] = []

    def worker():
        sc = spark.sparkContext
        while (lk := todo.get()) is not None:
            lk.start = time.perf_counter()
            if tracer.enabled:
                sc.setJobGroup(f"perfbench-lookup-{lk.j}", "lookup")
            sid = tracer.begin("harness.lookup", root=True)
            try:
                lk.got = serve_has_grant(
                    spark, store.path("grants"), rates, lk.user, FEATURE, key_value=FEATURE
                )
            except Exception as e:  # noqa: BLE001 — counted as a failed lookup
                lk.error = f"{type(e).__name__}: {e}"[:300]
            finally:
                tracer.end(sid)
            lk.end = time.perf_counter()

    workers = [threading.Thread(target=worker, name=f"lookup-{i}") for i in range(LOOKUP_WORKERS)]
    for w in workers:
        w.start()
    for lk in lookups:
        time.sleep(max(0.0, lk.due - time.perf_counter()))
        lag_ms.append((time.perf_counter() - lk.due) * 1000)
        todo.put(lk)
    for _ in workers:
        todo.put(None)
    for w in workers:
        w.join()
    return lag_ms


def serve_mix(spark, work: str, seed: int, seconds: float, tracer: Tracer, probes) -> Run:
    run = Run()
    # The first STORE_EVENTS events; the generator is not timed.
    events = datagen.events_table(
        np.random.default_rng(seed), STORE_EVENTS, STREAM_USERS, tz="UTC"
    )
    stage_s = []
    for rep in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        store, cu, rates, circuit_open, expected = _serving_setup(
            spark, os.path.join(work, f"store_{rep}"), events
        )
        stage_s.append(time.perf_counter() - t0)
        if rep:
            shutil.rmtree(os.path.join(work, f"store_{rep - 1}"))
    run.setup_s = float(np.median(stage_s))
    run.attempted += 1
    if circuit_open:
        run.fail("setup: rates table has the circuit open; lookups would skip the store")

    warm = _lookup_schedule(seed + 3, 0.0, WARMUP_LOOKUPS / SERVE_LOOKUP_RATE, expected)
    _serve(spark, store, rates, warm, Tracer(False))

    ticks = int(np.ceil(seconds))
    arrivals = Arrivals(store, _error_files(seed, ticks, sorted(expected)), tracer)
    cu.tracer = tracer
    n_setup = len(cu.log)
    progress = StreamProgress(spark) if tracer.enabled else None
    notes_before = _notifications(spark, store) if tracer.enabled else 0
    probes.start_timed()
    t0 = time.perf_counter() + 0.05
    t_stop = t0 + seconds
    lookups = _lookup_schedule(seed, t0, seconds, expected)
    with Instrument(tracer, run.layers):
        threads = [
            threading.Thread(target=arrivals.run, args=(t0,), name="arrivals"),
            threading.Thread(target=cu.back_to_back, args=(t_stop,), name="catch-up"),
        ]
        for t in threads:
            t.start()
        lookup_lag = _serve(spark, store, rates, lookups, tracer)
        for t in threads:
            t.join()
    run.report["timed_s"] = time.perf_counter() - t0
    probes.end_timed()

    cu_log = cu.log[n_setup:]
    run.attempted += len(cu_log) + len(cu.errors)
    for e in cu.errors:
        run.fail(e)
    fresh, backlog, ingested = _freshness(arrivals, cu, t_stop)
    t_check = time.perf_counter()
    _check_store(spark, store, ingested, run)
    run.report["check_s"] = time.perf_counter() - t_check

    raised = 0
    for lk in warm + lookups:
        run.attempted += 1
        if lk.error:
            raised += 1
            run.fail(f"lookup {lk.j}: {lk.error}", wrong=raised > LOOKUP_ERRORS_ALLOWED)
        elif lk.got != lk.want:
            run.fail(f"lookup {lk.j}: user {lk.user} got {lk.got}, want {lk.want}")
    if raised > LOOKUP_ERRORS_ALLOWED:
        run.problems.append(f"{raised} lookups raised; at most {LOOKUP_ERRORS_ALLOWED} may")
    # Latency counts answered lookups only: one that raised has no answer.
    answered = [lk for lk in lookups if not lk.error]
    lookup_ms = [(lk.end - lk.due) * 1000 for lk in answered]
    misses = len(lookups) - len(answered) + sum(
        1 for lk, ms in zip(answered, lookup_ms) if lk.got != lk.want or ms > LOOKUP_LIMIT_MS
    )
    run.latencies_ms = lookup_ms
    run.latency_ms = pct(lookup_ms, 50)
    run.report.update(
        lookup_p50_ms=pct(lookup_ms, 50),
        lookup_p95_ms=pct(lookup_ms, 95),
        lookup_slo_miss_ratio=misses / len(lookups),
        lookups=len(lookups),
        lookup_errors=raised,
        freshness_p50_s=pct(fresh, 50),
        freshness_p99_s=pct(fresh, 99),
        backlog_events=backlog,
        catchups=len(cu_log),
    )
    if tracer.enabled:
        L = run.layers
        L["pipeline.catchup_s"] = pct([end - start for start, end, _ in cu_log], 50)
        L["pipeline.catchups"] = len(cu_log)
        L["pipeline.events_per_catchup"] = len(fresh) / max(1, len(cu_log))
        L["pipeline.freshness_p50_s"] = run.report["freshness_p50_s"]
        L["pipeline.backlog_events"] = backlog
        L.update(_progress_layers(progress, cu_log))
        progress.close()
        L["sharded_store.store_bytes"] = sum(_files(store.path("grants")).values()) + sum(
            _files(store.path("aggstate")).values()
        )
        L["grants_store.notifications"] = _notifications(spark, store) - notes_before
        L["lookup.spark_jobs"] = sum(
            probes.counters.jobs_in_group(f"perfbench-lookup-{lk.j}") for lk in lookups
        ) / len(lookups)
        L["lookup.queue_wait_ms_p95"] = pct([(lk.start - lk.due) * 1000 for lk in lookups], 95)
        L["lookup.known_share"] = sum(lk.user < STREAM_USERS for lk in lookups) / len(lookups)
        L["lookup.slo_miss_ratio"] = run.report["lookup_slo_miss_ratio"]
        L["generator.lag_ms_p99"] = pct(arrivals.lag_ms + lookup_lag, 99)
    return run


def _notifications(spark, store: Store) -> int:
    from feature_store_2_spark.streaming import read_notifications

    df = read_notifications(spark, store.path("notifications"))
    return 0 if df is None else df.count()


def _progress_layers(progress: StreamProgress, cu_log) -> dict[str, float]:
    """Per-batch medians from streaming progress, plus each catch-up's
    wall time not spent inside a trigger (query start and stop)."""
    deadline = time.time() + 5
    while len({e["runId"] for e in progress.events}) < len(cu_log) and time.time() < deadline:
        time.sleep(0.1)
    ev = progress.events

    def dur(key):
        return pct([e["durationMs"].get(key, 0) for e in ev], 50)

    def state(key, pick=lambda xs: pct(xs, 50)):
        return pick([sum(op.get(key, 0) for op in e.get("stateOperators", [])) for e in ev])

    triggers_ms = sum(e["durationMs"].get("triggerExecution", 0) for e in ev)
    wall_ms = sum((end - start) * 1000 for start, end, _ in cu_log)
    return {
        "stream.trigger_ms": dur("triggerExecution"),
        "stream.latest_offset_ms": dur("latestOffset"),
        "stream.query_planning_ms": dur("queryPlanning"),
        "stream.add_batch_ms": dur("addBatch"),
        "stream.wal_commit_ms": dur("walCommit"),
        "stream.state_rows": state("numRowsTotal", max),
        "stream.state_commit_ms": state("commitTimeMs"),
        "stream.state_memory_bytes": state("memoryUsedBytes", max),
        "stream.start_stop_ms": (wall_ms - triggers_ms) / max(1, len(cu_log)),
    }
