"""Measurement plumbing shared by the workloads: spans, peak memory,
host load, Spark's status store and streaming progress.

Everything here observes the engine from outside: spans wrap the
benchmark's own calls into the engine's public functions, and Spark's
counters are read from its status store after the timed region.
"""

from __future__ import annotations

import functools
import gc
import json
import math
import os
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


# --- spans -----------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run: str
    thread: int
    sid: int = 0


@dataclass
class Tracer:
    """In-memory span recorder. ``enabled=False`` makes every call a
    no-op so the untraced run pays nothing but an attribute check."""

    enabled: bool
    run: str = ""
    spans: list[Span] = field(default_factory=list)
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)
    # Parent for spans opened on a thread with no open span of its own:
    # foreachBatch callbacks run on the py4j callback thread, not on the
    # thread that started the streaming query.
    adopt: int | None = None

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str, root: bool = False) -> int | None:
        if not self.enabled:
            return None
        st = self._stack()
        parent = None if root else st[-1] if st else self.adopt
        with self._lock:
            sid = len(self.spans)
            self.spans.append(
                Span(name, time.perf_counter(), math.nan, parent, self.run, threading.get_ident(), sid)
            )
        st.append(sid)
        return sid

    def end(self, sid: int | None) -> None:
        if sid is None:
            return
        self.spans[sid].end = time.perf_counter()
        self._stack().pop()

    @contextmanager
    def span(self, name: str, root: bool = False):
        sid = self.begin(name, root)
        try:
            yield sid
        finally:
            self.end(sid)

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name and not math.isnan(s.end)]

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the part covered by its
        direct children (children are disjoint within one parent)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child[s.sid]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


# --- memory and host load ---------------------------------------------------


def _is_jvm(pid: int) -> bool:
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe")) == "java"
    except OSError:
        return False


def _tree_pids(root: int) -> list[int]:
    """``root`` and all its descendants."""
    pids, todo = [], [root]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return pids


def python_pss_bytes(root: int | None = None) -> int:
    """Proportional set size of the Python processes in a process tree:
    this one and the engine's Python workers under the JVM. Pages shared
    between forked workers count once in total. JVM processes (the JVM
    and its forks before ``exec``) are left out: their memory is read
    from the JVM itself."""
    total = 0
    for pid in _tree_pids(root or os.getpid()):
        if _is_jvm(pid):
            continue
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            continue
    return total


class MemorySampler:
    """Memory the run holds, from session start to the end of the timed
    phase: the sampled high-water PSS of the Python processes, plus the
    JVM's live heap and its non-heap use (class metadata, compiled code)
    when sampling stops.

    The JVM's heap is read as its live set, after full collections at
    the end of the timed phase, not as its high-water mark: under G1 the
    heap pools' high-water marks follow the collector's sizing (a young
    generation of up to 60% of the heap, an old generation filled up to
    the point that starts a marking cycle), not what the program holds.
    ``stop()`` ends the sampling, so the correctness gates that run after
    the timed phase (DuckDB among them) do not count.
    """

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.python_peak = self.heap_live = self.heap_peak = self.nonheap = 0
        self.spark = None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="mem-sampler", daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.is_set():
            self.python_peak = max(self.python_peak, python_pss_bytes())
            self._stop.wait(self.interval_s)

    def attach(self, spark) -> None:
        self.spark = spark

    def stop(self) -> None:
        if self._stop.is_set():
            return
        self._stop.set()
        self._thread.join(timeout=10)
        self.python_peak = max(self.python_peak, python_pss_bytes())
        if self.spark is None:
            return
        gc.collect()  # drops Python proxies, which frees the JVM objects behind them
        jvm = self.spark.sparkContext._jvm
        mf = jvm.java.lang.management.ManagementFactory
        it = mf.getMemoryPoolMXBeans().iterator()
        while it.hasNext():  # reported beside the live heap
            pool = it.next()
            if pool.getType().toString() == "Heap memory":
                self.heap_peak += pool.getPeakUsage().getUsed()
        # The second collection frees what the first one let Spark's
        # context cleaner drop (broadcast and shuffle blocks of
        # unreachable plans).
        jvm.java.lang.System.gc()
        time.sleep(1.0)
        jvm.java.lang.System.gc()
        bean = mf.getMemoryMXBean()
        self.heap_live = bean.getHeapMemoryUsage().getUsed()
        self.nonheap = bean.getNonHeapMemoryUsage().getUsed()

    @property
    def held(self) -> int:
        return self.python_peak + self.heap_live + self.nonheap


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    delta = [a - b for a, b in zip(after, before)]
    total = sum(delta[:8])
    return 100.0 * delta[7] / total if total > 0 else 0.0


# --- Spark status store -----------------------------------------------------


_STAGE_FIELDS = {
    "tasks": "numTasks",
    "executor_run_ms": "executorRunTime",
    "executor_cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "scan_bytes": "inputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_mem_bytes": "memoryBytesSpilled",
    "spill_disk_bytes": "diskBytesSpilled",
}
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_PYTHON_METRICS = ("data sent to Python workers", "data returned from Python workers")


class SparkCounters:
    """Stage, job and SQL-execution totals from Spark's status store,
    which is populated with the UI disabled. ``mark()`` before the timed
    region, ``delta()`` after it."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.base_stage = self.base_job = self.base_exec = -1

    def _stages(self):
        empty = self.sc._gateway.new_array(self.sc._gateway.jvm.double, 0)
        return self.store.stageList(None, False, False, empty, None)

    def _max_ids(self) -> tuple[int, int, int]:
        stage = job = execution = -1
        it = self._stages().iterator()
        while it.hasNext():
            stage = max(stage, it.next().stageId())
        it = self.store.jobsList(None).iterator()
        while it.hasNext():
            job = max(job, it.next().jobId())
        it = self.sql_store.executionsList().iterator()
        while it.hasNext():
            execution = max(execution, it.next().executionId())
        return stage, job, execution

    def mark(self) -> None:
        self.base_stage, self.base_job, self.base_exec = self._max_ids()

    def delta(self) -> dict[str, float]:
        out = {k: 0 for k in _STAGE_FIELDS}
        it = self._stages().iterator()
        while it.hasNext():
            s = it.next()
            if s.stageId() > self.base_stage:
                for k, getter in _STAGE_FIELDS.items():
                    out[k] += getattr(s, getter)()
        jobs = 0
        it = self.store.jobsList(None).iterator()
        while it.hasNext():
            jobs += it.next().jobId() > self.base_job
        out["jobs"] = jobs
        out["python_bytes"] = self._python_bytes()
        return out

    def _python_bytes(self) -> float:
        """Arrow bytes to and from Python workers, summed from the SQL
        metrics (rendered as '... \\n12.3 KiB (...)' by the store)."""
        total = 0.0
        it = self.sql_store.executionsList().iterator()
        while it.hasNext():
            ex = it.next()
            if ex.executionId() <= self.base_exec:
                continue
            values = self.sql_store.executionMetrics(ex.executionId())
            mi = ex.metrics().iterator()
            while mi.hasNext():
                m = mi.next()
                if m.name() not in _PYTHON_METRICS:
                    continue
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    total += parse_size(v.get())
        return total

    def jobs_in_group(self, group: str) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(group))


class Probes:
    """What a workload marks around its timed phase: memory, whose
    sampling stops at the phase's end, and on the traced run the Spark counters,
    whose delta is taken there too, so the correctness gates after the
    phase are in neither."""

    def __init__(self, spark, memory: MemorySampler, traced: bool):
        self.memory = memory
        self.counters = SparkCounters(spark) if traced else None
        self.spark_delta: dict[str, float] | None = None

    def start_timed(self) -> None:
        if self.counters:
            self.counters.mark()

    def end_timed(self) -> None:
        self.memory.stop()
        if self.counters:
            self.spark_delta = self.counters.delta()


def parse_size(rendered: str) -> float:
    """Total bytes from a rendered SQL size metric."""
    last = rendered.strip().splitlines()[-1]
    m = re.match(r"\s*([0-9.]+)\s*(B|KiB|MiB|GiB|TiB)", last)
    return float(m.group(1)) * _SIZE_UNITS[m.group(2)] if m else 0.0


class StreamProgress:
    """Collects every streaming progress event of the session."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        events = self.events = []

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                events.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _Listener()
        self.spark = spark
        spark.streams.addListener(self.listener)

    def close(self) -> None:
        self.spark.streams.removeListener(self.listener)
