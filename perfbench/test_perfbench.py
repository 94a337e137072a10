"""Smoke and negative tests of the benchmark itself, at sf0.001 with
short runs. Each case is one benchmark process (about 30-60 s).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SMALL = (
    "import perfbench.workloads as w; w.CATALOG_SF = 0.001; w.CATALOG_MIN_PASSES = 2; "
    "w.STORE_EVENTS = 2000; w.STREAM_USERS = 150; w.WARMUP_LOOKUPS = 2"
)
WORKLOADS = ("catalog", "serve_mix")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _bench(workload: str, trace: int, patch: str = "", seed: int = 7, seconds: float = 4):
    """Run the benchmark in a child process with small inputs; return
    (exit code, parsed last stdout line, stderr tail)."""
    argv = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace)]
    code = (
        f"import sys; sys.path.insert(0, {ROOT!r}); {SMALL}; {patch}\n"
        f"from perfbench import run; sys.exit(run.main({argv!r}))"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, timeout=600
    )
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return proc.returncode, result, proc.stderr[-3000:]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics_printed_with_units(workload):
    rc, result, err = _bench(workload, trace=0)
    assert rc == 0, err
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["attempted"] >= 1
    if workload == "catalog":  # a serve_mix lookup can hit the known read race
        assert result["failed"] == 0
    want = {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(v["value"] > 0 for v in result["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_reports_every_layer_and_self_times_cover_wall(workload):
    rc, result, err = _bench(workload, trace=1)
    assert rc == 0, err
    want = {m["name"]: m["unit"] for m in _spec()["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    layers = {k: v["value"] for k, v in result["metrics"].items()}
    assert layers["trace.spans"] > 0 and layers["trace.overhead_ms"] >= 0

    tag = f"{workload}-seed7-trace1.spans.jsonl"
    spans = [json.loads(line) for line in open(os.path.join(ROOT, ".perfbench", tag))]
    root = "harness.catalog_query" if workload == "catalog" else "pipeline.catchup"
    roots = [s for s in spans if s["name"] == root]
    assert roots
    # The spans under the timed thread's roots account for its wall time.
    wall = max(s["end"] for s in roots) - min(s["start"] for s in roots)
    in_tree = {s["sid"] for s in roots}
    for s in spans:  # parents always precede children
        if s["parent"] in in_tree:
            in_tree.add(s["sid"])
    child = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
    self_times = [
        s["end"] - s["start"] - child.get(s["sid"], 0.0) for s in spans if s["sid"] in in_tree
    ]
    assert min(self_times) > -1e-3
    assert abs(sum(self_times) - wall) <= 0.10 * wall
    if workload == "serve_mix":
        assert layers["lookup.spark_jobs"] >= 1
        assert layers["grants_store.has_grant_ms_p50"] > 0
        assert layers["sharded_store.shards_rewritten"] >= 1
        assert layers["sharded_store.bytes_written"] > 0
        assert layers["stream.trigger_ms"] > 0


def test_corrupted_lookup_answer_is_caught():
    flip = (
        "import feature_store_2_spark.streaming.grants_store as g; _h = g.has_grant; "
        "g.has_grant = lambda *a, **k: not _h(*a, **k)"
    )
    rc, result, _ = _bench("serve_mix", trace=0, patch=flip)
    assert rc == 1
    assert result["correct"] is False and result["failed"] >= 1


def test_lookups_that_raise_fail_the_run():
    fail = (
        "import feature_store_2_spark.streaming.grants_store as g; "
        "g.has_grant = lambda *a, **k: 1 / 0"
    )
    rc, result, _ = _bench("serve_mix", trace=0, patch=fail)
    assert rc == 1
    assert result["correct"] is False and result["failed"] > 2


def test_refuses_to_run_without_the_engine(tmp_path):
    os.makedirs(tmp_path / "perfbench")
    for name in ("run.py", "harness.py", "workloads.py", "datagen.py", "__init__.py"):
        with open(os.path.join(ROOT, "perfbench", name)) as src:
            (tmp_path / "perfbench" / name).write_text(src.read())
    (tmp_path / "BENCHMARK.json").write_text(json.dumps(_spec()))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "catalog", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0 and proc.stdout == ""
