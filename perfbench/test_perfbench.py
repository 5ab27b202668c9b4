"""Self-test of the benchmark: every workload on a tiny corpus.

    python3 -m pytest perfbench/test_perfbench.py -q

Each run takes seconds to tens of seconds (a Spark session per run).  The
tests check the output contract of BENCHMARK.json, that every named and
per-layer metric is printed, that no operation fails, and that the traced
layers account for the wall they split.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from proc import CpuClock, RssSampler  # noqa: E402
from run import NAMED_UNITS  # noqa: E402
from spans import Tracer  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def bench(*args: str, cwd: str = ROOT, timeout: int = 600) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


def result_of(out: subprocess.CompletedProcess) -> dict:
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1, res
    return res


def printed(out: subprocess.CompletedProcess) -> dict[str, tuple[float, str]]:
    lines = out.stdout.strip().splitlines()[:-1]
    return {name: (float(v), unit) for name, v, unit in (ln.split() for ln in lines)}


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_prints_every_end_to_end_metric(workload):
    out = bench("--workload", workload, "--seed", "3", "--seconds", "1", "--trace", "0", "--tiny")
    res = result_of(out)
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    for name, m in res["metrics"].items():
        assert m["value"] > 0, name  # end-to-end metrics are never 0
        value, unit = printed(out)[name]
        assert unit == m["unit"] and value == pytest.approx(m["value"], rel=1e-5)


def test_all_prints_the_named_metrics_with_no_failures():
    out = bench("--workload", "all", "--seed", "5", "--seconds", "1", "--trace", "0", "--tiny")
    res = result_of(out)
    got = printed(out)
    for name, unit in NAMED_UNITS.items():
        assert got[name][1] == unit, name
    assert got["failed_op_ratio"][0] == 0
    assert set(res["metrics"]) == set(NAMED_UNITS)


def test_traced_run_prints_every_layer_and_layers_sum_to_wall():
    out = bench("--workload", "all", "--seed", "7", "--seconds", "2", "--trace", "1", "--tiny")
    res = result_of(out)
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert set(m) == {x["name"] for x in SPEC["per_layer"]}
    steps = sum(m[f"build.{s}_s"] for s in
                ("docs", "tokens", "doc_stats", "term_stats", "meta", "doc_map", "postings"))
    assert steps + m["build.control_s"] == pytest.approx(m["build.wall_s"], rel=0.10)
    serve = sum(m[f"serve.{x}_ms"] for x in
                ("analyze", "plan", "filter", "scan", "kernel", "decode", "merge"))
    assert serve == pytest.approx(m["serve.wall_ms"], rel=0.10)
    # merge is the query wall minus its children, so the sum above holds
    # whatever the wraps catch; a layer no longer caught would land in it
    for layer in ("scan", "kernel", "decode"):
        assert m[f"serve.{layer}_ms"] > 0, layer
    assert m["serve.merge_ms"] < 0.5 * m["serve.wall_ms"]
    for name in ("serve.block_decode_ratio", "ingest.block_decode_ratio",
                 "spark_query.noop_udf_ms", "spark_query.jvm_count_ms",
                 "spark_query.jobs_per_query", "batch.jobs_per_batch",
                 "build.jobs", "build.shuffle_write_bytes", "ingest.reopen_ms"):
        assert m[name] > 0, name
    spans = os.path.join(ROOT, ".perfbench_out", "spans-read.jsonl")
    with open(spans) as f:
        first = json.loads(f.readline())
    assert set(first) == {"name", "start", "end", "parent", "op"}


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "read", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert out.returncode != 0
    assert "no kafka_elasticsearch_standalone_consumer_spark package under" in out.stderr
    assert '"correct"' not in out.stdout


def test_self_time_subtracts_children():
    tr = Tracer()
    with tr.span("outer"):
        time.sleep(0.02)
        with tr.span("inner"):
            time.sleep(0.03)
    outer, inner = ("outer", "outer"), ("outer", "inner")  # keyed by (root, name)
    assert tr.total_s[outer] >= tr.total_s[inner] >= 0.03
    assert tr.self_s[outer] == pytest.approx(tr.total_s[outer] - tr.total_s[inner])
    assert tr.spans[1][3] == 0  # inner's parent is outer


def test_cpu_clock_counts_children_and_skips_the_sampler():
    sampler = RssSampler(period_s=0.01)
    sampler.start()
    clock = CpuClock(sampler)
    d0, t0 = clock.driver(), clock.tree()
    child = subprocess.Popen([sys.executable, "-c",
                              "import time\nt = time.process_time()\n"
                              "while time.process_time() - t < 0.3: pass\ntime.sleep(5)"])
    time.sleep(1.0)
    d1, t1 = clock.driver(), clock.tree()
    child.kill()
    child.wait()
    sampler.stop()
    assert t1 - t0 >= (d1 - d0) + 0.25  # the busy child, at tick resolution
    assert d1 - d0 < 0.2  # the sampler's /proc walks are not counted
