"""Smoke test of the benchmark harness at a tiny input size.

    python3 -m pytest perfbench/test_smoke.py -q

Each case runs perfbench/run.py in a fresh process (one Spark session
each, about half a minute apiece).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
sys.path.insert(0, ROOT)

from perfbench.workloads import QUERIES  # noqa: E402


def run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "1", "--seconds", "1",
         "--scale", "tiny", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["attempted"] >= 1
    return res


def names(kind: str) -> set[str]:
    return {m["name"] for m in SPEC[kind]}


def test_crawl_emits_every_end_to_end_metric():
    res = result(run(ROOT, "--workload", "crawl_bulk", "--trace", "0"))
    assert res["correct"] and res["failed"] == 0
    assert set(res["metrics"]) == names("end_to_end")
    assert all(m["value"] > 0 for m in res["metrics"].values())


def test_crawl_traced_emits_every_per_layer_metric():
    res = result(run(ROOT, "--workload", "crawl_bulk", "--trace", "1"))
    assert res["correct"]
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert set(m) == names("per_layer")
    for k in ("engine.rounds", "engine.pipeline_s", "extract.pages_per_s",
              "udfs.extract_page.py_s", "tables.append_calls",
              "tables.compact_calls", "spark.jobs", "spark.executor_run_s"):
        assert m[k] > 0, k
    assert 0.5 < m["trace.coverage"] <= 1.0


def test_corrupted_digest_fails_every_op(tmp_path):
    expected = json.load(open(os.path.join(BENCH_DIR, "expected.json")))
    expected["query_suite"][QUERIES[0]] = "0" * 40  # tiny runs QUERIES[:2]
    path = tmp_path / "expected.json"
    path.write_text(json.dumps(expected))
    res = result(run(ROOT, "--workload", "query_suite", "--trace", "0",
                     "--expected", str(path)))
    assert not res["correct"]
    assert res["failed"] == res["attempted"]


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = run(str(tmp_path), "--workload", "crawl_bulk", "--trace", "0")
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


def test_fixture_seeds_share_one_shape():
    """Every recorded fixture seed, the held-out one included, crawls in
    the same four rounds with batches of similar size, so a claim made on
    some seeds can be checked on another."""
    recorded = json.load(open(os.path.join(BENCH_DIR, "expected.json")))["crawl_bulk"]
    assert any(k.endswith("-s1000") for k in recorded)  # the held-out seed
    shapes = [e["shape"]["batches"] for e in recorded.values()]
    assert len(shapes) >= 2
    assert all(len(b) == 4 for b in shapes), shapes
    for i in range(4):
        sizes = [b[i] for b in shapes]
        assert min(sizes) >= 0.7 * max(sizes), (i, sizes)
