"""Tests of the benchmark's own code.

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke tests start Spark (about a minute each); the rest are pure Python.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gates  # noqa: E402
import run  # noqa: E402
import suite  # noqa: E402


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _result(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )


def test_catalogue_matches_benchmark_json():
    doc = _benchmark_json()
    assert {m["name"]: m["unit"] for m in doc["end_to_end"]} == run.E2E
    assert {m["name"]: m["unit"] for m in doc["per_layer"]} == run.per_layer_units()
    assert [w["name"] for w in doc["workloads"]] == list(run.WORKLOADS)
    with open(os.path.join(HERE, "METRICS.md")) as f:
        metric_map = f.read()
    assert [m["name"] for m in doc["end_to_end"] + doc["per_layer"] if f"`{m['name']}`" not in metric_map] == []


def test_golden_covers_every_query_at_both_scales():
    with open(suite.GOLDEN) as f:
        golden = json.load(f)
    for sf_dir in run.inputs.SF_DIRS.values():
        assert set(golden[os.path.basename(sf_dir)]) == {*suite.SUBSET, *suite.WARMUP}


def test_corrupted_digest_is_caught():
    golden = {"a": "3:17:99", "b": "1:-5:4"}
    assert gates.compare_digests(dict(golden), golden) == []
    assert gates.compare_digests({**golden, "b": "1:-5:5"}, golden) == ["b: digest 1:-5:5 != golden 1:-5:4"]

    ordering = [(0, 1, "http://h1.test/p/1"), (0, 2, "http://h2.test/p/9")]
    seen = {0: [4, 8], 1: [3]}
    metrics = [{"epoch": 0, "scheduled": 2}]
    ref = gates.crawl_digest(ordering, seen, metrics)
    assert gates.compare_crawl(gates.crawl_digest(ordering, seen, metrics), ref) == []
    swapped = [(0, 1, ordering[1][2]), (0, 2, ordering[0][2])]
    assert gates.compare_crawl(gates.crawl_digest(swapped, seen, metrics), ref)
    assert gates.compare_crawl(gates.crawl_digest(ordering, {0: [4, 8], 1: [5]}, metrics), ref)
    assert gates.compare_crawl(gates.crawl_digest(ordering, seen, [{"epoch": 0, "scheduled": 3}]), ref)


@pytest.mark.parametrize("trace", ["0", "1"])
@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_smoke_prints_every_metric_with_its_unit(workload, trace):
    doc = _benchmark_json()
    p = _run(ROOT, "--workload", workload, "--seed", "7", "--seconds", "1", "--trace", trace, "--smoke")
    assert p.returncode == 0, p.stderr[-2000:]
    res = _result(p.stdout)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    want = doc["per_layer"] if trace == "1" else doc["end_to_end"]
    assert {m: v["unit"] for m, v in res["metrics"].items()} == {m["name"]: m["unit"] for m in want}
    assert all(isinstance(v["value"], (int, float)) for v in res["metrics"].values())


def _checkout(tmp_path, with_program: bool) -> str:
    """A directory shaped like a checkout: BENCHMARK.json and perfbench,
    plus links to the program when ``with_program``."""
    root = str(tmp_path / "checkout")
    shutil.copytree(HERE, os.path.join(root, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), root)
    if with_program:
        for name in ("maga_spark", "__spark_entry__.py"):
            os.symlink(os.path.join(ROOT, name), os.path.join(root, name))
    return root


def test_missing_program_exits_nonzero_without_result(tmp_path):
    root = _checkout(tmp_path, with_program=False)
    p = _run(root, "--workload", "crawl_floor", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def test_wrong_output_fails_the_run(tmp_path):
    root = _checkout(tmp_path, with_program=True)
    path = os.path.join(root, "perfbench", "golden.json")
    with open(path) as f:
        golden = json.load(f)
    n, x, s = golden["sf0.001"]["dns_resolve"].split(":")
    golden["sf0.001"]["dns_resolve"] = f"{n}:{x}:{int(s) + 1}"
    with open(path, "w") as f:
        json.dump(golden, f)
    p = _run(root, "--workload", "curation_suite", "--seed", "1", "--seconds", "1", "--trace", "0", "--smoke")
    assert p.returncode == 1
    assert _result(p.stdout)["correct"] is False
    assert "dns_resolve" in p.stderr
