"""Deployment proof for BASELINE.json's "run via spark-submit --py-files":
package the library into a zip, launch tools/submit_crawl.py through the
REAL spark-submit binary with PYTHONPATH stripped (the zip is the only way
the driver and executors can import maga_spark), and check the crawl's
parity digests against the sequential simulator."""

from __future__ import annotations

import importlib.util
import json
import os
import shutil
import subprocess
import sys

import pytest

from maga_spark.crawlspec import CrawlConfig
from maga_spark.sim import run as sim_run
from maga_spark.sources.fixtures import generate

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_tool(name: str):
    spec = importlib.util.spec_from_file_location(name, os.path.join(REPO, "tools", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _spark_submit() -> str:
    exe = shutil.which("spark-submit")
    if exe:
        return exe
    import pyspark

    return os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")


CFG = CrawlConfig(epochs=3, global_k=30, nshards=8)


def test_spark_submit_pyfiles_end_to_end(tmp_path):
    fixtures = str(tmp_path / "fixtures")
    generate(fixtures, n_urls=500, n_seeds=10)
    golden = sim_run(fixtures, CFG)

    make_pyfiles = _load_tool("make_pyfiles")
    submit_crawl = _load_tool("submit_crawl")
    zip_path = make_pyfiles.build_zip(str(tmp_path / "maga_spark.zip"))
    # deterministic artifact: same tree → byte-identical zip
    zip2 = make_pyfiles.build_zip(str(tmp_path / "again.zip"))
    assert open(zip_path, "rb").read() == open(zip2, "rb").read()

    env = {k: v for k, v in os.environ.items() if k not in ("PYTHONPATH",)}
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    proc = subprocess.run(
        [
            _spark_submit(),
            "--master",
            "local[2]",
            "--py-files",
            zip_path,
            os.path.join(REPO, "tools", "submit_crawl.py"),
            fixtures,
            "--epochs",
            str(CFG.epochs),
            "--global-k",
            str(CFG.global_k),
            "--shuffle-partitions",
            "5",
        ],
        capture_output=True,
        text=True,
        cwd=str(tmp_path),  # neutral cwd: no repo import path
        env=env,
        timeout=600,
    )
    assert proc.returncode == 0, f"spark-submit failed:\n{proc.stdout}\n{proc.stderr}"
    line = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")][-1]
    out = json.loads(line)

    # the import really came from the --py-files artifact, not a repo path
    assert ".zip" in out["pkg_path"], out["pkg_path"]
    assert out["master"] == "local[2]"

    assert out["granted"] == len(golden.ordering)
    assert out["ordering_digest"] == submit_crawl.ordering_digest(golden.ordering)
    assert out["seen_digest"] == submit_crawl.seen_digest(golden.seen)
    assert out["metrics"] == golden.metrics


@pytest.mark.parametrize("_", [0])
def test_zip_contains_whole_package(tmp_path, _):
    import zipfile

    make_pyfiles = _load_tool("make_pyfiles")
    zip_path = make_pyfiles.build_zip(str(tmp_path / "m.zip"))
    names = set(zipfile.ZipFile(zip_path).namelist())
    for required in (
        "maga_spark/__init__.py",
        "maga_spark/plans/frontier.py",
        "maga_spark/operators/seen.py",
        "maga_spark/plans/ckpt.py",
        "maga_spark/streaming/ingest.py",
    ):
        assert required in names
    assert not any("__pycache__" in n for n in names)