"""Benchmark entry point.

    python3 perfbench/run.py --workload {crawl_floor,curation_suite} \
        --seed N --seconds S --trace {0,1} [--smoke]

Run from the root of a checkout. The load comes from this one Python
process on ``local[<cpus>]``. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (every
end-to-end metric with ``--trace 0``, every per-layer metric with
``--trace 1``; METRICS.md maps each one). The exit code is 0 when every
output was correct, 1 on any mismatch, 2 when the program is missing.

``--smoke`` runs the same code paths at tiny scale (about 1k URLs,
sf0.001), about a minute per workload.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import traceback

import inputs
from jvm import peak_rss_mb, shutdown_jvm

WORKLOADS = ("crawl_floor", "curation_suite")
DRIVER_MEMORY = "4g"

# name -> unit; every workload prints every one of these
E2E = {
    "setup_s": "s",
    "first_op_s": "s",
    "work_s": "s",
    "items_per_s": "1/s",
}


def per_layer_units() -> dict:
    import suite
    from spans import EXEC_COUNTERS, EXEC_SPANS

    units = {
        "op_s_p50": "s",
        "session.start_s": "s",
        "frontier.init_s": "s",
        "frontier.absorb_s": "s",
        "frontier.schedule_s": "s",
        "frontier.fetch_s": "s",
        "frontier.commit_s": "s",
        "frontier.obs_read_s": "s",
        "frontier.seen_count_s": "s",
        "ckpt.wave1_s": "s",
        "ckpt.wave2_s": "s",
        "snapstore.commit_s": "s",
        "snapstore.bytes": "bytes",
        "expire.s": "s",
        "observe.reads": "count",
        "observe.fallbacks": "count",
        "topk.fallback_epochs": "count",
        "frontier.persisted_rdds": "count",
        "jvm.peak_rss_mb": "MB",
        "jvm.heap_live_mb": "MB",
    }
    for span in EXEC_SPANS:
        for c in EXEC_COUNTERS:
            units[f"{span}.{c}"] = "s" if c.endswith("_s") else ("bytes" if c.endswith("bytes") else "count")
    units["wave1.task_skew"] = units["wave2.task_skew"] = "ratio"
    for q in suite.SUBSET:
        units[f"q.{q}_s"] = "s"
    for fam in suite.FAMILIES:
        units[f"suite.{fam}_s"] = "s"
        units[f"suite.{fam}.jobs"] = "count"
        units[f"suite.{fam}.executor_run_s"] = "s"
        units[f"suite.{fam}.shuffle_bytes"] = "bytes"
        units[f"suite.{fam}.idle_s"] = "s"
    for m, u in E2E.items():
        units[f"traced.{m}"] = u
    return units


class Report:
    """What one run measured and found; turned into the result line."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.correct = True
        self.values: dict[str, float] = {}
        self.persisted_rdds: list[int] = []
        self.snapshot_bytes = 0
        self.peak_rss_mb = 0.0
        self.heap_live_mb = 0.0
        self.query_s: dict[str, float] = {}

    def setup(self, samples: list[float]) -> None:
        self.values["setup_s"] = statistics.median(samples)

    def e2e(self, **values: float) -> None:
        self.values.update(values)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.problems.append(f"failed: {what}")

    def mismatch(self, found: list[str]) -> None:
        if found:
            self.correct = False
            self.problems += [f"mismatch: {m}" for m in found]


class Session:
    """Starts and stops the deterministic session with the benchmark's
    confs; the work directories stay inside the checkout."""

    def __init__(self, run_dir: str, cpus: int, event_log: bool):
        self.run_dir = run_dir
        self.master = f"local[{cpus}]"
        self.conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        }
        if event_log:
            self.event_dir = os.path.join(run_dir, "eventlog")
            os.makedirs(self.event_dir, exist_ok=True)
            self.conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": self.event_dir,
                    "spark.eventLog.compress": "false",
                }
            )
        self.spark = None

    def start(self):
        from maga_spark.session import get_spark

        self.spark = get_spark(app_name="perfbench", master=self.master, extra_conf=self.conf)
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


def layer_metrics(report: Report, tracer, exec_log, passes: int) -> dict:
    """Per-layer numbers from the spans and the reduced event log; a layer
    the workload does not run reads 0."""
    import suite
    from spans import EXEC_COUNTERS, EXEC_SPANS, waves

    spans = tracer.spans + waves(tracer)
    epochs = [s for s in spans if s.name == "epoch"]

    def epoch_of(s):
        for e in epochs:
            if e.start <= s.start <= e.end:
                return e.attrs["epoch"]
        return None

    def per_epoch(name: str, value) -> float:
        """Median over steady epochs (or over the tail span) of the
        per-epoch total of ``value(span)``."""
        groups: dict = {}
        for s in spans:
            if s.name == name:
                e = epoch_of(s)
                if e != 0:
                    groups[e] = groups.get(e, 0.0) + value(s)
        return statistics.median(groups.values()) if groups else 0.0

    def med(name: str) -> float:
        xs = [s.dur for s in spans if s.name == name]
        return statistics.median(xs) if xs else 0.0

    steady_reads = [s for s in spans if s.name == "obs_read" and epoch_of(s) not in (0, None)]
    out = {
        "op_s_p50": report.values.get("op_s_p50", 0.0),
        "session.start_s": med("session"),
        "frontier.init_s": med("frontier_init"),
        "frontier.absorb_s": per_epoch("absorb", lambda s: s.dur),
        "frontier.schedule_s": per_epoch("schedule", lambda s: s.dur),
        "frontier.fetch_s": per_epoch("fetch", lambda s: s.dur),
        "frontier.commit_s": per_epoch("commit", lambda s: s.dur),
        "frontier.obs_read_s": per_epoch("obs_read", lambda s: s.dur),
        "frontier.seen_count_s": per_epoch("seen_count", lambda s: s.dur),
        "ckpt.wave1_s": per_epoch("wave1", lambda s: s.dur),
        "ckpt.wave2_s": per_epoch("wave2", lambda s: s.dur),
        "snapstore.commit_s": per_epoch("snapstore", lambda s: s.dur),
        "snapstore.bytes": report.snapshot_bytes,
        "expire.s": per_epoch("expire", lambda s: s.dur),
        "observe.reads": len(steady_reads),
        "observe.fallbacks": sum(1 for s in steady_reads if exec_log.within(s)["jobs"] > 0),
        "topk.fallback_epochs": sum(1 for e in epochs if e.attrs["topk_fallback"]),
        "frontier.persisted_rdds": max(report.persisted_rdds, default=0),
        "jvm.peak_rss_mb": report.peak_rss_mb,
        "jvm.heap_live_mb": report.heap_live_mb,
    }
    for span in EXEC_SPANS:
        for c in EXEC_COUNTERS:
            out[f"{span}.{c}"] = per_epoch(span, lambda s, c=c: exec_log.within(s)[c])
    for w in ("wave1", "wave2"):
        skews = [exec_log.within(s)["task_skew"] for s in spans if s.name == w and epoch_of(s) != 0]
        out[f"{w}.task_skew"] = statistics.median(skews) if skews else 0.0
    for q in suite.SUBSET:
        out[f"q.{q}_s"] = report.query_s.get(q, 0.0)
    queries = [s for s in spans if s.name == "query" and s.attrs.get("family")]
    for fam in suite.FAMILIES:
        mine = [exec_log.within(s) for s in queries if s.attrs["family"] == fam]
        out[f"suite.{fam}_s"] = sum(t for q, t in report.query_s.items() if suite.SUBSET[q] == fam)
        for c in ("jobs", "executor_run_s", "shuffle_bytes", "idle_s"):
            out[f"suite.{fam}.{c}"] = sum(x[c] for x in mine) / passes
    for m in E2E:
        out[f"traced.{m}"] = report.values.get(m, 0.0)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, same code paths")
    args = ap.parse_args(argv)

    missing = [
        p for p in ("maga_spark/plans/frontier.py", "__spark_entry__.py")
        if not os.path.isfile(os.path.join(inputs.ROOT, p))
    ]
    if missing:
        print(f"perfbench: program files missing from {inputs.ROOT}: {missing}", file=sys.stderr)
        return 2

    run_dir = os.path.join(inputs.WORK, "run", f"{args.workload}_{os.getpid()}")
    local_dir = os.path.join(run_dir, "local")
    os.makedirs(local_dir, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [inputs.ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["SPARK_LOCAL_DIRS"] = local_dir
    os.environ["TMPDIR"] = local_dir
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-memory {DRIVER_MEMORY} --driver-java-options -Djava.io.tmpdir={local_dir} pyspark-shell"
    )
    sys.path.insert(0, inputs.ROOT)

    import crawl
    import suite
    from spans import ExecLog, Tracer, instrument_crawl

    cpus = len(os.sched_getaffinity(0))
    tracer = Tracer(args.trace == 1)
    session = Session(run_dir, cpus, event_log=tracer.enabled)
    report = Report()
    n_passes = 1
    try:
        if tracer.enabled:
            instrument_crawl(tracer)
        if args.workload == "crawl_floor":
            shape = inputs.CRAWL_SMOKE if args.smoke else inputs.CRAWL_FLOOR
            crawl.run(session, shape, args.seed, args.seconds, tracer, report)
        else:
            sf_dir = inputs.SF_DIRS["smoke" if args.smoke else "full"]
            n_passes = suite.passes(args.seconds)
            suite.run(session, sf_dir, args.seed, args.seconds, tracer, report)
        report.peak_rss_mb = peak_rss_mb()
    except Exception:
        traceback.print_exc()
        report.fail("workload aborted")
        report.correct = False
    finally:
        tracer.restore()
        session.stop()
        shutdown_jvm()

    for p in report.problems:
        print(f"perfbench: {p}", file=sys.stderr)
    e2e = {m: report.values.get(m, 0.0) for m in E2E}
    if tracer.enabled:
        values = layer_metrics(report, tracer, ExecLog.read(session.event_dir), n_passes)
        units = per_layer_units()
        _report_overhead(args, e2e)
    else:
        values, units = e2e, E2E
        _save_untraced(args, e2e)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(
        json.dumps(
            {
                "correct": report.correct,
                "attempted": report.attempted,
                "failed": report.failed,
                "metrics": {m: {"value": values[m], "unit": u} for m, u in units.items()},
            }
        )
    )
    return 0 if report.correct else 1


def _result_path(args) -> str:
    tag = f"{args.workload}_seed{args.seed}_s{args.seconds}{'_smoke' if args.smoke else ''}"
    return os.path.join(inputs.WORK, "results", f"{tag}.json")


def _save_untraced(args, e2e: dict) -> None:
    os.makedirs(os.path.dirname(_result_path(args)), exist_ok=True)
    with open(_result_path(args), "w") as f:
        json.dump(e2e, f)


def _report_overhead(args, traced: dict) -> None:
    """Tracing overhead: traced minus untraced, per end-to-end metric, when
    an untraced run of the same workload, seed and length exists."""
    try:
        with open(_result_path(args)) as f:
            untraced = json.load(f)
    except OSError:
        print("perfbench: no untraced run with this seed to report overhead against", file=sys.stderr)
        return
    for m, u in E2E.items():
        print(f"perfbench: overhead {m} = {traced[m] - untraced[m]:+.4f} {u}", file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main())
