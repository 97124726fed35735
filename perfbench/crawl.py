"""``crawl_floor``: the crawl engine epoch by epoch on bench.py's fixture.

Closed loop, one caller: ``CrawlEngine.run(epochs=1)`` per epoch (the call
``streaming/crawl_loop`` makes per micro-batch, without ordering
collection), the next epoch issued only after the previous returns. Epoch
0 is cold; the steady window is the fixed number of epochs after it.
Grants per epoch stay small on this fixture (256, then ~750, ~1.6k and
~3.3k), so the window mostly pays the per-epoch floor: driver planning,
job launches and the two commit waves.

In traced runs, after the window and its gates, a tail commits one
snapshot (plans.snapstore) and expires a seed-chosen slice of the previous
epoch's fetched URLs (operators.seen through ``CrawlEngine.expire_urls``),
so those layers are measured and checked; untraced runs skip it because
none of its numbers is an end-to-end metric.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time

import gates
import inputs
from jvm import heap_live_mb
from spans import Tracer

SETUP_REPEATS = 5
NOMINAL_EPOCH_S = 7.0  # steady epochs per run = --seconds / this, at least 2
EXPIRE_LAG = 1  # the tail expires URLs fetched this many epochs before the last


def steady_epochs(seconds: int) -> int:
    return max(2, round(seconds / NOMINAL_EPOCH_S))


def run(session, shape: inputs.CrawlShape, seed: int, seconds: int, tracer: Tracer, report) -> None:
    from maga_spark.crawlspec import CrawlConfig
    from maga_spark.plans.frontier import CrawlEngine

    fixture = inputs.crawl_fixture(shape, seed)
    n_steady = steady_epochs(seconds)
    cfg = CrawlConfig(epochs=1 + n_steady, global_k=shape.global_k, nshards=shape.nshards)

    setups = []
    for i in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        with tracer.span("session"):
            spark = session.start()
        with tracer.span("frontier_init"):
            eng = CrawlEngine(spark, fixture, cfg)
        setups.append(time.perf_counter() - t0)
        if i < SETUP_REPEATS - 1:
            session.stop()
    report.setup(setups)

    ordering, metrics, times = [], [], []
    tap = _OrderingTap()
    try:
        for e in range(cfg.epochs):
            fallback = eng.topk_fallback_active
            report.attempted += 1
            t0 = time.perf_counter()
            try:
                with tracer.span("epoch", epoch=e, topk_fallback=fallback):
                    res = eng.run(epochs=1)
            except Exception as exc:  # the crawl cannot continue past a failed epoch
                report.fail(f"epoch {e}: {exc!r}")
                break
            times.append(time.perf_counter() - t0 - tap.read_s)
            if tracer.enabled:
                report.persisted_rdds.append(spark.sparkContext._jsc.getPersistentRDDs().size())
            ordering += tap.take(e)
            metrics += res.metrics
    finally:
        tap.remove()
    done = len(times)
    if tracer.enabled:
        report.heap_live_mb = heap_live_mb(spark)
    print(f"perfbench: epoch times {[round(t, 3) for t in times]}", file=sys.stderr)
    if done == 0:
        return
    steady = times[1:]
    urls = sum(m["scheduled"] + m["fetched"] for m in metrics[1:])
    report.e2e(
        first_op_s=times[0],
        op_s_p50=statistics.median(steady) if steady else times[0],
        work_s=sum(steady) if steady else times[0],
        items_per_s=urls / sum(steady) if steady else 0.0,
    )

    # --- correctness, outside the timed window ---
    seen = {r["shard"]: list(r["hashes"]) for r in eng.seen_per_shard()}
    got = gates.crawl_digest(ordering, seen, metrics)
    ref_cfg = CrawlConfig(epochs=done, global_k=shape.global_k, nshards=shape.nshards)
    want = gates.sim_digest(fixture, ref_cfg, os.path.join(inputs.WORK, "cache"))
    report.mismatch(gates.compare_crawl(got, want))

    if tracer.enabled:
        _tail(spark, eng, shape, seed, ordering, metrics, session.run_dir, tracer, report)


def _tail(spark, eng, shape, seed, ordering, metrics, run_dir, tracer, report) -> None:
    """Snapshot commit and seen-set expiry after the last epoch, with their
    gates. Traced runs only: their numbers are per-layer metrics."""
    from maga_spark.plans.snapstore import commit_epoch, verify_snapshot

    last = len(metrics) - 1
    snap = os.path.join(run_dir, "snapshots")
    shutil.rmtree(snap, ignore_errors=True)
    eng.snapshot_dir = snap
    report.attempted += 1
    try:
        with tracer.span("snapstore"):
            commit_epoch(eng, last, metrics=metrics[-1])
    except Exception as exc:
        report.fail(f"commit_epoch: {exc!r}")
    else:
        report.snapshot_bytes = _dir_bytes(snap)
        if not verify_snapshot(spark, snap, last, shape.nshards)["ok"]:
            report.mismatch([f"verify_snapshot failed for epoch {last}"])
    expired = inputs.expiry_slice([u for ep, _, u in ordering if ep == last - EXPIRE_LAG], seed)
    report.attempted += 1
    try:
        with tracer.span("expire"):
            n = eng.expire_urls(spark.createDataFrame([(u,) for u in expired], "url string"))
    except Exception as exc:
        report.fail(f"expire_urls: {exc!r}")
        return
    if n != len(expired):
        report.mismatch([f"expire_urls returned {n}, slice holds {len(expired)}"])
    want_seen = sum(m["enqueued"] + m["blocked_robots"] for m in metrics) - n
    got_seen = eng.seen.count()
    if got_seen != want_seen:
        report.mismatch([f"seen count {got_seen} != enqueued+blocked-expired {want_seen}"])


class _OrderingTap:
    """Reads each epoch's fetch ordering for the parity gate without
    changing the epoch's plan. ``run(collect_ordering=True)`` would collect
    the granted rows before the commit, so that collect, not commit wave 1,
    would materialize the epoch's caches. The tap instead keeps the granted
    frame that ``_fetch`` receives and collects it right after
    ``_commit_state`` returns, from the cache wave 1 filled; the collect's
    own time is subtracted from the epoch's."""

    def __init__(self):
        from maga_spark.plans.frontier import CrawlEngine

        self._cls = CrawlEngine
        self._fetch = CrawlEngine._fetch
        self._commit = CrawlEngine._commit_state
        self._granted = None
        self._rows: list = []
        self.read_s = 0.0
        tap = self

        def fetch(eng, granted, epoch):
            tap._granted = granted
            return tap._fetch(eng, granted, epoch)

        def commit(eng, discoveries):
            tap._commit(eng, discoveries)
            t0 = time.perf_counter()
            tap._rows = tap._granted.select("epoch_rank", "url_canon").orderBy("epoch_rank").collect()
            tap.read_s = time.perf_counter() - t0

        CrawlEngine._fetch = fetch
        CrawlEngine._commit_state = commit

    def take(self, epoch: int) -> list:
        rows = [(epoch, r["epoch_rank"], r["url_canon"]) for r in self._rows]
        self._rows, self.read_s = [], 0.0
        return rows

    def remove(self) -> None:
        self._cls._fetch = self._fetch
        self._cls._commit_state = self._commit


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)
