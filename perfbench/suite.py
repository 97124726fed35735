"""``curation_suite``: operator queries from ``__spark_entry__.queries()``.

Closed loop, one caller, over a fixed subset of the registry in a
seed-permuted order. Each query is timed as its build plus one action that
hashes every output column of every row (``.count()`` would let Catalyst
prune columns); the same action yields the output digest checked against
``golden.json``. There is no crawl state here, so crawl changes should
leave this workload flat and operator changes should leave the crawl flat.

The subset is the eleven queries the roadmap names for the dedup, text,
training and Python-UDF work. The whole registry takes ~130 s cold at
sf0.01 on 4 cores, which does not fit one run.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

import gates
import inputs
from jvm import heap_live_mb
from spans import Tracer

# query -> family, grouped by the module that does the query's work:
# dedup = operators.dedup/similarity, text = operators.text/pipeline,
# training = operators.training/sampling/stats, crawl_ops = the rest
# (functions.*, robots, resolver, links, graph, plain SQL)
SUBSET = {
    "semantic_dedup": "dedup",
    "simhash_near_dups": "dedup",
    "corpus_curate": "text",
    "image_curate": "text",
    "winnow_fingerprint": "text",
    "decontaminate": "training",
    "repeated_ngrams": "training",
    "corpus_export": "training",
    "robots_rfc": "crawl_ops",
    "dns_resolve": "crawl_ops",
    "krpc_roundtrip": "crawl_ops",
}
FAMILIES = ("dedup", "text", "training", "crawl_ops")
# run once on the cold session before the timed loop, their time being
# first_op_s; crawl_delay also starts the Python workers, so the loop does
# not charge that start to whichever query the seed puts first
WARMUP = ("crawl_delay",)
SETUP_REPEATS = 9
NOMINAL_PASS_S = 25.0  # passes per run = --seconds / this, at least 1
GOLDEN = os.path.join(inputs.BENCH_DIR, "golden.json")


def passes(seconds: int) -> int:
    return max(1, round(seconds / NOMINAL_PASS_S))


def digest(df) -> tuple[str, int]:
    """Order-insensitive digest of every column of every row, and the row
    count. Columns enter the hash in name order."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(f"`{c}`") for c in sorted(df.columns)])
    r = df.select(h.alias("h")).agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor("h").alias("x"),
        F.sum(F.pmod("h", F.lit(1 << 32))).alias("s"),
    ).first()
    return f"{r['n']}:{r['x']}:{r['s']}", r["n"]


def load_golden(sf_dir: str) -> dict:
    with open(GOLDEN) as f:
        return json.load(f)[os.path.basename(sf_dir)]


def run(session, sf_dir: str, seed: int, seconds: int, tracer: Tracer, report) -> None:
    import __spark_entry__ as entry

    qs = entry.queries()
    golden = load_golden(sf_dir)

    got: dict[str, str] = {}
    samples: dict[str, list[float]] = {}
    rows = 0

    def one(name: str) -> float | None:
        nonlocal rows
        report.attempted += 1
        t0 = time.perf_counter()
        try:
            with tracer.span("query", query=name, family=SUBSET.get(name)):
                d, n = digest(qs[name](spark, sf_dir))
        except Exception as exc:
            report.fail(f"{name}: {exc!r}")
            return None
        dt = time.perf_counter() - t0
        got[name] = d
        if name in SUBSET:
            rows += n
        return dt

    setups = []
    for i in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        with tracer.span("session"):
            spark = session.start()
        setups.append(time.perf_counter() - t0)
        if i < SETUP_REPEATS - 1:
            session.stop()
    report.setup(setups)

    t0 = time.perf_counter()
    for name in WARMUP:
        one(name)
    first = time.perf_counter() - t0

    for _ in range(passes(seconds)):
        for name in inputs.query_order(sorted(SUBSET), seed):
            dt = one(name)
            if dt is not None:
                samples.setdefault(name, []).append(dt)

    if tracer.enabled:
        report.heap_live_mb = heap_live_mb(spark)
    per_query = {n: statistics.median(v) for n, v in samples.items()}
    print(f"perfbench: set-ups {setups}, query times {per_query}", file=sys.stderr)
    suite_s = sum(per_query.values())
    report.query_s = per_query
    report.e2e(
        first_op_s=first,
        op_s_p50=statistics.median(per_query.values()) if per_query else 0.0,
        work_s=suite_s,
        items_per_s=rows / passes(seconds) / suite_s if suite_s else 0.0,
    )
    report.mismatch(gates.compare_digests(got, golden))
