"""Steady crawl epochs reuse the previous epoch's generated code.

One epoch needs ~165 distinct generated classes; Spark's default codegen
cache (``spark.sql.codegen.cache.maxEntries`` = 100, a static JVM-wide
LRU) evicts each of them before the next epoch asks for it again, so
every epoch recompiled its whole pipeline. ``session.PINNED_CONF`` sizes
the cache to the working set, and the epoch plan carries its per-epoch
values as data (a LocalRelation) rather than literals, so a steady epoch
compiles next to nothing.

Also pinned: the engine's epoch inputs (the empty initial state tables and
the per-epoch parameter table) are planned JVM-side. ``createDataFrame``
from a Python list would put a Python-backed RDD under them.
"""

from __future__ import annotations

import pytest
from py4j.protocol import Py4JError

from maga_spark.crawlspec import CrawlConfig, epoch_target
from maga_spark.plans.frontier import CrawlEngine
from maga_spark.session import PINNED_CONF
from maga_spark.sources.fixtures import generate

MAX_ENTRIES = "spark.sql.codegen.cache.maxEntries"
# classes epochs 3-5 may compile together: a quarter of ONE epoch's working
# set, i.e. far below the ~500 the three recompiled with Spark's default cache
STEADY_BOUND = 40


@pytest.fixture(scope="module")
def fixtures_dir(tmp_path_factory):
    fx = str(tmp_path_factory.mktemp("codegen_fx") / "fx")
    generate(fx, n_urls=400, n_seeds=16, n_images=32, rate_boost=4)
    return fx


def _compile_count(spark):
    """Classes compiled so far in this JVM, or skip when the py4j surface
    of Spark's CodegenMetrics moved."""
    try:
        return int(
            spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
        )
    except (Py4JError, TypeError) as exc:  # TypeError: class not on the JVM
        pytest.skip(f"CodegenMetrics not reachable through py4j: {exc!r}")


def _leaf_names(plan) -> set:
    leaves = plan.collectLeaves()
    return {leaves.apply(i).getClass().getSimpleName() for i in range(leaves.size())}


def test_steady_epochs_reuse_generated_code(spark, fixtures_dir):
    assert spark.conf.get(MAX_ENTRIES) == PINNED_CONF[MAX_ENTRIES] == "1024"
    _compile_count(spark)
    eng = CrawlEngine(spark, fixtures_dir, CrawlConfig(global_k=50, nshards=4))
    compiled = []
    for _ in range(6):
        before = _compile_count(spark)
        eng.run(epochs=1)
        compiled.append(_compile_count(spark) - before)
    # Before the cache was sized, every epoch recompiled its whole working
    # set: ~165 classes, ~500 over epochs 3-5. Now a steady epoch compiles
    # only what AQE replans differently, and that depends on which query
    # stage finishes first (e.g. whether a host join turns into a broadcast
    # before or after its probe side's shuffle starts): measured 0-16
    # classes over epochs 3-5 across runs.
    assert sum(compiled[3:]) < STEADY_BOUND, compiled


def test_epoch_inputs_are_jvm_local_relations(spark, fixtures_dir):
    eng = CrawlEngine(spark, fixtures_dir, CrawlConfig(global_k=50, nshards=4))
    tables = {
        "frontier": eng.frontier,
        "seen": eng.seen,
        "host_state": eng.host_state,
        "epoch": eng._epoch_table(3),
    }
    schemas = {
        "frontier": "struct<url_hash:bigint,url_canon:string,host:string,path:string>",
        "seen": "struct<shard:int,url_hash:bigint>",
        "host_state": "struct<host:string,tokens:int,epoch:int>",
        "epoch": "struct<cur_epoch:int,cur_target:bigint>",
    }
    for name, df in tables.items():
        assert df.schema.simpleString() == schemas[name], name
        qe = df._jdf.queryExecution()
        assert _leaf_names(qe.optimizedPlan()) == {"LocalRelation"}, name
        for plan in (qe.analyzed(), qe.optimizedPlan()):
            text = plan.toString()
            assert "LogicalRDD" not in text and "ExistingRDD" not in text, (name, text)
    for name in ("frontier", "seen", "host_state"):
        assert tables[name].count() == 0, name
    assert [tuple(r) for r in tables["epoch"].collect()] == [(3, epoch_target(3))]
