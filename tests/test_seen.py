"""Seen-set membership operator (SURVEY.md §7.4) and the engine's
re-crawl expiry (``CrawlEngine.expire_urls``)."""

from __future__ import annotations

from pyspark.sql import functions as F

from maga_spark.operators.seen import anti_join_exact


def _mk(spark, n_seen=500, n_cand=300, nshards=8):
    seen = (
        spark.range(n_seen)
        .select(F.xxhash64("id").alias("url_hash"))
        .withColumn("shard", F.pmod("url_hash", F.lit(nshards)).cast("int"))
        .select("shard", "url_hash")
    )
    # candidates: half overlap with seen, half new
    cand = spark.range(n_seen - n_cand // 2, n_seen + n_cand // 2).select(
        F.xxhash64("id").alias("url_hash"), F.col("id").alias("payload")
    )
    return seen, cand


def test_anti_join_exact_keeps_only_new(spark):
    seen, cand = _mk(spark)
    exact = {r["url_hash"] for r in anti_join_exact(cand, seen).collect()}
    assert len(exact) == 150  # exactly the new half


def test_empty_seen(spark):
    seen, cand = _mk(spark, n_seen=0, n_cand=100)
    got = anti_join_exact(cand, seen).count()
    assert got == cand.count()


def test_engine_expire_recrawl(spark, tmp_path):
    """Re-crawl end-to-end: expire fetched URLs from seen and the next
    absorb re-enqueues and re-grants them."""
    from maga_spark.crawlspec import CrawlConfig
    from maga_spark.plans.frontier import CrawlEngine
    from maga_spark.sources.fixtures import generate

    d = str(tmp_path / "fx")
    generate(d, n_urls=400, n_seeds=10)
    cfg = CrawlConfig(epochs=3, global_k=200, nshards=8)
    eng = CrawlEngine(spark, d, cfg)
    res1 = eng.run(collect_ordering=True)
    assert len(res1.ordering) > 20
    seen_before = eng.seen.count()

    # pick crawled URLs on distinct hosts (politeness grants a few per host)
    by_host: dict[str, str] = {}
    for _e, _r, url in res1.ordering:
        by_host.setdefault(url.split("/")[2], url)
        if len(by_host) == 4:
            break
    urls = sorted(by_host.values())
    expired = eng.expire_urls(spark.createDataFrame([(u,) for u in urls], "url string"))
    assert expired == len(urls)
    assert eng.seen.count() == seen_before - len(urls)
    # idempotent: expiring again is a no-op (keys no longer in seen)
    assert eng.expire_urls(spark.createDataFrame([(u,) for u in urls], "url string")) == 0

    # feed the expired URLs back as the next discovery batch: every one
    # must re-enter the crawl — re-granted already, or re-enqueued and
    # waiting on priority/politeness like any first-time URL
    eng._pending = spark.createDataFrame([(u,) for u in urls], "url string")
    res2 = eng.run(epochs=1, collect_ordering=True)
    regranted = {u for (_e, _r, u) in res2.ordering}
    queued = {r["url_canon"] for r in eng.frontier.select("url_canon").collect()}
    assert set(urls) <= regranted | queued, f"lost: {set(urls) - regranted - queued}"
    assert regranted & set(urls), "expiry re-granted nothing"
    assert eng.seen.count() == seen_before  # re-absorbed into seen
