"""★ The sharded URL-seen set — the engine's core custom operator
(SURVEY.md §7.4; reference analog: piece-request dedup anti-join,
screenshot_system/io_adapter.py:65-69, and the infohash-dedup left to user
code, maga/crawler.py:216-223).

Representation: ``seen(shard int, url_hash long)`` with
``shard = pmod(url_hash, nshards)`` — hash-partitioned so the final set
compares bit-for-bit as per-shard sorted hash arrays (BASELINE.json parity).

Membership is one plain ``left_anti`` on ``url_hash`` — the distributed
mirror of the reference's single in-process seen set. Spark's runtime
bloom-filter join injection (enabled in the session factory) already
prefilters the shuffle at scale; hand-built bloom and cuckoo prefilters in
front of this join measured no faster (BENCH.md, seen-path A/B).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def anti_join_exact(candidates: DataFrame, seen: DataFrame, key: str = "url_hash") -> DataFrame:
    """candidates ∖ seen, exact."""
    return candidates.join(seen.select(key), key, "left_anti")
