"""Seeded inputs for the benchmark workloads.

Every input is a pure function of (workload shape, seed). Fixtures are
built once per checkout under the work directory and reused; the parts a
seed chooses (the seed-URL list, the expiry slice, the query order) are
cheap and written per seed next to symlinks to the shared tables, so the
program only ever receives generated parquet.
"""

from __future__ import annotations

import os
import shutil
import zlib
from dataclasses import dataclass

import numpy as np

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
# everything the benchmark writes lives here (listed in the root .gitignore)
WORK = os.path.join(ROOT, ".perfbench_work")
SHARED_TABLES = ("links", "images", "images_truth", "robots", "politeness")


@dataclass(frozen=True)
class CrawlShape:
    """Fixture and engine shape of a crawl workload."""

    n_urls: int
    rate_boost: int
    n_seeds: int
    global_k: int
    nshards: int
    n_images: int = 2048


# the frozen bench.py fixture shape (150k URLs, boost 8, 256 seeds, K 15000)
CRAWL_FLOOR = CrawlShape(n_urls=150_000, rate_boost=8, n_seeds=256, global_k=15_000, nshards=32)
# smoke mode: about 1k URLs, same code paths
CRAWL_SMOKE = CrawlShape(n_urls=1_000, rate_boost=1, n_seeds=16, global_k=64, nshards=8, n_images=256)

SF_DIRS = {
    "full": os.path.join(BENCH_DIR, "data", "sf0.01"),
    "smoke": os.path.join(BENCH_DIR, "data", "sf0.001"),
}


def _rng(seed: int, purpose: str) -> np.random.Generator:
    # one independent stream per purpose, so adding a draw for one input
    # never shifts another input of the same seed
    return np.random.default_rng([seed, zlib.crc32(purpose.encode())])


def _publish(tmp: str, final: str) -> None:
    """Rename a finished build into place; if a concurrent run got there
    first, its copy wins and this one is dropped."""
    try:
        os.rename(tmp, final)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)


def base_fixture(shape: CrawlShape) -> str:
    """The seed-independent web graph, generated once per checkout."""
    from maga_spark.sources.fixtures import generate

    d = os.path.join(
        WORK, "cache", f"fixture_{shape.n_urls}_b{shape.rate_boost}_i{shape.n_images}"
    )
    if not os.path.exists(d):
        tmp = f"{d}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        generate(
            tmp,
            n_urls=shape.n_urls,
            n_seeds=shape.n_seeds,
            n_images=shape.n_images,
            rate_boost=shape.rate_boost,
        )
        _publish(tmp, d)
    return d


def seed_urls(shape: CrawlShape, seed: int) -> list[str]:
    """The seed-chosen seed-URL list: raw (non-canonical) spellings of
    distinct fixture URLs, so canonicalization stays on the path."""
    from maga_spark.sources.fixtures import n_hosts, raw_variant

    nh = n_hosts(shape.n_urls)
    ids = _rng(seed, "seeds").choice(shape.n_urls, size=shape.n_seeds, replace=False)
    return [raw_variant(int(i), 999, nh) for i in sorted(ids)]


def crawl_fixture(shape: CrawlShape, seed: int) -> str:
    """Fixture directory for one (shape, seed): the shared tables plus
    this seed's ``seeds.parquet``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = base_fixture(shape)
    d = os.path.join(WORK, "cache", f"crawl_{os.path.basename(base)}_s{shape.n_seeds}_seed{seed}")
    if os.path.exists(d):
        return d
    tmp = f"{d}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for t in SHARED_TABLES:
        os.symlink(os.path.join(base, f"{t}.parquet"), os.path.join(tmp, f"{t}.parquet"))
    pq.write_table(
        pa.table({"url": pa.array(seed_urls(shape, seed), pa.string())}),
        os.path.join(tmp, "seeds.parquet"),
    )
    _publish(tmp, d)
    return d


def expiry_slice(urls: list[str], seed: int) -> list[str]:
    """Seed-chosen tenth of a set of fetched URLs (at least one URL)."""
    pool = sorted(set(urls))
    if not pool:
        return []
    n = max(1, len(pool) // 10)
    picked = _rng(seed, "expiry").choice(len(pool), size=n, replace=False)
    return [pool[int(i)] for i in sorted(picked)]


def query_order(names: list[str], seed: int) -> list[str]:
    """The seed-permuted order in which the suite issues its queries."""
    perm = _rng(seed, "queries").permutation(len(names))
    return [names[int(i)] for i in perm]

