"""Correctness gates, run outside every timed window.

Pure Python: each gate compares digests and returns a list of mismatch
descriptions (empty when the outputs are correct). The crawl reference is
``maga_spark.sim.run``; the suite reference is the golden digest table in
``golden.json``, itself checked against DuckDB when it was made
(``make_golden.py``).
"""

from __future__ import annotations

import hashlib
import json
import os


def _sha(obj) -> str:
    return hashlib.sha256(json.dumps(obj, separators=(",", ":")).encode()).hexdigest()


def crawl_digest(ordering: list, seen: dict, metrics: list) -> dict:
    """Digest of one crawl: the exact fetch ordering, one hash per seen
    shard, and the per-epoch metric records (kept whole: they are small)."""
    return {
        "ordering": _sha([list(r) for r in ordering]),
        "seen": {str(s): _sha(sorted(h)) for s, h in sorted(seen.items())},
        "metrics": [dict(sorted(m.items())) for m in metrics],
    }


def sim_digest(fixture_dir: str, cfg, cache_dir: str) -> dict:
    """``crawl_digest`` of ``sim.run`` on this fixture, cached per
    (fixture, config) because the simulator takes seconds per run."""
    from maga_spark import sim

    key = f"{os.path.basename(fixture_dir)}_e{cfg.epochs}_k{cfg.global_k}_n{cfg.nshards}"
    path = os.path.join(cache_dir, f"sim_{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    r = sim.run(fixture_dir, cfg)
    d = crawl_digest(r.ordering, r.seen, r.metrics)
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(d, f)
    os.replace(tmp, path)
    return d


def compare_crawl(engine: dict, reference: dict) -> list[str]:
    out = []
    if engine["ordering"] != reference["ordering"]:
        out.append("crawl ordering digest differs from sim.run")
    bad = sorted(
        set(engine["seen"]) ^ set(reference["seen"])
        | {s for s in engine["seen"] if engine["seen"][s] != reference["seen"].get(s)}
    )
    if bad:
        out.append(f"seen digests differ from sim.run on shards {bad}")
    for got, want in zip(engine["metrics"], reference["metrics"]):
        if got != want:
            out.append(f"epoch metrics differ from sim.run: engine={got} sim={want}")
    if len(engine["metrics"]) != len(reference["metrics"]):
        out.append("epoch count differs from sim.run")
    return out


def compare_digests(got: dict, golden: dict) -> list[str]:
    """Per-query output digests against the golden table."""
    return [
        f"{name}: digest {d} != golden {golden.get(name)}"
        for name, d in sorted(got.items())
        if golden.get(name) != d
    ]
