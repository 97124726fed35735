"""Link-graph authority (pagerank), redirect-chain resolution, winnow
containment pairs (ad hoc and from the bucketed fingerprint index), and
magic-byte sniffing — the round-4 crawl-analytics additions. Each is
verified against an independent in-Python oracle."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from maga_spark.operators.dedup import containment_pairs
from maga_spark.operators.graph import pagerank
from maga_spark.operators.links import resolve_redirects
from maga_spark.functions.payload import sniff_format

SCALE = 10**12


def _numpy_pagerank(edges, iters, d=0.85):
    verts = sorted({u for u, _ in edges} | {v for _, v in edges})
    idx = {v: i for i, v in enumerate(verts)}
    n = len(verts)
    out = {}
    for u, v in edges:
        out.setdefault(u, set()).add(v)
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        nr = np.zeros(n)
        dang = sum(r[idx[u]] for u in verts if u not in out)
        for u, vs in out.items():
            for v in vs:
                nr[idx[v]] += r[idx[u]] / len(vs)
        r = (1 - d) / n + d * (nr + dang / n)
    return {v: r[idx[v]] for v in verts}


def test_pagerank_matches_float_reference(spark):
    # ring + hub + dangling sink: exercises dangling redistribution
    edges = [(0, 1), (1, 2), (2, 0), (0, 3), (1, 3), (2, 3), (3, 4)]
    # vertex 4 is dangling (no out-edges)
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.vertex: r.rank_scaled / SCALE for r in pagerank(df, iters=15).collect()}
    want = _numpy_pagerank(edges, iters=15)
    assert set(got) == set(want)
    for v in want:
        # integer truncation loses < outdeg ulps/vertex/round — far under 1e-9
        assert abs(got[v] - want[v]) < 1e-8, (v, got[v], want[v])
    # total mass conserved up to truncation dust
    assert abs(sum(got.values()) - 1.0) < 1e-6


def test_pagerank_deterministic_and_integer_exact(spark):
    edges = [(i % 17, (i * 7 + 3) % 17) for i in range(60)]
    df = spark.createDataFrame(edges, "src long, dst long")
    a = {r.vertex: r.rank_scaled for r in pagerank(df, iters=5).collect()}
    b = {r.vertex: r.rank_scaled for r in pagerank(df, iters=5).collect()}
    assert a == b  # BIGINT ranks: bit-identical run-to-run, any partitioning
    assert all(isinstance(x, int) for x in a.values())


def test_pagerank_empty(spark):
    df = spark.createDataFrame([], "src long, dst long")
    assert pagerank(df, iters=3).count() == 0


def test_resolve_redirects_chains_cycles_caps(spark):
    rows = (
        [("a", "b"), ("b", "c"), ("c", "d")]  # 3-chain → d
        + [("x", "y"), ("y", "x")]  # 2-cycle
        + [("m", "x")]  # chain INTO a cycle
        + [("dup", "z1"), ("dup", "z0")]  # duplicate src → min(dst)
        + [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(40)]  # 40-chain
    )
    df = spark.createDataFrame(rows, "src string, dst string")
    out = {r.src: (r.final_url, r.hops, r.is_cycle) for r in resolve_redirects(df, max_hops=32).collect()}
    assert out["a"] == ("d", 3, False)
    assert out["c"] == ("d", 1, False)
    assert out["dup"] == ("z0", 1, False)  # deterministic functionalization
    for s in ("x", "y", "m"):
        assert out[s] == (None, None, True)
    # over-cap chain (41 hops needed) abandoned; exactly-at-cap resolves
    assert out["n00"] == (None, None, True)
    assert out["n08"] == ("n40", 32, False)
    assert len(out) == len({r for r, _ in rows})


def test_resolve_redirects_hops_exact_vs_python(spark):
    # pseudo-random functional map over 200 nodes, hop-by-hop Python oracle
    n = 200
    rows = [(i, (i * 31 + 7) % n) for i in range(n) if i % 9 != 0]
    df = spark.createDataFrame(rows, "src long, dst long")
    nxt = dict(rows)
    got = {r.src: (r.final_url, r.hops, r.is_cycle) for r in resolve_redirects(df, max_hops=32).collect()}
    for s in nxt:
        cur, hops = s, 0
        while cur in nxt and hops <= 32:
            cur, hops = nxt[cur], hops + 1
        if cur in nxt or hops > 32:  # still redirecting → cycle/over-cap
            assert got[s] == (None, None, True), s
        else:
            assert got[s] == (cur, hops, False), s


def test_containment_small_doc_inside_big(spark):
    small = "the quick brown fox jumps over the lazy dog near the river bank today"
    big = "unrelated preamble first. " + small + " then a long continuation about weather patterns and economics"
    other = "completely different content with no overlap anywhere in this string"
    df = spark.createDataFrame(
        [(1, small), (2, big), (3, other)], "doc_id long, text string"
    )
    out = containment_pairs(df, min_containment=0.3).collect()
    fwd = [r for r in out if r.u == 1 and r.v == 2]
    assert fwd and fwd[0].containment > 0.8  # small ⊂ big: high containment
    rev = [r for r in out if r.u == 2 and r.v == 1]
    if rev:  # directional: big's containment in small must be much lower
        assert rev[0].containment < fwd[0].containment
    assert not [r for r in out if r.u == 3 or r.v == 3]


def test_containment_hot_fingerprint_cap(spark):
    # every doc shares one hot boilerplate line; cap must drop those
    # fingerprints so unrelated docs stop pairing through boilerplate
    boiler = "standard legal boilerplate notice applies to this document entirely"
    docs = [(i, f"unique content number {i} about topic {i * 7} " * 3 + boiler) for i in range(30)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    uncapped = containment_pairs(df, min_containment=0.2).count()
    capped = containment_pairs(df, min_containment=0.2, max_doc_freq=10).count()
    assert capped < uncapped
    assert capped == 0  # nothing but the boilerplate is shared


def test_fingerprint_index_matches_adhoc_and_is_exchange_free(spark, tmp_path):
    """build_fingerprint_index + containment_pairs_from_index: identical
    results to the ad-hoc containment_pairs, with the sharing self-join
    consuming BOTH sides from the bucketed catalog table — zero Exchange
    under the join (winnow hashes computed once at ingest, never again)."""
    from maga_spark.operators.dedup import (
        build_fingerprint_index,
        containment_pairs,
        containment_pairs_from_index,
    )

    small = "the quick brown fox jumps over the lazy dog near the river bank today"
    docs = [(1, small), (2, "padding before. " + small + " padding after with more words"),
            (3, "entirely different content with no shared phrasing at all here")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    try:
        build_fingerprint_index(df, "fp_idx_test", str(tmp_path / "fp_idx"), n_buckets=4)
        out = containment_pairs_from_index(spark, "fp_idx_test", min_containment=0.3)
        want = containment_pairs(df, min_containment=0.3)
        got_rows = sorted(((r.u, r.v, r.shared, r.fp_u, round(r.containment, 9)) for r in out.collect()))
        want_rows = sorted(((r.u, r.v, r.shared, r.fp_u, round(r.containment, 9)) for r in want.collect()))
        assert got_rows == want_rows and got_rows  # same pairs, non-empty

        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        # the h-keyed self-join takes both sides straight from buckets: the
        # only hash Exchanges left belong to the (u,v) and size aggregates
        join_part = plan.split("SortMergeJoin")[-1]
        assert "Exchange hashpartitioning(h" not in join_part
        assert "Bucketed: true" in plan
    finally:
        spark.sql("DROP TABLE IF EXISTS fp_idx_test")


def test_fingerprint_index_append_and_doc_freq_cap(spark, tmp_path):
    from maga_spark.operators.dedup import (
        build_fingerprint_index,
        containment_pairs_from_index,
    )

    boiler = "standard legal boilerplate notice applies to this document entirely"
    batch1 = spark.createDataFrame(
        [(i, f"unique content number {i} about topic {i * 7} " * 3 + boiler) for i in range(10)],
        "doc_id long, text string",
    )
    batch2 = spark.createDataFrame(
        [(i, f"unique content number {i} about topic {i * 7} " * 3 + boiler) for i in range(10, 20)],
        "doc_id long, text string",
    )
    try:
        build_fingerprint_index(batch1, "fp_idx_app", str(tmp_path / "fp_app"), n_buckets=4)
        base = containment_pairs_from_index(spark, "fp_idx_app", min_containment=0.2).count()
        build_fingerprint_index(batch2, "fp_idx_app", str(tmp_path / "fp_app"), mode="append", n_buckets=4)
        grown = containment_pairs_from_index(spark, "fp_idx_app", min_containment=0.2).count()
        assert grown > base  # new docs share the boilerplate with everyone
        capped = containment_pairs_from_index(
            spark, "fp_idx_app", min_containment=0.2, max_doc_freq=10
        ).count()
        assert capped == 0  # nothing but the boilerplate is shared
    finally:
        spark.sql("DROP TABLE IF EXISTS fp_idx_app")


def test_sniff_format_magic_bytes(spark):
    cases = [
        (b"\x89PNG\r\n\x1a\n" + b"x" * 8, "png"),
        (b"\x89PNG\r\n\x1a\x08" + b"x" * 8, None),  # corrupt signature byte
        (b"\xff\xd8\xff\xe0" + b"x" * 8, "jpeg"),
        (b"GIF89a" + b"x" * 8, "gif"),
        (b"GIF87a" + b"x" * 8, "gif"),
        (b"RIFF1234WEBPxxxx", "webp"),
        (b"RIFF1234WAVExxxx", None),  # RIFF but not WEBP
        (b"BMxxxxxx", "bmp"),
        (b"II*\x00xxxx", "tiff"),
        (b"MM\x00*xxxx", "tiff"),
        (b"hello world!", None),
        (b"", None),
        (None, None),
    ]
    df = spark.createDataFrame([(c[0],) for c in cases], "b binary")
    got = [r[0] for r in df.select(sniff_format(F.col("b"))).collect()]
    assert got == [c[1] for c in cases]


def test_sniff_format_plan_is_pure(spark):
    df = spark.createDataFrame([(b"\x89PNG\r\n\x1a\n123",)], "b binary")
    plan = df.select(sniff_format(F.col("b"))).sample(1.0)._jdf.queryExecution().executedPlan().toString()
    for node in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas", "MapInPandas"):
        assert node not in plan
