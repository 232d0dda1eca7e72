"""Round-7 mining/retrieval operators: independent oracles (numpy, pure
Python) and plan-shape contracts beyond the DuckDB hash checks in
tests/test_oracle.py."""

from __future__ import annotations

import math
import os

from pyspark_mllib_twitter_spark.plans import REGISTRY

from .conftest import TESTDATA


def _rows(spark, sf, name):
    return REGISTRY[name].spark(spark, sf).collect()


def _plan(spark, sf, name):
    df = REGISTRY[name].spark(spark, sf)
    return df._jdf.queryExecution().executedPlan().toString()


def test_ols_matches_numpy_lstsq(spark, sf_smoke):
    """The closed-form Cramer solve must agree with numpy's QR-based
    lstsq on the same data (independent algorithm, independent
    arithmetic) to ~1e-6 relative — and R2 must be the standard
    coefficient of determination."""
    import numpy as np

    r = _rows(spark, sf_smoke, "q_z9_ols_normal_eq")[0]
    li = spark.read.parquet(f"{sf_smoke}/lineitem.parquet").select(
        "l_quantity", "l_discount", "l_extendedprice"
    )
    rows = li.collect()
    q = np.array([round(x.l_quantity) for x in rows], dtype=np.float64)
    d = np.array([round(x.l_discount * 100) / 100 for x in rows], dtype=np.float64)
    y = np.array([round(x.l_extendedprice * 100) / 100 for x in rows], dtype=np.float64)
    X = np.column_stack([np.ones_like(q), q, d])
    beta, *_ = np.linalg.lstsq(X, y, rcond=None)
    assert r.n == len(rows)
    for got, ref in zip((r.b0, r.b1, r.b2), beta):
        assert abs(got - ref) <= 1e-4 * max(1.0, abs(ref)), (got, ref)
    pred = X @ beta
    r2_ref = 1.0 - ((y - pred) ** 2).sum() / ((y - y.mean()) ** 2).sum()
    assert abs(r.r2 - r2_ref) < 1e-5
    assert 0.0 <= r.r2 <= 1.0


def test_ols_is_one_aggregate_pass(spark, sf_smoke):
    """Scale contract: the whole fit is ONE partial+final aggregate over
    one scan — a single SinglePartition exchange carrying 10 numbers, no
    join, no window, no second scan."""
    plan = _plan(spark, sf_smoke, "q_z9_ols_normal_eq")
    assert plan.count("FileScan parquet") == 1
    assert plan.count("Exchange") == 1
    assert "SinglePartition" in plan
    assert "Join" not in plan and "Window" not in plan


def test_bm25_topk_plans_take_ordered(spark, sf_smoke):
    """The global top-k must plan as TakeOrderedAndProject (per-task
    partial top-k), never a global Sort over the scored corpus."""
    plan = _plan(spark, sf_smoke, "q_za_bm25")
    assert "TakeOrderedAndProject" in plan


def test_bm25_matches_pure_python(spark, sf_smoke):
    """Independent recompute of Okapi BM25 in pure Python over the
    collected corpus must reproduce the engine's top-k exactly (scores to
    6dp, same ranking)."""
    from pyspark_mllib_twitter_spark.plans.mining_ops import (
        BM25_B,
        BM25_K1,
        BM25_TERMS,
        BM25_TOPK,
    )

    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet").collect()
    toks = {r.doc_id: [t for t in r.text.lower().strip().split() if t] for r in docs}
    n_docs = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n_docs
    df = {
        term: sum(1 for t in toks.values() if term in t) for term in BM25_TERMS
    }
    scores = {}
    for doc_id, t in toks.items():
        s = 0.0
        for term in BM25_TERMS:
            tf = t.count(term)
            if tf == 0:
                continue
            idf = math.log(1.0 + (n_docs - df[term] + 0.5) / (df[term] + 0.5))
            s += idf * (tf * (BM25_K1 + 1.0)) / (
                tf + BM25_K1 * (1.0 - BM25_B + BM25_B * len(t) / avgdl)
            )
        if s > 0.0:
            scores[doc_id] = s
    expect = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:BM25_TOPK]
    got = _rows(spark, sf_smoke, "q_za_bm25")
    assert [r.doc_id for r in got] == [doc_id for doc_id, _ in expect]
    for r, (_, s) in zip(got, expect):
        assert abs(r.bm25 - s) < 1e-6


def test_geo_join_plans_hash_join_no_cartesian(spark, sf_smoke):
    """Blocking contract: candidates come from an equi-join on cell keys —
    no CartesianProduct, no NestedLoop anywhere in the plan."""
    plan = _plan(spark, sf_smoke, "q_ze_geo_blocked_join")
    assert "CartesianProduct" not in plan
    assert "NestedLoop" not in plan


def test_geo_blocking_complete_vs_bruteforce(spark):
    """The coverage proof, executed: the blocked join's pair set must
    EQUAL the brute-force all-pairs haversine filter (no pair outside the
    3x3 neighborhood can be within the radius). Pinned to sf0.01 — the
    smallest scale where the fixture yields in-radius pairs (sf0.001 has
    none, which would make the check vacuous)."""
    from pyspark_mllib_twitter_spark.plans.mining_ops import (
        GEO_JOIN_MAX_LAT,
        GEO_JOIN_RADIUS_KM,
    )

    sf = os.path.join(TESTDATA, "sf0.01")
    custs = spark.read.parquet(f"{sf}/customer.parquet").collect()
    supps = spark.read.parquet(f"{sf}/supplier.parquet").collect()

    def c_coord(k):
        return ((k * 7919) % 17000) / 100.0 - 85.0, ((k * 104729) % 36000) / 100.0 - 180.0

    def s_coord(k):
        return ((k * 4391) % 12000) / 100.0 - 60.0, ((k * 15227) % 36000) / 100.0 - 180.0

    def hav(lat_a, lon_a, lat_b, lon_b):
        rl = math.radians
        h = (
            math.sin(rl(lat_b - lat_a) / 2) ** 2
            + math.cos(rl(lat_a)) * math.cos(rl(lat_b))
            * math.sin(rl(lon_b - lon_a) / 2) ** 2
        )
        return round(2.0 * 6371.0 * math.asin(math.sqrt(h)), 6)

    expect = set()
    cs = [
        (c.c_custkey, *c_coord(c.c_custkey))
        for c in custs
        if abs(c_coord(c.c_custkey)[0]) <= GEO_JOIN_MAX_LAT
    ]
    for s in supps:
        s_lat, s_lon = s_coord(s.s_suppkey)
        for ck, c_lat, c_lon in cs:
            if hav(s_lat, s_lon, c_lat, c_lon) <= GEO_JOIN_RADIUS_KM:
                expect.add((s.s_suppkey, ck))
    got = {(r.s_suppkey, r.c_custkey) for r in _rows(spark, sf, "q_ze_geo_blocked_join")}
    assert got == expect
    assert expect, "fixture produced no in-radius pairs — test is vacuous"


def test_int8_quant_error_bounds(spark, sf_smoke):
    """Quantization invariants: reconstruction error is bounded by half a
    step (plus float slack), SSE <= dims * (step/2)^2, and clipping is at
    most the one max-element rounding edge per vector."""
    rows = _rows(spark, sf_smoke, "q_zf_int8_quant")
    assert rows
    for r in rows:
        step = r.scale
        assert r.max_abs_err <= 0.5 * step + 1e-6, r
        assert r.sse <= 64 * (0.5 * step + 1e-6) ** 2 + 1e-6, r
        assert r.n_clipped <= 1, r


def test_attribution_matches_pure_python(spark, sf_smoke):
    """Independent recompute: replay each user's event sequence in Python
    and check every purchase's attributed touch (including NULLs and the
    7-day cutoff) matches the window-based plan."""
    from pyspark_mllib_twitter_spark.plans.mining_ops import (
        ATTR_LOOKBACK_DAYS,
        ATTR_TOUCH_TYPES,
    )

    ev = spark.read.parquet(f"{sf_smoke}/events.parquet").collect()
    by_user = {}
    for e in ev:
        if e.user_id is None:
            continue
        us = int(e.ts.timestamp() * 1_000_000) if hasattr(e.ts, "timestamp") else e.ts
        by_user.setdefault(e.user_id, []).append((us, e.event_id, e.event_type))
    expect = {}
    for u, evs in by_user.items():
        evs.sort()
        last_touch = None
        for us, eid, etype in evs:
            if etype == "purchase":
                if (
                    last_touch is not None
                    and us - last_touch[0] <= ATTR_LOOKBACK_DAYS * 86_400_000_000
                ):
                    expect[eid] = (last_touch[2], last_touch[1], us - last_touch[0])
                else:
                    expect[eid] = (None, None, None)
            if etype in ATTR_TOUCH_TYPES:
                last_touch = (us, eid, etype)
    got = _rows(spark, sf_smoke, "q_zd_attribution")
    assert len(got) == len(expect)
    for r in got:
        assert (r.attributed_type, r.touch_event_id, r.gap_us) == expect[r.event_id], r


def test_huffman_code_information_theory_contracts(spark, sf_smoke):
    """Kraft equality, the Shannon sandwich H <= L < H+1, prefix-freeness
    of the canonical assignment, and optimality of the average length vs
    an INDEPENDENT (sorted-list merge) Huffman implementation."""
    import math

    from pyspark_mllib_twitter_spark.plans import REGISTRY

    rows = REGISTRY["q_ci_huffman"].spark(spark, sf_smoke).collect()
    assert len(rows) > 2
    total = sum(r.cnt for r in rows)
    # Kraft equality: a full binary tree uses the budget exactly.
    assert abs(sum(2.0 ** -r.code_len for r in rows) - 1.0) < 1e-12
    # Shannon sandwich on the weighted average length.
    h = -sum((r.cnt / total) * math.log2(r.cnt / total) for r in rows)
    avg = sum(r.bits for r in rows) / total
    assert h - 1e-9 <= avg < h + 1.0
    # Canonical codes are prefix-free and lengths match.
    codes = [(r.code, r.code_len) for r in rows]
    for c, ln in codes:
        assert len(c) == ln
    sc = sorted(c for c, _ in codes)
    for a, b in zip(sc, sc[1:]):
        assert not b.startswith(a), (a, b)
    # Optimal average length equals an independent implementation's:
    # repeatedly merge the two lightest clusters via sorted-list scan
    # (no heapq, different tie-breaking) — all Huffman codes share the
    # same optimal total bit count.
    clusters = sorted(((r.cnt, [r.ch]) for r in rows), key=lambda x: x[0])
    depth = {r.ch: 0 for r in rows}
    while len(clusters) > 1:
        (c1, s1), (c2, s2) = clusters[0], clusters[1]
        clusters = clusters[2:]
        for s in s1 + s2:
            depth[s] += 1
        merged = (c1 + c2, s1 + s2)
        lo, hi = 0, len(clusters)
        while lo < hi:
            mid = (lo + hi) // 2
            if clusters[mid][0] < merged[0]:
                lo = mid + 1
            else:
                hi = mid
        clusters.insert(lo, merged)
    golden_bits = sum(r.cnt * depth[r.ch] for r in rows)
    assert sum(r.bits for r in rows) == golden_bits
