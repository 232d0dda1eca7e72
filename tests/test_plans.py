"""Physical-plan assertions for headline queries.

The scale contract is a *plan* contract: small dims broadcast, filters and
projections reach the parquet scan, top-k uses the window-group-limit
pushdown, and nothing funnels through a single partition. These tests pin
those properties so a refactor that silently degrades a plan (e.g. a lost
broadcast turning into a 100 TB sort-merge shuffle) fails here instead of
in production.
"""

from __future__ import annotations

import os

import pytest

from pyspark_mllib_twitter_spark.plans import REGISTRY

from .conftest import SF_ORACLE as SF


@pytest.fixture(scope="module", autouse=True)
def _cold_cache(spark):
    """Plan assertions are about COLD scans. Any table cached by an earlier
    test module would be plan-fragment-substituted into these queries
    (InMemoryRelation embeds the original full-width scan, breaking the
    pruning assertions), so start this module with an empty cache."""
    spark.catalog.clearCache()


def _plan(spark, name: str) -> str:
    df = REGISTRY[name].spark(spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q3_broadcasts_dims_and_pushes_filters(spark):
    plan = _plan(spark, "q_sql_q3")
    assert plan.count("BroadcastHashJoin") >= 2  # customer and orders sides
    assert "SortMergeJoin" not in plan
    assert "PushedFilters: [" in plan
    assert "TakeOrderedAndProject" in plan  # LIMIT never global-sorts


def test_inner_join_broadcasts_small_dims(spark):
    plan = _plan(spark, "q_j_inner")
    assert "BroadcastHashJoin" in plan


def test_topk_uses_window_group_limit(spark):
    """Per-group top-k must push the k-limit below the shuffle
    (WindowGroupLimit), not rank the full partition then filter."""
    plan = _plan(spark, "q_w1_topk")
    assert "WindowGroupLimit" in plan


def test_no_single_partition_exchange_in_headliners(spark):
    """No headline query may funnel data through one partition (the
    dense_rank-without-partitionBy trap). Final result ordering is exempt:
    rangepartitioning IS the distributed sort."""
    for name in (
        "q_a5_id_dictionary",
        "q_w5_sessionize",
        "q_w4_time_rollup",
        "q_a4_agg_suite",
        "q_j_range",
        "q_j_overlap",
    ):
        plan = _plan(spark, name)
        assert "Exchange SinglePartition" not in plan, name


def test_scan_prunes_columns(spark):
    """A two-column projection must not read the whole orders schema."""
    plan = _plan(spark, "q_p3_project")
    scan = [l for l in plan.splitlines() if "FileScan parquet" in l]
    assert scan and "o_orderstatus" not in scan[0] and "o_orderpriority" not in scan[0]


def test_range_join_is_hash_not_nested_loop(spark):
    """The bin recipe must plan as a shuffle/broadcast HASH join on _bin —
    never BroadcastNestedLoopJoin (the default for BETWEEN conditions)."""
    for name in ("q_j_range", "q_j_overlap"):
        plan = _plan(spark, name)
        assert "NestedLoop" not in plan, name
        assert "HashJoin" in plan, name


def test_dynamic_partition_pruning(spark, tmp_path):
    """Joining a date-partitioned fact against a selectively-filtered dim
    must inject a dynamicpruning expression into the fact scan's
    PartitionFilters — at 100 TB this is the difference between scanning
    one month and scanning every partition."""
    from pyspark.sql import functions as F

    from pyspark_mllib_twitter_spark.sources import read_table

    path = str(tmp_path / "orders_by_month")
    orders = read_table(spark, SF, "orders").withColumn(
        "o_month", F.month("o_orderdate")
    )
    orders.write.partitionBy("o_month").parquet(path)
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [(m, "x" * m) for m in range(1, 13)], "m int, tag string"
    ).where(F.col("tag") == "xxx")  # selective predicate → DPP eligible
    j = fact.join(dim, fact["o_month"] == dim["m"]).select("o_orderkey", "m")
    plan = j._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "dynamicpruning" in plan.lower()
    assert j.count() == orders.where(F.col("o_month") == 3).count()


def test_analytic_suite_single_window_node(spark):
    """All five q_w6 window functions must evaluate in ONE Window physical
    node over one sort — five separate window specs would mean five sorts."""
    plan = _plan(spark, "q_w6_analytic")
    assert plan.count("Window") == 1


def test_new_joins_never_nested_loop(spark):
    """Q17 decorrelation and the salted join must stay hash joins; a lost
    equi-condition silently degrades to BroadcastNestedLoopJoin."""
    for name in ("q_sub_q17", "q_j_skew_salted", "q_j_nullsafe"):
        plan = _plan(spark, name)
        assert "NestedLoop" not in plan and "CartesianProduct" not in plan, name


def test_unpivot_no_extra_shuffle(spark):
    """unpivot is an Expand inside the scan stage: the only exchange allowed
    is the final result ordering (rangepartitioning)."""
    plan = _plan(spark, "q_u2_unpivot")
    assert plan.count("Exchange") <= 1


def test_text_queries_stay_jvm_side(spark):
    """The text-analysis scan path must contain NO Python evaluation node —
    scrubbing, quality, langid, fingerprinting are all regexp/string
    expressions that run inside whole-stage codegen. A Python UDF sneaking
    in here would turn a parquet-speed 100 TB scan into an Arrow shuttle."""
    for name in ("q_ns_scrub", "q_ns_quality", "q_ns_langid", "q_ns_fingerprint"):
        plan = _plan(spark, name)
        assert "Python" not in plan and "ArrowEval" not in plan, name
    # and the scan reads only the needed columns (pruning through the
    # expression chain): scrub touches doc_id + text, never lang/source.
    scan = [l for l in _plan(spark, "q_ns_scrub").splitlines() if "ReadSchema" in l]
    assert scan and "lang" not in scan[0] and "source" not in scan[0]


def test_pipeline_ops_plans(spark):
    """Pipeline-ops scale contract (plans/pipeline_ops.py):

    - chunking is map-only: the only exchange is the final result ordering;
    - contamination broadcasts ONLY the benchmark n-gram side, pushes the
      ``doc_id % k`` benchmark predicate into that side's scan, and never
      shuffles the exploded corpus grams for a distinct;
    - packing's per-source window never funnels through one partition;
    - tf-idf top-k prunes via WindowGroupLimit, all JVM-side.
    """
    plan = _plan(spark, "q_x1_chunk_docs")
    assert plan.count("Exchange") <= 1 and "Python" not in plan

    plan = _plan(spark, "q_x3_contamination")
    assert plan.count("BroadcastExchange") == 1
    bench_scans = [l for l in plan.splitlines() if "FileScan" in l and "% 97" in l]
    assert bench_scans, "benchmark modulo filter must reach the parquet scan"

    plan = _plan(spark, "q_x2_pack_sequences")
    assert "Exchange SinglePartition" not in plan

    plan = _plan(spark, "q_x5_tfidf_topterms")
    assert "WindowGroupLimit" in plan and "Python" not in plan


def test_repetition_plan_jvm_side_single_gram_pipeline(spark):
    """q_x8 must stay entirely JVM-side (tagged explode + two hash
    aggregates), never materialize a Python node, and read only
    doc_id + text from the scan."""
    plan = _plan(spark, "q_x8_repetition")
    assert "Python" not in plan and "ArrowEval" not in plan
    assert plan.count("Generate") == 1, "one tagged explode, not one per order"
    scans = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scans and all("lang" not in l and "source" not in l for l in scans)


def test_greedy_pack_single_shuffle_on_source(spark):
    """q_x7's applyInPandas groups by source: exactly one hash exchange
    before the Python stage (plus the final presentation sort)."""
    plan = _plan(spark, "q_x7_pack_greedy")
    assert "FlatMapGroupsInPandas" in plan or "FlatMapGroupsInArrow" in plan
    hash_exchanges = [l for l in plan.splitlines()
                      if "Exchange hashpartitioning" in l]
    assert len(hash_exchanges) == 1, plan


def test_boilerplate_broadcasts_line_set_and_never_shuffles_text(spark):
    """q_xb's scale contract: the boilerplate line set is broadcast (it is
    small by definition — each line covers >5% of docs), and the document
    text never moves through a hash exchange — only the exploded lines do,
    as partial-agg input."""
    plan = _plan(spark, "q_xb_boilerplate")
    assert "BroadcastExchange" in plan
    assert "Python" not in plan  # whole pipeline is JVM-side
    # no sort-merge join anywhere: the clean-up is a broadcast nested loop
    # (1-row boilerplate set) — a SortMergeJoin would mean the text shuffled
    assert "SortMergeJoin" not in plan


def test_incremental_dedup_shuffles_digests_only(spark):
    """q_xd's scale contract: every hash exchange carries the 16-byte md5
    fingerprint (and ids), never the document text."""
    plan = _plan(spark, "q_xd_incremental_dedup")
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text" not in line, line


def test_minhash_portable_jvm_side_hash_joins(spark):
    """Portable MinHash-LSH must be pure codegen'd expressions end to end:
    no Python/Arrow evaluation (the signatures are md5 expressions, not
    UDFs), no cartesian/nested-loop join (candidates come from the banded
    equi-join; the verify step is two hash joins on candidate ids)."""
    plan = _plan(spark, "q_ns_minhash_portable")
    assert "Python" not in plan and "ArrowEval" not in plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_para_dedup_keep_decision_shuffles_digests_only(spark):
    """Paragraph dedup's keep decision must aggregate (fp, doc_id) pairs
    only — the exchange feeding the min-per-fingerprint agg carries no
    text column — and the plan has no Window node (min-per-group +
    equi-join, not row_number over fp) and no Python."""
    plan = _plan(spark, "q_xh_para_dedup")
    assert "Python" not in plan and "ArrowEval" not in plan
    assert "Window" not in plan
    # the partial_min(doc_id) aggregate runs before its exchange
    # (map-side combine on digests); text is not among its output attrs
    agg_lines = [l for l in plan.splitlines() if "partial_min" in l]
    assert agg_lines and all("text" not in l for l in agg_lines)


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """A selective dim-side filter on a shuffle join must inject a runtime
    bloom filter into the fact side's scan filter (bloom_filter_agg on the
    filtered build side, might_contain on the probe side) — Spark's
    row-level runtime filtering. At 100 TB this drops most fact rows at the
    scan, before they reach the shuffle; at fixture scale it is gated by
    size thresholds, so the test pins the capability with the thresholds
    opened and restores every conf afterwards (a registry entry can't carry
    session confs: plans optimize lazily, after a recipe would have
    restored them). Value-checked against the unfiltered-join result —
    bloom false positives must be re-verified by the join itself."""
    from pyspark.sql import functions as F

    from pyspark_mllib_twitter_spark.sources import read_table

    overrides = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force shuffle join
    }
    prev = {k: spark.conf.get(k, None) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        li = read_table(spark, SF, "lineitem")
        orders = read_table(spark, SF, "orders")
        sel = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
            "o_orderkey", "o_orderdate"
        )
        j = (
            li.join(sel, li.l_orderkey == sel.o_orderkey)
            .groupBy("o_orderdate")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan
        assert "bloom_filter_agg" in plan
        with_bloom = {(r.o_orderdate, r["count"]) for r in j.collect()}
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    plain = (
        li.join(sel, li.l_orderkey == sel.o_orderkey).groupBy("o_orderdate").count()
    )
    assert with_bloom == {(r.o_orderdate, r["count"]) for r in plain.collect()}


def test_span_dedup_jvm_side_no_window(spark):
    """Cross-document span removal must stay JVM-side (posexplode + aggs +
    anti-join — no Python), use hash joins only (no cartesian/nested-loop),
    and reassemble documents without a Window over the corpus (collect_list
    + array_sort per doc, not row_number)."""
    plan = _plan(spark, "q_xi_span_dedup")
    assert "Python" not in plan and "ArrowEval" not in plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    assert "Window" not in plan


def test_domain_quota_ranks_only_overquota_broadcast(spark):
    """q_xv: the over-quota domain set reaches both routing joins as a
    broadcast (anti for the pass-through path, inner for the ranked path) —
    no sort-merge on the corpus side."""
    plan = _plan(spark, "q_xv_domain_quota")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_inverted_index_topk_is_window_group_limit(spark):
    """q_xw: the rank<=k postings filter plans as WindowGroupLimit (partial
    top-k per task before the term shuffle), so stopword-grade terms never
    sort a full posting list on one task."""
    plan = _plan(spark, "q_xw_inverted_index")
    assert plan.count("WindowGroupLimit") >= 2  # partial + final


def test_cms_probe_joins_broadcast_sketch(spark):
    """q_xx: the d*w-cell sketch reaches the probe join as a broadcast —
    the corpus-sized side never shuffles for the estimate lookup."""
    plan = _plan(spark, "q_xx_cms_heavy_hitters")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_chi2_margins_stay_broadcast(spark):
    """q_ya: every post-contingency join (margin cross-products, dof) is
    broadcast-sized; no sort-merge anywhere in the plan."""
    plan = _plan(spark, "q_ya_chi2_independence")
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastNestedLoopJoin") >= 2  # 1-row totals/dof sides


def test_weighted_sample_is_take_ordered(spark):
    """q_ye: the weighted top-k is TakeOrderedAndProject (per-task partial
    top-k + single k-row merge), not a global Sort."""
    plan = _plan(spark, "q_ye_weighted_sample")
    assert "TakeOrderedAndProject" in plan


def test_bitmap_words_single_agg_chain(spark):
    """q_y9: the bitmap builds through hash aggregates only (bit_or has
    partial merge); no window, no expand over raw events."""
    plan = _plan(spark, "q_y9_bitmap_distinct")
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan


def test_gini_rank_is_not_single_partition(spark):
    """q_yj: the global rank runs as pid-partitioned local windows over a
    range-partitioned sort with broadcast offsets — the row_number window
    itself is never a single-partition sort. Since the round-6 advice fix,
    the range-partitioned frame is localCheckpoint-PINNED (so the offsets
    job and the final aggregate read the same physical layout): the final
    plan is rooted at the checkpoint scan instead of showing the range
    exchange, and must contain no other global sort."""
    plan = _plan(spark, "q_yj_gini")
    assert "windowspecdefinition(_pid" in plan  # window is per-partition
    assert "Scan ExistingRDD" in plan  # checkpoint-pinned range layout
    # no global single-partition sort anywhere (the pinned layout already
    # carries the order)
    assert "rangepartitioning(s" not in plan


def test_survey_registry_totals_match():
    """SURVEY.md's §2.12 registry totals must track the live registry —
    the round-5 verdict flagged the doc going stale. Update the bolded
    'N queries, M oracle-checked, K rows-only' line when registering new
    queries."""
    import os
    import re

    import __spark_entry__ as entry

    qs = entry.queries()
    oracles = entry.oracle_sql()
    total, with_oracle = len(qs), len([k for k in qs if k in oracles])
    from pyspark_mllib_twitter_spark.plans.streaming_queries import CAPABILITIES

    if not CAPABILITIES["transform_with_state"]:
        # SURVEY documents the fully-capable container (the driver's).
        # On a host with neither an installed google.protobuf nor the
        # SDK fallback, the two rows-only TWS entries do not register —
        # adjust the expectation instead of failing on capability.
        total += 2
    survey = open(
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "SURVEY.md"),
        encoding="utf-8",
    ).read()
    m = re.search(
        r"\*\*(\d+) queries, (\d+) oracle-checked, (\d+) rows-only\*\*", survey
    )
    assert m, "SURVEY.md totals line missing"
    assert (int(m.group(1)), int(m.group(2)), int(m.group(3))) == (
        total,
        with_oracle,
        total - with_oracle,
    ), f"SURVEY.md says {m.groups()}, registry has {(total, with_oracle, total - with_oracle)}"


def test_topk_ties_plans_window_group_limit(spark):
    """q_w9: the rank()<=3 filter must push into WindowGroupLimit (each
    task pre-truncates to the rows that can tie into the top 3 before the
    shuffle) — rank() qualifies for the pushdown exactly like row_number."""
    plan = _plan(spark, "q_w9_topk_ties")
    assert "WindowGroupLimit" in plan


def test_join_hint_forces_sort_merge(spark):
    """q_j_hints: the MERGE hint must override the planner's broadcast
    preference — SortMergeJoin in the plan, no BroadcastHashJoin."""
    plan = _plan(spark, "q_j_hints")
    assert "SortMergeJoin" in plan
    assert "BroadcastHashJoin" not in plan


def test_drawdown_windows_share_one_sort(spark):
    """q_z5: the stacked cumulative-sum -> cumulative-max windows are two
    Window nodes by necessity (the second consumes the first's output),
    but they share the partition key and ordering — so the plan must
    contain exactly ONE per-customer exchange and ONE sort; a second sort
    would mean the stacking re-shuffled."""
    plan = _plan(spark, "q_z5_drawdown")
    assert plan.count("hashpartitioning(o_custkey") == 1
    assert plan.count("Sort ") <= 1 + plan.count("rangepartitioning"), plan.count("Sort ")


def test_q21_exists_pair_rewrites_to_semi_and_anti(spark):
    """q_sql_q21: the EXISTS / NOT EXISTS correlated pair must decorrelate
    to LEFT SEMI and LEFT ANTI hash joins on l_orderkey — no nested-loop,
    no cartesian (the docstring's claim, pinned)."""
    plan = _plan(spark, "q_sql_q21")
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_q16_not_in_is_null_aware_anti_join(spark):
    """q_sql_q16: NOT IN must plan as a null-aware anti join against the
    broadcast blacklist, not a per-row subquery."""
    plan = _plan(spark, "q_sql_q16")
    assert "LeftAnti" in plan
    assert "BroadcastExchange" in plan


def test_q19_disjunction_extracts_join_side_predicates(spark):
    """q_sql_q19: from the OR-of-conjunctions Catalyst must extract implied
    per-side predicates and push the brand filter below the join — the
    part scan carries a PushedFilters entry mentioning p_brand."""
    plan = _plan(spark, "q_sql_q19")
    part_scans = [
        l for l in plan.splitlines() if "FileScan parquet" in l and "p_brand" in l
    ]
    assert any("PushedFilters: [" in l and "p_brand" in l.split("PushedFilters:")[1]
               for l in part_scans), "brand predicate not pushed to part scan"


def test_bloom_prune_stays_jvm_side_and_prefilters(spark):
    """q_yq: the bloom probe is codegen bit arithmetic (no Python node), the
    exact semi join SHUFFLES (SHUFFLE_HASH hint honored — the operator's
    premise is a dim too big to broadcast, so a BroadcastHashJoin would
    make the bloom decorative), and the probe Filter sits BELOW the semi
    join's exchange: in the printed tree the Exchange on l_suppkey appears
    above (before) the shiftrightunsigned filter it feeds, i.e. the bloom
    prunes fact rows before they are shuffled."""
    plan = _plan(spark, "q_yq_bloom_prune_join")
    assert "Python" not in plan and "ArrowEval" not in plan
    assert "shiftrightunsigned" in plan
    join_pos = plan.find("LeftSemi")
    probe_pos = plan.find("shiftrightunsigned")
    assert join_pos != -1 and probe_pos != -1
    assert "ShuffledHashJoin" in plan, "exact semi join must shuffle, not broadcast"
    # the semi key is `l_suppkey + 0*w0` (the pushdown barrier), so the
    # fact-side exchange partitions on that expression
    exch_pos = plan.find("Exchange hashpartitioning((l_suppkey")
    assert exch_pos != -1, "semi join left side must have a shuffle exchange"
    assert exch_pos < probe_pos, "bloom probe must run below the exchange"


def test_skyline_has_no_forced_broadcast_on_per_price_frame(spark):
    """q_yp: the per-price dominance frame has one row per DISTINCT retail
    price — linear in |part| for TPC-H — so the final join back to part
    must carry NO broadcast hint (round-6 verdict #3): AQE may still pick
    broadcast at small scale from observed sizes, but nothing may FORCE it
    when the side grows 100x."""
    df = REGISTRY["q_yp_skyline"].spark(spark, SF)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    # the bounded one-row-per-partition offsets frame keeps its broadcast
    # hint; the p_retailprice join back to part must not carry one
    bad = [
        l for l in logical.splitlines()
        if "strategy=broadcast" in l and "p_retailprice" in l
    ]
    assert not bad, f"broadcast hint survived on per-price join: {bad}"


def test_q2_correlated_min_decorrelates(spark):
    """q_sql_q2: the correlated scalar MIN must decorrelate into an
    aggregate joined back — no nested-loop, no per-row subquery
    re-execution."""
    plan = _plan(spark, "q_sql_q2")
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    # the per-region min is ONE aggregate hash-joined back, not a per-row
    # ScalarSubquery re-execution
    assert "HashAggregate" in plan and "min(" in plan
    assert "ScalarSubquery" not in plan


def test_q13_outer_join_survives_on_clause_filter(spark):
    """q_sql_q13: the priority filter lives in the join's ON clause, so the
    plan must keep the OUTER join (customers with zero qualifying orders
    survive) — Catalyst must NOT rewrite it to inner."""
    plan = _plan(spark, "q_sql_q13")
    assert "LeftOuter" in plan


def test_q15_scalar_max_evaluates_once(spark):
    """q_sql_q15: the scalar MAX over the revenue CTE must plan as ONE
    shared subquery (a single subquery id referenced by the filter), not
    a per-row re-execution — and the filter side must not degrade to a
    nested loop. (Spark does NOT reuse the CTE's aggregate exchange
    across the subquery/main-plan boundary — the revenue aggregate runs
    twice, a known planner boundary the docstring documents; the
    contract here is the once-per-query scalar.)"""
    import re

    plan = _plan(spark, "q_sql_q15")
    ids = set(re.findall(r"Subquery subquery#(\d+)", plan))
    assert len(ids) == 1, f"expected one shared scalar subquery, got {ids}"
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_setsim_candidate_join_carries_ppjoin_filters(spark):
    """q_yr: PPJoin's length and positional filters must live in the
    candidate join CONDITION (pruning during the hash probe, before the
    pair-dedup and the array re-attachment joins) — the join node's
    printed condition references the sz/pos ints, and no array column
    enters the candidate exchange."""
    plan = _plan(spark, "q_yr_setsim_prefix_join")
    join_lines = [l for l in plan.splitlines() if "Join" in l and "doc_id" in l]
    cond = next((l for l in join_lines if "sz" in l and "pos" in l), None)
    assert cond is not None, "length/positional filters not in join condition"


def test_sessionize_single_user_grain_shuffle(spark):
    """q_dq: both window passes and both rollups must reuse ONE
    hashpartitioning(user_id) exchange (HashPartitioning(user_id)
    satisfies ClusteredDistribution(user_id, sid), so the session and
    per-user aggregates add no shuffle); the only other exchange is the
    output ORDER BY's range partitioning."""
    import re

    plan = _plan(spark, "q_dq_sessionize")
    hashes = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert len(hashes) == 1, hashes
    assert "user_id" in hashes[0]
    assert plan.count("Exchange rangepartitioning") == 1  # final ORDER BY


def test_curriculum_interleave_takeordered_bounded(spark):
    """q_ds: the schedule prefix must be a TakeOrderedAndProject (no
    global sort of the corpus), fed by the single source-grain window
    shuffle."""
    import re

    plan = _plan(spark, "q_ds_curriculum_interleave")
    assert "TakeOrderedAndProject" in plan
    hashes = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert len(hashes) == 1 and "source" in hashes[0], hashes


def test_blocklist_suffix_broadcasts_rules(spark):
    """q_dy: the blocklist must broadcast (map-only hash probe) — the
    corpus side never shuffles for the join; the only hash exchange is
    the per-doc longest-rule aggregation."""
    import re

    plan = _plan(spark, "q_dy_blocklist_suffix")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    hashes = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert all("doc_id" in h for h in hashes), hashes


def test_pii_redact_scan_prunes_columns(spark):
    """q_du: the documents scan must read only the three referenced
    columns (doc_id for injection, source for grouping, text) — regex
    work stays map-side before the per-source partial agg."""
    plan = _plan(spark, "q_du_pii_redact")
    scan = plan[plan.index("ReadSchema"):].splitlines()[0]
    assert "doc_id" in scan and "source" in scan and "text" in scan
    assert "lang" not in scan and "n_chars" not in scan


def test_length_bucket_function_integer_exact():
    """q_dw's bucket = max(16, 2^ceil(log2 n)) as 1 << len(bin(n-1)):
    exact at every power-of-two boundary where a float log2 could
    round either way."""
    def bucket(n):
        return 16 if n <= 16 else 1 << len(bin(n - 1)) - 2

    import math

    for n in list(range(1, 300)) + [2**k + d for k in range(4, 20) for d in (-1, 0, 1)]:
        expect = max(16, 2 ** math.ceil(math.log2(n))) if n > 1 else 16
        assert bucket(n) == expect, (n, bucket(n), expect)


def test_path_blocklist_broadcasts_rules(spark):
    """q_eb: same contract as its q_dy host twin — rules broadcast
    (map-only probe), the only hash exchange is the per-doc
    longest-rule aggregation."""
    import re

    plan = _plan(spark, "q_eb_path_blocklist")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    hashes = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert all("doc_id" in h for h in hashes), hashes


def test_dup_profile_shuffles_digests_not_text(spark):
    """q_dz: the fingerprint cluster shuffle must carry (fp, doc_bytes)
    only — the text column is consumed map-side by md5/length and never
    rides an exchange."""
    import re

    plan = _plan(spark, "q_dz_dup_profile")
    for h in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in h, h
    scan = plan[plan.index("ReadSchema"):].splitlines()[0]
    assert "lang" not in scan and "source" not in scan  # pruned


def test_source_overlap_broadcasts_vocab_frames(spark):
    """q_ea: the two per-source vocabulary frames (~S rows) must
    broadcast onto the pair matrix, and the (source, token) distinct is
    localCheckpoint-pinned so its four consumers share ONE corpus scan
    (unpinned, the plan re-ran the parquet scan four times)."""
    plan = _plan(spark, "q_ea_source_overlap")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "Scan ExistingRDD" in plan  # checkpoint-pinned distinct
    assert "Scan parquet" not in plan  # no consumer re-scans the corpus


def test_matryoshka_single_pair_join_no_explode(spark):
    """q_ec: one co-partitioned pair join; the 4-dim axis is a column
    stack (generate/expand), never a row explode of the vectors, and no
    dim ever joins back — exactly one join node in the whole plan."""
    plan = _plan(spark, "q_ec_matryoshka_audit")
    assert plan.count("Join") == 1, plan.count("Join")
    assert "CartesianProduct" not in plan


def test_pettitt_windows_partition_by_event_type(spark):
    """q_ed: every window/sort below the daily rollup must be
    partitioned by event_type — no global single-partition sort over
    the series (the calendar-bounded grain stays distributed)."""
    import re

    plan = _plan(spark, "q_ed_pettitt")
    assert "windowspecdefinition(event_type" in plan
    # no single-partition exchange anywhere
    assert "SinglePartition" not in plan, re.findall(
        r"Exchange [^\n]*", plan
    )


def test_survey_status_table_structurally_synced():
    """SURVEY §2.12's generated status table (round-11 verdict task 6)
    must name EVERY live registry entry and nothing else — catching a
    forgotten `tools/ledger.py --survey-table` regeneration after
    registering operators. Statuses may lag a round (the driver's
    CORRECTNESS file lands after the table is generated), so only the
    row SET is asserted, not the per-row status."""
    import os
    import re

    from pyspark_mllib_twitter_spark.plans import REGISTRY
    from pyspark_mllib_twitter_spark.plans.registry import base_name
    from pyspark_mllib_twitter_spark.plans.streaming_queries import CAPABILITIES

    survey = open(
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "SURVEY.md",
        ),
        encoding="utf-8",
    ).read()
    start = survey.index("| entry | check |")
    block = survey[start:].split("\n\n")[0]
    table_rows = set(re.findall(r"^\| (q_\w+) \|", block, re.MULTILINE))
    live = {base_name(n) for n in REGISTRY}
    if not CAPABILITIES["transform_with_state"]:
        live |= {"q_stream_tws", "q_stream_tws_timers"}  # doc'd container
    assert table_rows == live, (
        f"missing from table: {sorted(live - table_rows)}; "
        f"stale rows: {sorted(table_rows - live)}"
    )
