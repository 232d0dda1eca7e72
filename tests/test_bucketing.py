"""Bucketed co-located join: correct results AND no Exchange in the plan —
the write-once-shuffle-never layout for 100 TB fact⋈fact joins."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from pyspark_mllib_twitter_spark.sources import read_table
from pyspark_mllib_twitter_spark.sources.bucketing import write_bucketed


@pytest.fixture(scope="module")
def bucketed_pair(spark, sf_smoke):
    suffix = uuid.uuid4().hex[:8]
    t_orders, t_lineitem = f"b_orders_{suffix}", f"b_lineitem_{suffix}"
    write_bucketed(
        read_table(spark, sf_smoke, "orders"), t_orders, ["o_orderkey"], 8
    )
    write_bucketed(
        read_table(spark, sf_smoke, "lineitem"), t_lineitem, ["l_orderkey"], 8
    )
    yield t_orders, t_lineitem
    spark.sql(f"DROP TABLE IF EXISTS {t_orders}")
    spark.sql(f"DROP TABLE IF EXISTS {t_lineitem}")


def test_bucketed_join_no_exchange(spark, sf_smoke, bucketed_pair):
    t_orders, t_lineitem = bucketed_pair
    o = spark.table(t_orders)
    li = spark.table(t_lineitem)
    joined = o.join(li, o.o_orderkey == li.l_orderkey).select(
        "o_orderkey", "l_linenumber", "l_quantity", "o_totalprice"
    )
    # force sort-merge so the bucket layout (not a broadcast) carries the join
    with_hint = o.hint("merge").join(li, o.o_orderkey == li.l_orderkey).select(
        "o_orderkey", "l_linenumber"
    )
    plan = with_hint._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, plan[:800]

    # correctness vs the plain (unbucketed) join
    o_raw = read_table(spark, sf_smoke, "orders")
    li_raw = read_table(spark, sf_smoke, "lineitem")
    want = (
        o_raw.join(li_raw, o_raw.o_orderkey == li_raw.l_orderkey)
        .select("o_orderkey", "l_linenumber", "l_quantity", "o_totalprice")
    )
    assert sorted(map(tuple, joined.collect())) == sorted(map(tuple, want.collect()))


def test_bucketed_groupby_no_exchange(spark, bucketed_pair):
    _, t_lineitem = bucketed_pair
    li = spark.table(t_lineitem)
    agg = li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("q"))
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:800]


def test_chunk_fp_index_probe_no_exchange_on_index(spark, sf_smoke):
    """The delta-ingest contract: probing the persisted bucketed chunk
    fingerprint index shuffles ONLY the probe side — the index scan is
    bucket-aligned (no Exchange between the index FileScan and the
    SortMergeJoin), so at 100 TB the big corpus index never re-shuffles."""
    import uuid

    from pyspark_mllib_twitter_spark.plans.pipeline_ops import build_chunk_fp_index
    from pyspark_mllib_twitter_spark.sources.io import spread

    table = f"chunk_fp_idx_{uuid.uuid4().hex[:8]}"
    docs = spread(read_table(spark, sf_smoke, "documents")).select("doc_id", "text")
    try:
        idx = build_chunk_fp_index(docs, table)
        probe = spark.createDataFrame(
            [("0" * 32,), ("f" * 32,)], "fp string"
        )
        joined = probe.hint("shuffle_merge").join(idx, "fp", "left")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan[:800]
        # exactly one Exchange (the probe side), none above the index scan
        assert plan.count("Exchange") == 1, plan[:1200]
        # the index side reads its buckets directly
        assert "Bucketed: true" in plan or "SelectedBucketsCount" in plan, plan[:1200]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
