"""Empty-input and degenerate-parameter behavior of the library operators.

An engine surface is only "complete" if its operators fail loudly or
return sane empties at the boundaries — these pin the contracts so a
refactor can't silently change them.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyspark_mllib_twitter_spark.operators import dedup, sampling
from pyspark_mllib_twitter_spark.operators.asof import as_of_join
from pyspark_mllib_twitter_spark.operators.topk import top_k_per_group
from pyspark_mllib_twitter_spark.sources import read_table


@pytest.fixture(scope="module")
def docs(spark, sf_smoke):
    df = read_table(spark, sf_smoke, "documents").cache()
    yield df
    # Unpersist on module teardown: a session-lifetime cache of the BARE
    # documents relation gets plan-fragment-substituted into every later
    # documents query in the suite (notably test_plans' cold-scan
    # assertions — the cached InMemoryRelation embeds a full-width scan).
    df.unpersist()


def test_content_dedup_empty_input(spark, docs):
    empty = docs.filter(F.lit(False))
    assert dedup.content_dedup(empty).count() == 0
    assert dedup.content_dedup_groups(empty).count() == 0


def test_content_dedup_idempotent_on_unique(spark, docs):
    """A corpus with no duplicates passes through dedup unchanged."""
    once = dedup.content_dedup(docs)
    assert once.count() == docs.count()


def test_hash_sample_rate_bounds(spark, docs):
    """rate 0/16 keeps nothing, 16/16 keeps everything, and rates are
    monotone (a row kept at rate r is kept at every rate > r — the
    property that makes hash samples composable across runs)."""
    n = docs.count()
    with pytest.raises(ValueError, match="1..16"):
        sampling.hash_sample(docs, "doc_id", 0)  # rate 0 = a typo, not a sample
    assert sampling.hash_sample(docs, "doc_id", 16).count() == n
    r4 = {r.doc_id for r in sampling.hash_sample(docs, "doc_id", 4).select("doc_id").collect()}
    r8 = {r.doc_id for r in sampling.hash_sample(docs, "doc_id", 8).select("doc_id").collect()}
    assert r4 <= r8


def test_stratified_hash_sample_unlisted_strata_dropped(spark, sf_smoke):
    ev = read_table(spark, sf_smoke, "events")
    out = sampling.stratified_hash_sample(
        ev, "event_type", "event_id", {"click": 16}
    )
    kinds = {r.event_type for r in out.select("event_type").distinct().collect()}
    assert kinds == {"click"}
    want = ev.filter(F.col("event_type") == "click").count()
    assert out.count() == want  # 16/16 keeps every click row


def test_top_k_per_group_k_larger_than_group(spark, docs):
    """k larger than any group size returns whole groups, ranked."""
    out = top_k_per_group(
        docs.select("source", "doc_id"),
        ["source"],
        [F.col("doc_id").asc()],
        10**6,
    )
    assert out.count() == docs.count()


def test_as_of_join_no_match_yields_null(spark):
    left = spark.createDataFrame([(1, 100)], "id long, t long")
    right = spark.createDataFrame([(1, 200, "late")], "id long, t long, v string")
    out = as_of_join(
        left, right, on=["id"], left_ts="t", right_ts="t", payload_cols=["v"]
    ).collect()
    assert len(out) == 1 and out[0].asof_v is None  # right row is AFTER the probe


def test_as_of_join_latest_row_nulls_not_backfilled(spark):
    """DuckDB ASOF semantics: the payload is the LATEST right row's, nulls
    included. A null field in the latest row must NOT be backfilled from an
    older right row (per-column last(ignorenulls) would mix rows)."""
    left = spark.createDataFrame([(1, 300)], "id long, t long")
    right = spark.createDataFrame(
        [(1, 100, "old_v", "old_w"), (1, 200, None, "new_w")],
        "id long, t long, v string, w string",
    )
    out = as_of_join(
        left, right, on=["id"], left_ts="t", right_ts="t", payload_cols=["v", "w"]
    ).collect()
    assert len(out) == 1
    assert out[0].asof_w == "new_w"
    assert out[0].asof_v is None  # latest row's null, NOT "old_v"


def test_ngram_jaccard_block_guard_trips(spark, docs):
    """Oversized blocks must fail fast, not run the quadratic stage."""
    with pytest.raises(ValueError, match="max_block_size"):
        dedup.ngram_jaccard_pairs(docs, max_block_size=1).count()


def test_observation_metrics_match_batch_agg(spark, sf_smoke):
    """The Observation API (pipeline observability without a second scan):
    metrics observed during a write-side action must equal the standalone
    aggregation — count, null count, and a decimal-routed sum.

    The observation runs in a CHILD session (``newSession``): Spark 4.1's
    classic ObservationManager never unregisters a completed Observation,
    and any later ML model.transform in the same session captures the
    manager transitively → ``Task not serializable``. Isolating the
    observation in its own SessionState (shared SparkContext, separate
    ObservationManager) is the supported pattern until that's fixed
    upstream."""
    from pyspark.sql import Observation

    spark = spark.newSession()
    ev = read_table(spark, sf_smoke, "events")
    obs = Observation("ev_metrics")
    observed = ev.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("user_id").isNull().cast("long")).alias("n_null_users"),
        F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("sum_value"),
    )
    observed.write.format("noop").mode("overwrite").save()
    got = obs.get
    want = ev.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("user_id").isNull().cast("long")).alias("n_null_users"),
        F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("sum_value"),
    ).first()
    assert got["n_rows"] == want.n_rows
    assert got["n_null_users"] == want.n_null_users
    assert abs(got["sum_value"] - want.sum_value) < 1e-6


def test_semantic_dedup_tiny_and_empty_corpus(spark):
    """A corpus smaller than n_clusters must degrade to fewer KMeans
    clusters (k=1 == exact all-pairs) instead of failing the fit; an empty
    corpus yields zero pairs and zero survivors."""
    from pyspark_mllib_twitter_spark.operators.dedup import (
        semantic_dedup,
        semantic_dedup_pairs,
    )

    tiny = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 1e-4]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    survivors = {r.vec_id for r in semantic_dedup(tiny, min_cosine=0.99).collect()}
    assert survivors == {1, 3}  # 2 is a near-dup of 1; min id kept

    empty = tiny.filter("vec_id < 0")
    assert semantic_dedup_pairs(empty).count() == 0
    assert semantic_dedup(empty).count() == 0


def test_bench_suite_order_batch_then_streaming():
    """bench._suite_order: every entry exactly once, every streaming entry
    after every batch entry, and each block sorted."""
    import bench
    from pyspark_mllib_twitter_spark.plans import REGISTRY
    from pyspark_mllib_twitter_spark.plans.registry import base_name

    names = sorted(REGISTRY)
    ordered = bench._suite_order(REGISTRY)
    assert sorted(ordered) == names

    def is_stream(n):
        b = base_name(n)
        return b.startswith("q_stream_") or b in (
            "q_s3_pystream",
            "q_s5_pystream_sink",
        )

    flags = [is_stream(n) for n in ordered]
    first_stream = flags.index(True)
    assert all(flags[first_stream:]), "a batch entry ran inside the streaming tail"
    assert not any(flags[:first_stream])
    batch, stream = ordered[:first_stream], ordered[first_stream:]
    assert batch == sorted(batch) and stream == sorted(stream)
