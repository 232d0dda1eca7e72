"""The shared round loop (operators/iterate.py): termination policy, round
reporting, and release of the checkpoints of replaced round states."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyspark_mllib_twitter_spark.operators import iterate as IT


def _persistent_ids(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def test_iterate_fixed_rounds_and_round_report(spark):
    """Without ``until`` exactly ``rounds`` steps run, each sees its round
    number, and the call is reported in ``ROUNDS``."""
    seen = []

    def add_one(df, i):
        seen.append(i)
        return df.select((F.col("x") + 1).alias("x"))

    start = spark.createDataFrame([(0,)], "x int")
    IT.ROUNDS.clear()
    out = IT.iterate(start, add_one, 4)
    assert out.collect()[0].x == 4
    assert seen == [1, 2, 3, 4]
    assert IT.ROUNDS == [(add_one.__qualname__, 4)]


def test_iterate_stops_at_fixpoint_and_raises_at_cap(spark):
    """``until`` ends the loop on the round it first holds; when it never
    holds, the cap raises instead of returning a partial answer."""

    def halve(df, _):
        return df.select(F.floor(F.col("x") / 2).cast("int").alias("x"))

    def same(prev, new):
        return prev.collect() == new.collect()

    start = spark.createDataFrame([(40,)], "x int")
    IT.ROUNDS.clear()
    out = IT.iterate(start, halve, 10, same)
    # 40 -> 20 -> 10 -> 5 -> 2 -> 1 -> 0 -> 0: fixpoint seen in round 7
    assert out.collect()[0].x == 0
    assert IT.ROUNDS == [(halve.__qualname__, 7)]
    with pytest.raises(RuntimeError, match="max_rounds=3"):
        IT.iterate(start, halve, 3, same)


def test_pagerank_tol_raises_instead_of_partial_answer(spark):
    """A convergence run that cannot reach ``tol`` within ``iters`` raises
    (it used to return the partial ranks silently)."""
    from pyspark_mllib_twitter_spark.plans.lakehouse import pagerank

    edges = spark.createDataFrame([(0, 1), (1, 2), (2, 0), (0, 2)], "src int, dst int")
    with pytest.raises(RuntimeError, match="max_rounds"):
        pagerank(edges, iters=2, tol=0.0)


def test_label_propagation_leaves_no_per_round_checkpoints(spark):
    """The checkpoints label_propagation leaves behind do not grow with its
    round count: the pinned edge list, the seed labels and the result, for
    2 rounds as for 6 (the ContextCleaner may drop unreferenced ones on a
    JVM GC, so the count is bounded, not exact)."""
    from pyspark_mllib_twitter_spark.plans.science_ops import label_propagation

    edges = spark.createDataFrame(
        [(a, a + 1) for a in range(12)] + [(0, 6), (3, 9)], "u int, v int"
    )
    for rounds in (2, 6):
        before = _persistent_ids(spark)
        labels = label_propagation(edges, rounds=rounds)
        left = _persistent_ids(spark) - before
        assert len(left) <= 3, (rounds, len(left))
        assert labels.count() == 13  # the result's own checkpoint is intact
