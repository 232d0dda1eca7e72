"""Interval join: bin recipe equals the naive BETWEEN join, left semantics,
bad-input guards. (The oracle-level check runs in test_oracle via q_j_range.)"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyspark_mllib_twitter_spark.operators.rangejoin import (
    interval_join,
    interval_overlap_join,
)


@pytest.fixture(scope="module")
def data(spark):
    points = spark.range(1000).select(
        F.col("id").alias("pid"), (F.col("id") % 357 * 1.5).alias("v")
    )
    intervals = spark.createDataFrame(
        [(i, i * 40.0, i * 40.0 + 95.0) for i in range(15)],
        "iv_id int, lo double, hi double",
    )
    return points.cache(), intervals.cache()


def test_inner_matches_naive_between(data):
    points, intervals = data
    got = sorted(
        (r.pid, r.iv_id)
        for r in interval_join(points, intervals, "v", "lo", "hi", bin_width=40.0).collect()
    )
    want = sorted(
        (r.pid, r.iv_id)
        for r in points.join(
            intervals, (points.v >= intervals.lo) & (points.v <= intervals.hi)
        ).collect()
    )
    assert got == want and len(got) > 0


@pytest.mark.parametrize("w", [7.0, 40.0, 500.0])
def test_bin_width_does_not_change_semantics(data, w):
    points, intervals = data
    got = interval_join(points, intervals, "v", "lo", "hi", bin_width=w).count()
    want = points.join(
        intervals, (points.v >= intervals.lo) & (points.v <= intervals.hi)
    ).count()
    assert got == want


@pytest.mark.parametrize("w", [13.0, 40.0, 333.0])
def test_overlap_matches_naive_and_emits_once(spark, data, w):
    """Overlap join equals the naive predicate join — same pairs, each
    exactly once — independent of bin width (the first-shared-bin anchor)."""
    _, intervals = data
    other = spark.createDataFrame(
        [(j, j * 17.0 - 30.0, j * 17.0 + 41.0) for j in range(40)],
        "ov_id int, o_lo double, o_hi double",
    )
    got = sorted(
        (r.iv_id, r.ov_id)
        for r in interval_overlap_join(
            intervals, other, "lo", "hi", "o_lo", "o_hi", bin_width=w
        ).collect()
    )
    want = sorted(
        (r.iv_id, r.ov_id)
        for r in intervals.join(
            other, (intervals.lo <= other.o_hi) & (other.o_lo <= intervals.hi)
        ).collect()
    )
    assert got == want and len(got) > 0
    assert len(got) == len(set(got))  # exactly-once, no bin duplicates


def test_guards(data):
    points, intervals = data
    with pytest.raises(ValueError, match="bin_width"):
        interval_join(points, intervals, "v", "lo", "hi", bin_width=0)
