"""Interval (range) join: points ⋈ intervals on containment, sub-quadratic.

Spark plans ``points JOIN intervals ON p BETWEEN lo AND hi`` as a
(broadcast) nested-loop join — O(|P| x |I|), fine only while the interval
side broadcasts. The bin recipe turns containment into an equi-join:

1. pick a bin width; each point hashes to one bin (``floor(p / w)``);
2. each interval explodes to the bins it covers (``sequence(floor(lo/w),
   floor(hi/w))``) — short intervals hit 1-2 bins;
3. equi-join on the bin (hash join, shuffles scale with data + overlap
   density, never the cross product), then re-check exact containment.

Bin width tunes replication: ~median interval length keeps the explode
factor ~2 while making bins selective. This is the standard recipe behind
genomics overlap joins and Databricks' range-join optimization — expressed
here in plain DataFrame ops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    left_lo: str,
    left_hi: str,
    right_lo: str,
    right_hi: str,
    bin_width: float,
) -> DataFrame:
    """Interval-interval overlap join (``l_lo <= r_hi AND r_lo <= l_hi``)
    via the same bin equi-join — the genomics overlap-join shape.

    Both sides explode to covered bins and equi-join on the bin; a pair of
    overlapping intervals co-occurs in every bin their spans share, so to
    emit each pair exactly once WITHOUT a dedup shuffle, the match is kept
    only in the first shared bin (``floor(greatest(lo_l, lo_r) / w)``) —
    the standard replicate-and-anchor trick: pure arithmetic, no
    ``distinct`` over the (large) matched set.
    """
    if bin_width <= 0:
        raise ValueError("interval_overlap_join: bin_width must be positive")

    l = left.withColumn(
        "_bin",
        F.explode(
            F.sequence(
                F.floor(F.col(left_lo) / bin_width), F.floor(F.col(left_hi) / bin_width)
            )
        ),
    )
    r = right.withColumn(
        "_bin",
        F.explode(
            F.sequence(
                F.floor(F.col(right_lo) / bin_width), F.floor(F.col(right_hi) / bin_width)
            )
        ),
    )
    return (
        l.join(r, "_bin")
        .filter(
            (F.col(left_lo) <= F.col(right_hi))
            & (F.col(right_lo) <= F.col(left_hi))
            # anchor: count the pair only in the first bin both spans share
            & (
                F.col("_bin")
                == F.floor(F.greatest(F.col(left_lo), F.col(right_lo)) / bin_width)
            )
        )
        .drop("_bin")
    )


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    lo_col: str,
    hi_col: str,
    bin_width: float,
) -> DataFrame:
    """Inner-join every point row to every interval row with
    ``lo <= point <= hi`` via the bin equi-join. Output: all point columns
    + all interval columns.
    """
    if bin_width <= 0:
        raise ValueError("interval_join: bin_width must be positive")

    p = points.withColumn("_bin", F.floor(F.col(point_col) / bin_width))
    i = intervals.withColumn(
        "_bin",
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / bin_width),
                F.floor(F.col(hi_col) / bin_width),
            )
        ),
    )
    return (
        p.join(i, "_bin")
        .filter(
            (F.col(point_col) >= F.col(lo_col)) & (F.col(point_col) <= F.col(hi_col))
        )
        .drop("_bin")
    )
