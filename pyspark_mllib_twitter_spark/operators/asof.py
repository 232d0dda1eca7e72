"""As-of (point-in-time) join — the time-series join Spark lacks natively.

``as_of_join(left, right, ...)`` attaches, to every left row, the payload of
the latest right row with ``right_ts <= left_ts`` within the same key —
trade-matching, slowly-changing-dimension lookup, "state at event time".

Spark-first plan (the union trick), not a per-probe scan:

1. union left (probes) and right (quotes) into one stream, tagged by side,
   with right rows sorting BEFORE left rows at equal timestamps (inclusive
   ``<=`` semantics, matching DuckDB's ASOF JOIN);
2. one window per key ordered by (ts, side): ``last(payload, ignorenulls)``
   carries the most recent right payload forward;
3. keep the left rows.

Cost: ONE shuffle on the key (the union is free, the window sorts within
partitions). A naive range join is O(|L| x |R|) per key; this is
O((|L|+|R|) log) and survives 100x — the same shape Flink/kdb use for
time-ordered merges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    payload_cols: list[str] | None = None,
) -> DataFrame:
    """For each left row, the latest right payload at-or-before its
    timestamp (per ``on`` key). Left rows with no prior right row get nulls.

    ``payload_cols`` defaults to every right column that is neither a key
    nor the timestamp. Output = all left columns + ``asof_<payload>`` cols.
    """
    if payload_cols is None:
        payload_cols = [c for c in right.columns if c not in set(on) | {right_ts}]
    if not payload_cols:
        raise ValueError("as_of_join: right side has no payload columns")

    out_names = [f"asof_{c}" for c in payload_cols]

    # The payload travels as ONE struct, not independent columns: with
    # per-column last(col, ignorenulls=True), a NULL field in the latest
    # right row would be filled from an OLDER row, mixing fields of
    # different right rows. last(struct, ignorenulls=True) is all-or-
    # nothing — every field comes from the same (latest) right row, nulls
    # included, matching DuckDB ASOF JOIN semantics.
    r_payload = F.struct(*[F.col(c).alias(c) for c in payload_cols])

    # Common layout: key cols, event ts, side tag, left payload, right payload.
    l_tagged = left.select(
        *on,
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        F.struct(*left.columns).alias("_left"),
        F.lit(None).cast(
            right.select(r_payload.alias("_rpay")).schema["_rpay"].dataType
        ).alias("_rpay"),
    )
    r_tagged = right.select(
        *on,
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),  # sorts before left at equal ts → inclusive <=
        F.lit(None).cast(
            l_tagged.schema["_left"].dataType
        ).alias("_left"),
        r_payload.alias("_rpay"),
    )

    w = (
        W.partitionBy(*on)
        .orderBy("_ts", "_side")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = l_tagged.unionByName(r_tagged).select(
        "_side",
        "_left",
        F.last("_rpay", ignorenulls=True).over(w).alias("_rpay"),
    )
    probes = carried.filter(F.col("_side") == 1)
    return probes.select(
        *[F.col(f"_left.{c}").alias(c) for c in left.columns],
        *[F.col(f"_rpay.{c}").alias(n) for c, n in zip(payload_cols, out_names)],
    )
