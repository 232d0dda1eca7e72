"""Warehouse / BI operators (round 8, batch 2): exact distributed
percentiles, calendar gap-fill with LOCF, and ratio-to-parent rollup
shares.

Design rules carried from the rest of the engine:

- **Cross-engine float discipline.** Ranks, counts, cents and epoch
  hours stay exact integers; each output float is one shared-text
  closing expression.
- **Percentiles without a global sort.** The exact-percentile recipe is
  the repo's distributed-rank pattern (q_yj/q_yv): collapse to
  (group, value, count) cells, cumulate per group over the value order,
  select by integer target rank — the corpus is never totally ordered.
- **Calendar-bounded windows.** Gap-fill and shares run on per-group
  daily/hourly aggregates whose size is bounded by the calendar, not by
  the corpus.

Reference scope: the reference (COMP5349_2.py:1-211) has none of this
surface; north-star warehouse-analytics mandate.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..sources import read_table
from .registry import query, sql_query

# ---------------------------------------------------------------------------
# Exact per-group percentiles (p50 / p95 / p99)
# ---------------------------------------------------------------------------

#: Integer target rank for quantile a/b over n rows: ceil(a*n/b). `/` is
#: float division on both engines and a DOUBLE -> BIGINT cast rounds to
#: nearest on DuckDB but truncates on Spark (the q_al SAX lesson), so the
#: quotient is floored before the cast; for integers below 2^53 the
#: floor is exact.
def _rank(a: int, b: int) -> str:
    return f"CAST(floor(({a} * n + {b} - 1) / {b}) AS BIGINT)"


# Exact p50/p95/p99 per event type: the smallest value whose cumulative count
# reaches ceil(q*n), with the target rank computed in integers.
sql_query(
    "q_b8_percentiles",
    f"""
    WITH cells AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2),
    cum AS (
      SELECT event_type, cents,
             SUM(cnt) OVER (PARTITION BY event_type ORDER BY cents
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS c,
             SUM(cnt) OVER (PARTITION BY event_type) AS n
      FROM cells)
    SELECT event_type, CAST(min(n) AS BIGINT) AS n,
           round(CAST(min(CASE WHEN c >= {_rank(1, 2)} THEN cents END)
                      AS DOUBLE) / 100.0, 6) AS p50,
           round(CAST(min(CASE WHEN c >= {_rank(19, 20)} THEN cents END)
                      AS DOUBLE) / 100.0, 6) AS p95,
           round(CAST(min(CASE WHEN c >= {_rank(99, 100)} THEN cents END)
                      AS DOUBLE) / 100.0, 6) AS p99
    FROM cum GROUP BY event_type ORDER BY event_type
    """,
)


# ---------------------------------------------------------------------------
# Calendar gap-fill with LOCF
# ---------------------------------------------------------------------------


@query(
    "q_b9_gapfill",
    oracle="""
    WITH hourly AS (
      SELECT event_type,
             date_diff('hour', TIMESTAMP '1970-01-01 00:00:00',
                       date_trunc('hour', CAST(ts AS TIMESTAMP))) AS hr,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2),
    bounds AS (SELECT min(hr) AS lo, max(hr) AS hi FROM hourly),
    spine AS (
      SELECT DISTINCT h.event_type, g.hr
      FROM (SELECT DISTINCT event_type FROM hourly) h,
           (SELECT unnest(generate_series(lo, hi)) AS hr FROM bounds) g),
    joined AS (
      SELECT s.event_type, s.hr, o.cents,
             CASE WHEN o.cents IS NULL THEN 1 ELSE 0 END AS filled
      FROM spine s LEFT JOIN hourly o
        ON o.event_type = s.event_type AND o.hr = s.hr),
    locf AS (
      SELECT event_type, hr, filled,
             last_value(cents IGNORE NULLS)
               OVER (PARTITION BY event_type ORDER BY hr
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cents
      FROM joined)
    SELECT event_type, CAST(hr AS BIGINT) AS hr,
           CAST(filled AS BIGINT) AS filled,
           round(CAST(cents AS DOUBLE) / 100.0, 6) AS value_locf
    FROM locf WHERE cents IS NOT NULL
    ORDER BY event_type, hr
    """,
)
def q_b9_gapfill(spark, sf_dir):
    """Calendar GAP-FILL with last-observation-carried-forward: the
    hourly per-type series is joined against a dense generated hour
    spine (min..max), missing cells are flagged and LOCF-filled with one
    running ``last(..., ignoreNulls)`` window — the
    resample-to-regular-grid operator every downstream window/forecast
    op assumes (q_y7's time-weighted average is the interval-weighted
    cousin; this materializes the grid). Leading cells before a series'
    first observation stay undefined and are excluded on both engines.

    Scale shape: the corpus collapses to hourly cells first; the spine
    is generated (sequence explode), calendar-bounded, and joined
    per-group; the LOCF window is one running frame over
    hours-per-group. Everything after the first aggregate is
    grid-sized, not corpus-sized.
    """
    ev = read_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        (
            F.unix_micros(F.date_trunc("hour", F.col("ts").cast("timestamp")))
            / F.lit(3_600_000_000)
        )
        .cast("bigint")
        .alias("hr"),
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    bounds = hourly.agg(F.min("hr").alias("lo"), F.max("hr").alias("hi"))
    types = hourly.select("event_type").distinct()
    spine = types.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("hr"),
    )
    joined = spine.join(hourly, ["event_type", "hr"], "left").select(
        "event_type",
        "hr",
        "cents",
        F.when(F.col("cents").isNull(), 1).otherwise(0).alias("filled"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    locf = joined.select(
        "event_type",
        "hr",
        "filled",
        F.last("cents", ignorenulls=True).over(w).alias("cents"),
    )
    return (
        locf.filter(F.col("cents").isNotNull())
        .select(
            "event_type",
            F.col("hr").cast("bigint"),
            F.col("filled").cast("bigint"),
            F.round(F.col("cents").cast("double") / 100.0, 6).alias("value_locf"),
        )
        .orderBy("event_type", "hr")
    )


# ---------------------------------------------------------------------------
# Ratio-to-parent rollup shares
# ---------------------------------------------------------------------------


# Nation revenue as a share of its region and region of the world, from
# exact DECIMAL(38,0) cents.
sql_query(
    "q_ba_ratio_to_parent",
    """
    WITH sales AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             SUM(CAST(CAST(round(o.o_totalprice * 100) AS BIGINT)
                      AS DECIMAL(38,0))) AS cents
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY 1, 2),
    lev AS (
      SELECT region, nation, cents,
             SUM(cents) OVER (PARTITION BY region) AS region_cents,
             SUM(cents) OVER () AS global_cents
      FROM sales)
    SELECT region, nation,
           CAST(cents AS BIGINT) AS cents,
           round(CAST(cents AS DOUBLE) / CAST(region_cents AS DOUBLE), 6)
             AS share_of_region,
           round(CAST(region_cents AS DOUBLE) / CAST(global_cents AS DOUBLE), 6)
             AS region_share_of_global
    FROM lev ORDER BY region, nation
    """,
)


# ---------------------------------------------------------------------------
# Data profiling (per-column stats in one scan)
# ---------------------------------------------------------------------------

#: Columns profiled (all integer/string-typed or quantized so min/max
#: stringify identically on both engines — doubles are profiled via
#: their exact cents form).
_PROFILE_COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")


@query(
    "q_bg_profile",
    oracle="""
    WITH src AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
             CAST(round(o_totalprice * 100) AS BIGINT) AS total_cents
      FROM orders)
    SELECT 'o_orderkey' AS column_name,
           CAST(count(*) - count(o_orderkey) AS BIGINT) AS n_nulls,
           CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
           CAST(min(o_orderkey) AS VARCHAR) AS min_value,
           CAST(max(o_orderkey) AS VARCHAR) AS max_value
    FROM src
    UNION ALL
    SELECT 'o_custkey', CAST(count(*) - count(o_custkey) AS BIGINT),
           CAST(count(DISTINCT o_custkey) AS BIGINT),
           CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
    FROM src
    UNION ALL
    SELECT 'o_orderstatus', CAST(count(*) - count(o_orderstatus) AS BIGINT),
           CAST(count(DISTINCT o_orderstatus) AS BIGINT),
           min(o_orderstatus), max(o_orderstatus)
    FROM src
    UNION ALL
    SELECT 'o_orderpriority', CAST(count(*) - count(o_orderpriority) AS BIGINT),
           CAST(count(DISTINCT o_orderpriority) AS BIGINT),
           min(o_orderpriority), max(o_orderpriority)
    FROM src
    UNION ALL
    SELECT 'total_cents', CAST(count(*) - count(total_cents) AS BIGINT),
           CAST(count(DISTINCT total_cents) AS BIGINT),
           CAST(min(total_cents) AS VARCHAR), CAST(max(total_cents) AS VARCHAR)
    FROM src
    ORDER BY column_name
    """,
)
def q_bg_profile(spark, sf_dir):
    """DATA PROFILING: per-column null count, exact distinct count, and
    min/max for the orders table — the data-quality summary every
    ingestion pipeline materializes (the Deequ/Great-Expectations
    profile shape, public tools). All five columns profile in ONE scan
    (a single aggregate computes every stat; the long format is a
    constant-size unpivot of that one row); the float column is profiled
    through its exact cents form so min/max stringify identically on
    both engines.

    Scale shape: one map-side-combinable aggregate per scan — at 100 TB
    you pay the scan once for the whole profile, not per column; exact
    distinct is the one shuffle-expensive stat and is the documented
    swap-in point for the portable HLL (q_aw) when approximation is
    acceptable.
    """
    src = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("total_cents"),
    )
    cols = list(_PROFILE_COLS) + ["total_cents"]
    aggs = [F.count("*").alias("_n")]
    for c in cols:
        aggs += [
            F.count(c).alias(f"{c}__nn"),
            F.countDistinct(c).alias(f"{c}__nd"),
            F.min(c).cast("string").alias(f"{c}__mn"),
            F.max(c).cast("string").alias(f"{c}__mx"),
        ]
    one = src.agg(*aggs)
    stack = ", ".join(
        f"'{c}', CAST(_n - {c}__nn AS BIGINT), CAST({c}__nd AS BIGINT),"
        f" {c}__mn, {c}__mx"
        for c in cols
    )
    return one.selectExpr(
        f"stack({len(cols)}, {stack})"
        " AS (column_name, n_nulls, n_distinct, min_value, max_value)"
    ).orderBy("column_name")


# ---------------------------------------------------------------------------
# Incremental view maintenance (algebraic rollup delta-merge)
# ---------------------------------------------------------------------------


# Incremental view maintenance: the v2 (count, sum) rollup per priority from
# v1 plus insert and delete deltas; the oracle recomputes v2 from scratch.
sql_query(
    "q_bh_incremental_agg",
    """
    WITH final_rows AS (
      SELECT o_orderpriority AS priority,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
      WHERE o_orderkey % 4 = 0
         OR (o_orderkey % 4 <> 0 AND o_orderkey % 8 <> 1))
    SELECT priority, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(cents AS DECIMAL(38,0))) AS BIGINT) AS sum_cents
    FROM final_rows GROUP BY priority ORDER BY priority
    """,
)


# ---------------------------------------------------------------------------
# Referential-integrity audit (FK orphan detection across the star schema)
# ---------------------------------------------------------------------------


# Referential-integrity audit: orphaned child rows and keys per FK edge of
# the star schema.
sql_query(
    "q_br_fk_orphans",
    """
    SELECT 'customer.nation' AS edge,
           CAST(count(*) AS BIGINT) AS n_child_rows,
           CAST(sum(CASE WHEN n_nationkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_orphan_rows,
           CAST(count(DISTINCT CASE WHEN n_nationkey IS NULL
                                    THEN c_nationkey END) AS BIGINT)
             AS n_orphan_keys
    FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
    UNION ALL
    SELECT 'lineitem.orders', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT),
           CAST(count(DISTINCT CASE WHEN o_orderkey IS NULL
                                    THEN l_orderkey END) AS BIGINT)
    FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
    UNION ALL
    SELECT 'lineitem.part', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN p_partkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT),
           CAST(count(DISTINCT CASE WHEN p_partkey IS NULL
                                    THEN l_partkey END) AS BIGINT)
    FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
    UNION ALL
    SELECT 'lineitem.supplier', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN s_suppkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT),
           CAST(count(DISTINCT CASE WHEN s_suppkey IS NULL
                                    THEN l_suppkey END) AS BIGINT)
    FROM lineitem LEFT JOIN supplier ON l_suppkey = s_suppkey
    UNION ALL
    SELECT 'orders.customer', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT),
           CAST(count(DISTINCT CASE WHEN c_custkey IS NULL
                                    THEN o_custkey END) AS BIGINT)
    FROM orders LEFT JOIN customer ON o_custkey = c_custkey
    ORDER BY edge
    """,
)


# ---------------------------------------------------------------------------
# Diversified top-k (round-robin interleave across sources)
# ---------------------------------------------------------------------------

#: Global result size and the per-source prune depth (k is enough: a
#: source can contribute at most k of the final k).
_DIV_K = 20


# Diversified top-k: rank within each source, then interleave by (rank,
# score) so every source's rank-1 doc comes first; ties break on doc_id.
sql_query(
    "q_bt_diversified_topk",
    f"""
    WITH per AS (
      SELECT doc_id, source, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id) AS src_rank
      FROM documents),
    pruned AS (SELECT * FROM per WHERE src_rank <= {_DIV_K}),
    interleaved AS (
      SELECT doc_id, source, n_chars, src_rank,
             row_number() OVER (ORDER BY src_rank, n_chars DESC, doc_id)
               AS final_rank
      FROM pruned)
    SELECT CAST(final_rank AS INT) AS final_rank, doc_id, source,
           n_chars, CAST(src_rank AS INT) AS src_rank
    FROM interleaved WHERE final_rank <= {_DIV_K}
    ORDER BY final_rank
    """,
)


# ---------------------------------------------------------------------------
# ABC (Pareto) inventory classification of parts by revenue
# ---------------------------------------------------------------------------

#: Class from the PRIOR cumulative revenue share (exact integer
#: cross-multiplication against the 80%/95% literal thresholds — the
#: boundary part whose prefix crosses a threshold belongs to the
#: class it STARTS in, deterministic on both engines).
_ABC_CLASS = (
    "(CASE WHEN 100 * (cum - rev) < 80 * tot THEN 'A'"
    " WHEN 100 * (cum - rev) < 95 * tot THEN 'B'"
    " ELSE 'C' END)"
)


# ABC (80/15/5) classification of parts by revenue; the prior cumulative
# share is compared by integer cross-multiplication.
sql_query(
    "q_d9_abc_class",
    f"""
    WITH per_part AS (
      SELECT l_partkey,
             CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                           AS BIGINT)) AS BIGINT) AS rev
      FROM lineitem GROUP BY l_partkey),
    ranked AS (
      SELECT l_partkey, rev,
             SUM(rev) OVER (ORDER BY rev DESC, l_partkey
                            ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(rev) OVER () AS tot
      FROM per_part),
    classed AS (
      SELECT {_ABC_CLASS} AS abc, rev, tot FROM ranked)
    SELECT abc, CAST(count(*) AS BIGINT) AS n_parts,
           round(CAST(sum(rev) AS DOUBLE) / CAST(min(tot) AS DOUBLE), 6)
             AS revenue_share,
           round(CAST(sum(rev) AS DOUBLE) / 100e0, 2) AS revenue_dollars
    FROM classed GROUP BY abc ORDER BY abc
    """,
)


# ---------------------------------------------------------------------------
# Knee / elbow detection on the Pareto revenue curve
# ---------------------------------------------------------------------------

#: Chord deviation of the cumulative revenue curve at rank i, exact
#: integer cross-multiplication: dev_i = cum_i * N - i * T (the
#: "kneedle" max-distance-from-chord criterion up to the constant
#: chord-length factor, which does not move the argmax).
_KNEE_DEV = "(cum * n_parts - i * tot)"


# Kneedle knee of the Pareto revenue curve: argmax of the exact integer
# deviation cum_i*N - i*T, ties broken by rank.
sql_query(
    "q_dk_pareto_knee",
    f"""
    WITH per_part AS (
      SELECT l_partkey,
             CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                           AS BIGINT)) AS BIGINT) AS rev
      FROM lineitem GROUP BY l_partkey),
    ranked AS (
      SELECT rev,
             row_number() OVER (ORDER BY rev DESC, l_partkey) AS i,
             SUM(rev) OVER (ORDER BY rev DESC, l_partkey
                            ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(rev) OVER () AS tot,
             COUNT(*) OVER () AS n_parts
      FROM per_part),
    best AS (
      SELECT i, cum, tot, n_parts, {_KNEE_DEV} AS dev
      FROM ranked ORDER BY dev DESC, i ASC LIMIT 1)
    SELECT CAST(i AS BIGINT) AS knee_rank,
           CAST(n_parts AS BIGINT) AS n_parts,
           round(CAST(i AS DOUBLE) / CAST(n_parts AS DOUBLE), 6)
             AS knee_part_share,
           round(CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE), 6)
             AS knee_revenue_share
    FROM best
    """,
)
