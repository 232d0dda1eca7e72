"""Statistical-inference / ops-analytics operators (round 8, batch 3):
Benjamini-Hochberg FDR control over a family of per-nation tests,
sweep-line peak concurrency, and exact weighted medians.

Design rules carried from the rest of the engine:

- **Cross-engine float discipline.** Counts, cents, epoch microseconds
  and ranks stay exact integers; every double is produced by ONE
  shared-text expression evaluated by both engines (z statistic, the
  normal-CDF polynomial, the closing divisions), so BH accept/reject
  decisions — comparisons on those doubles — are bit-identical.
- **No global sort of the corpus.** The concurrency sweep is a
  SEGMENTED prefix sum: a per-day window (parallel across days) plus a
  calendar-bounded day-grain carry cumsum — the classic scan
  decomposition (Blelloch, "Prefix sums and their applications", 1990,
  public). The weighted median uses the repo's distributed-rank recipe
  (collapse to value cells, cumulate per group).
- **Hypothesis-family windows are family-bounded.** BH ranks run over
  one row per nation (25 rows) — never over raw customers.

Reference scope: the reference (COMP5349_2.py:1-211) has none of this
surface; north-star experimentation/observability mandate.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..sources import read_table
from .corpus_ops import KM_CUTOFF
from .registry import query, sql_query

# ---------------------------------------------------------------------------
# Benjamini-Hochberg FDR over per-nation proportion tests
# ---------------------------------------------------------------------------

#: High-balance cutoff for the per-nation "positive rate" under test.
_BH_CUTOFF = 5000.0

#: BH target false-discovery rate (alpha). Kept a literal inside the
#: shared-text threshold expression.
_BH_ALPHA = "0.10"

#: Shared-text two-proportion z (nation vs rest-of-world, pooled
#: variance). Inputs are exact BIGINTs: k1/n1 = nation positives/size,
#: kk/nn = global positives/size. Degenerate pooled variance -> NULL
#: (never a divide-by-zero; the q_yi_abtest_ztest contract).
_BH_Z_EXPR = (
    "(CAST(k1 AS DOUBLE) / CAST(n1 AS DOUBLE)"
    " - CAST(kk - k1 AS DOUBLE) / CAST(nn - n1 AS DOUBLE))"
    " / sqrt(nullif((CAST(kk AS DOUBLE) / CAST(nn AS DOUBLE))"
    " * (1.0 - CAST(kk AS DOUBLE) / CAST(nn AS DOUBLE))"
    " * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(nn - n1 AS DOUBLE)), 0.0))"
)

#: Shared-text Abramowitz & Stegun 26.2.17 upper-tail polynomial
#: (Zelen & Severo; |error| < 7.5e-8 — far inside the 6dp rounding the
#: driver applies). ``tt`` is the Horner variable 1/(1 + 0.2316419|z|);
#: 2.5066282746310002 is sqrt(2*pi) as a literal so neither engine's
#: pi() enters the text. least(1.0, ...) absorbs the approximation's
#: epsilon excursion above 1 at z = 0.
_BH_T_EXPR = "1.0 / (1.0 + 0.2316419 * abs(z_raw))"
_BH_P_EXPR = (
    "least(1.0, 2.0 * (exp(-(z_raw * z_raw) / 2.0) / 2.5066282746310002)"
    " * (0.319381530 * tt - 0.356563782 * tt * tt"
    " + 1.781477937 * tt * tt * tt - 1.821255978 * tt * tt * tt * tt"
    " + 1.330274429 * tt * tt * tt * tt * tt))"
)

#: Shared-text BH step-up threshold for rank i of m: i * alpha / m.
_BH_CRIT_EXPR = f"CAST(p_rank AS DOUBLE) * {_BH_ALPHA} / CAST(m AS DOUBLE)"


# Benjamini-Hochberg FDR over per-nation one-vs-rest z-tests; p-values use
# the Abramowitz-Stegun 26.2.17 tail polynomial, so both engines agree on
# every step-up comparison. Degenerate tests drop from the family.
sql_query(
    "q_bi_bh_fdr",
    f"""
    WITH per AS (
      SELECT c_nationkey,
             CAST(count(*) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN c_acctbal > {_BH_CUTOFF} THEN 1 ELSE 0 END)
                  AS BIGINT) AS k1
      FROM customer GROUP BY c_nationkey),
    tot AS (
      SELECT CAST(sum(n1) AS BIGINT) AS nn, CAST(sum(k1) AS BIGINT) AS kk
      FROM per),
    z AS (
      SELECT n_name AS nation, n1, k1, {_BH_Z_EXPR} AS z_raw
      FROM per CROSS JOIN tot
      JOIN nation ON n_nationkey = c_nationkey),
    t AS (
      SELECT nation, n1, k1, z_raw, {_BH_T_EXPR} AS tt
      FROM z WHERE z_raw IS NOT NULL),
    p AS (
      SELECT nation, n1, k1, z_raw, {_BH_P_EXPR} AS p_raw FROM t),
    ranked AS (
      SELECT nation, n1, k1, z_raw, p_raw,
             row_number() OVER (ORDER BY p_raw, nation) AS p_rank,
             count(*) OVER () AS m
      FROM p),
    flagged AS (
      SELECT *, CASE WHEN p_raw <= {_BH_CRIT_EXPR} THEN p_rank ELSE 0 END
                AS ok_rank
      FROM ranked),
    kstar AS (SELECT max(ok_rank) AS k_star FROM flagged)
    SELECT nation, n1 AS n_customers, k1 AS n_high,
           round(z_raw, 6) AS z_score, round(p_raw, 6) AS p_value,
           CAST(p_rank AS INT) AS p_rank,
           CAST(CASE WHEN p_rank <= k_star THEN 1 ELSE 0 END AS INT)
             AS rejected
    FROM flagged CROSS JOIN kstar
    ORDER BY p_rank
    """,
)


# ---------------------------------------------------------------------------
# Sweep-line peak concurrency (segmented prefix sum)
# ---------------------------------------------------------------------------

#: Deterministic synthetic session duration in seconds: 5-35 minutes,
#: a pure function of event_id so both engines derive identical
#: intervals from the shared fixture.
_CONC_DUR_S = "300 + event_id % 1800"

_US_PER_DAY = 86_400_000_000


@query(
    "q_bj_peak_concurrency",
    oracle=f"""
    WITH iv AS (
      SELECT event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS s_us,
             epoch_us(CAST(ts AS TIMESTAMP))
               + ({_CONC_DUR_S}) * 1000000 AS e_us
      FROM events),
    bounds AS (
      SELECT event_id, s_us AS t, 1 AS delta FROM iv
      UNION ALL
      SELECT event_id, e_us AS t, -1 AS delta FROM iv),
    within AS (
      SELECT t // {_US_PER_DAY} AS day_idx, t, delta, event_id,
             sum(delta) OVER (PARTITION BY t // {_US_PER_DAY}
                              ORDER BY t, delta, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS run_in_day
      FROM bounds),
    day_tot AS (
      SELECT day_idx, sum(delta) AS day_delta
      FROM within GROUP BY day_idx),
    carry AS (
      SELECT day_idx,
             COALESCE(sum(day_delta) OVER (ORDER BY day_idx
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) AS carry_in
      FROM day_tot)
    SELECT CAST(w.day_idx AS BIGINT) AS day_idx,
           CAST(min(c.carry_in) AS BIGINT) AS carry_in,
           CAST(sum(CASE WHEN w.delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_starts,
           CAST(max(CASE WHEN w.delta = 1
                         THEN c.carry_in + w.run_in_day END) AS BIGINT)
             AS peak_concurrency
    FROM within w JOIN carry c ON w.day_idx = c.day_idx
    GROUP BY w.day_idx ORDER BY w.day_idx
    """,
)
def q_bj_peak_concurrency(spark, sf_dir):
    """PEAK CONCURRENCY per day by sweep line: each event opens a
    deterministic 5-35-minute session ``[ts, ts + dur)``; boundary
    events (+1 at start, -1 at end, half-open so an end at instant t
    frees its slot before a start at t) are prefix-summed in time order,
    and the per-day peak is the maximum running value over that day's
    START boundaries — exact, because concurrency only increases at
    starts, so the global maximum within any day is attained at a start
    (a day whose maximum is midnight carry-in alone reports the max at
    its starts; with 35-minute sessions carry-in decays within the first
    hour). The capacity-planning readout behind "how many simultaneous
    sessions must we serve".

    Scale shape: the prefix sum is SEGMENTED, never global — a window
    PARTITIONED BY day (parallel across days, each segment
    calendar-bounded) plus a day-grain carry cumsum over <= 31 rows
    (Blelloch scan decomposition, public). All arithmetic is exact
    epoch-microsecond integers; there is no global sort and no
    single-partition window over the corpus. At 100 TB the segments
    parallelize across executors and the carry table stays
    calendar-sized.
    """
    ev = read_table(spark, sf_dir, "events").select(
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("s_us"),
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            + F.expr(_CONC_DUR_S).cast("bigint") * 1_000_000
        ).alias("e_us"),
    )
    # One corpus scan: each interval explodes to its two boundary rows
    # (a union of starts and ends would read the scan twice).
    bounds = ev.select(
        "event_id",
        F.explode(
            F.array(
                F.struct(F.col("s_us").alias("t"), F.lit(1).alias("delta")),
                F.struct(F.col("e_us").alias("t"), F.lit(-1).alias("delta")),
            )
        ).alias("b"),
    ).select("event_id", "b.t", "b.delta")
    w_day = (
        Window.partitionBy("day_idx")
        .orderBy("t", "delta", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    within = bounds.select(
        F.expr(f"t DIV {_US_PER_DAY}").alias("day_idx"), "t", "delta", "event_id"
    ).withColumn("run_in_day", F.sum("delta").over(w_day))
    day_tot = within.groupBy("day_idx").agg(F.sum("delta").alias("day_delta"))
    w_carry = Window.orderBy("day_idx").rowsBetween(Window.unboundedPreceding, -1)
    carry = day_tot.select(
        "day_idx",
        F.coalesce(F.sum("day_delta").over(w_carry), F.lit(0)).alias("carry_in"),
    )
    return (
        within.join(F.broadcast(carry), "day_idx")
        .groupBy("day_idx")
        .agg(
            F.min("carry_in").cast("bigint").alias("carry_in"),
            F.sum(F.when(F.col("delta") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_starts"),
            F.max(
                F.when(
                    F.col("delta") == 1, F.col("carry_in") + F.col("run_in_day")
                )
            )
            .cast("bigint")
            .alias("peak_concurrency"),
        )
        .select(
            F.col("day_idx").cast("bigint").alias("day_idx"),
            "carry_in",
            "n_starts",
            "peak_concurrency",
        )
        .orderBy("day_idx")
    )


# ---------------------------------------------------------------------------
# Exact weighted median (distributed-rank recipe)
# ---------------------------------------------------------------------------


@query(
    "q_bk_weighted_median",
    oracle="""
    WITH cells AS (
      SELECT l_returnflag, l_linestatus,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS wc
      FROM lineitem GROUP BY 1, 2, 3),
    cum AS (
      SELECT l_returnflag, l_linestatus, cents, wc,
             sum(wc) OVER (PARTITION BY l_returnflag, l_linestatus
                           ORDER BY cents
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cw,
             sum(wc) OVER (PARTITION BY l_returnflag, l_linestatus)
               AS w_total,
             sum(CAST(cents AS DECIMAL(38,0)) * wc)
               OVER (PARTITION BY l_returnflag, l_linestatus) AS swc
      FROM cells)
    SELECT l_returnflag, l_linestatus,
           CAST(min(w_total) AS BIGINT) AS total_weight,
           round(CAST(min(CASE WHEN 2 * cw >= w_total THEN cents END)
                      AS DOUBLE) / 100.0, 6) AS wmedian_price,
           round(CAST(min(swc) AS DOUBLE) / CAST(min(w_total) AS DOUBLE)
                 / 100.0, 6) AS wmean_price
    FROM cum GROUP BY 1, 2 ORDER BY l_returnflag, l_linestatus
    """,
)
def q_bk_weighted_median(spark, sf_dir):
    """EXACT WEIGHTED MEDIAN of extended price per (returnflag,
    linestatus), weighted by quantity (the lower weighted median:
    smallest value whose cumulative weight reaches half the total — the
    robust "typical unit price" where each line counts per unit sold,
    standard order-statistics definition). Reported next to the weighted
    mean, whose gap from the median is the skew readout.

    Scale shape: a TWO-PHASE crossing-bucket search, never a per-group
    window over the full cell table (a cumulative window partitioned 6
    ways over ~10^5 distinct prices per group is six single-task sorts
    — measured 42s at sf0.1; this plan runs the same data in ~4s).
    The (group, cents) grain is only ever aggregated INSIDE the one
    crossing bucket per group (~1% of rows).
    Phase 1 cumulates $1000-BUCKET subtotals (a ~10^2-rows-per-group
    frame) to locate each group's crossing bucket; phase 2 opens ONLY
    that bucket's cells (a semi-broadcast filter) and cumulates within
    it. Same exact integer arithmetic, bounded window frames at every
    step — the segmented-scan counterpart of the q_b8 percentile
    recipe. At 100 TB you widen/narrow the bucket stride, not the plan.
    """
    li = read_table(spark, sf_dir, "lineitem")
    raw = li.select(
        "l_returnflag",
        "l_linestatus",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
        F.col("l_quantity").cast("bigint").alias("w"),
    ).withColumn("bucket", F.expr("cents DIV 100000"))
    # Bucket subtotals come straight off the raw rows — a ~600-group
    # combinable aggregate; the (group, cents)-grain table (one group
    # per DISTINCT price — corpus-sized) is never materialized globally.
    bcell = raw.groupBy("l_returnflag", "l_linestatus", "bucket").agg(
        F.sum("w").cast("bigint").alias("bw"),
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("w")).alias("bswc"),
    )
    totals = bcell.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("bw").cast("bigint").alias("w_total"),
        F.sum("bswc").alias("swc"),
    )
    grp = Window.partitionBy("l_returnflag", "l_linestatus")
    bcum = bcell.withColumn(
        "cum_b",
        F.sum("bw").over(
            grp.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    # Crossing bucket per group: the first bucket whose cumulative
    # weight reaches W/2; prev_cum = weight strictly below it.
    crossing = (
        bcum.join(totals, ["l_returnflag", "l_linestatus"])
        .filter(2 * F.col("cum_b") >= F.col("w_total"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.min("bucket").alias("cb"))
        .join(
            bcum.select(
                "l_returnflag", "l_linestatus", "bucket", "bw", "cum_b"
            ),
            ["l_returnflag", "l_linestatus"],
        )
        .filter(F.col("bucket") == F.col("cb"))
        .select(
            F.col("l_returnflag").alias("x_rf"),
            F.col("l_linestatus").alias("x_ls"),
            "cb",
            (F.col("cum_b") - F.col("bw")).alias("prev_cum"),
        )
    )
    fine = (
        raw.join(
            F.broadcast(crossing),
            (raw.l_returnflag == F.col("x_rf"))
            & (raw.l_linestatus == F.col("x_ls"))
            & (raw.bucket == F.col("cb")),
        )
        .groupBy("l_returnflag", "l_linestatus", "cents")
        .agg(
            F.sum("w").cast("bigint").alias("wc"),
            F.min("prev_cum").alias("prev_cum"),
        )
    )
    cumf = fine.withColumn(
        "cw",
        F.col("prev_cum")
        + F.sum("wc").over(
            grp.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    med = (
        cumf.join(totals, ["l_returnflag", "l_linestatus"])
        .filter(2 * F.col("cw") >= F.col("w_total"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.min("cents").alias("med_cents"))
    )
    return (
        totals.join(med, ["l_returnflag", "l_linestatus"])
        .select(
            "l_returnflag",
            "l_linestatus",
            F.col("w_total").alias("total_weight"),
            F.round(F.col("med_cents").cast("double") / 100.0, 6).alias(
                "wmedian_price"
            ),
            F.round(
                F.col("swc").cast("double") / F.col("w_total").cast("double")
                / 100.0,
                6,
            ).alias("wmean_price"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# Kendall tau-b (tie-corrected rank correlation)
# ---------------------------------------------------------------------------

#: Shared-text tau-b close: (C - D) / sqrt((n0-n1)(n0-n2)) with every
#: input an exact BIGINT; degenerate (all-tied) marginals -> NULL via
#: nullif, never a divide-by-zero.
_KT_EXPR = (
    "round(CAST(cd AS DOUBLE)"
    " / (sqrt(nullif(CAST(n0 - n1 AS DOUBLE), 0.0))"
    " * sqrt(nullif(CAST(n0 - n2 AS DOUBLE), 0.0))), 6)"
)


@query(
    "q_bl_kendall_tau",
    oracle=f"""
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS day,
             CAST(count(*) AS BIGINT) AS x,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS y
      FROM orders GROUP BY 1),
    pairs AS (
      SELECT CAST(SUM((CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1
                            ELSE 0 END)
                    * (CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1
                            ELSE 0 END)) AS BIGINT) AS cd
      FROM daily a JOIN daily b ON b.day > a.day),
    tx AS (
      SELECT CAST(COALESCE(SUM(t * (t - 1) // 2), 0) AS BIGINT) AS n1
      FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM daily
            GROUP BY x HAVING count(*) > 1)),
    ty AS (
      SELECT CAST(COALESCE(SUM(t * (t - 1) // 2), 0) AS BIGINT) AS n2
      FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM daily
            GROUP BY y HAVING count(*) > 1)),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
    m AS (
      SELECT nn.n, pairs.cd, nn.n * (nn.n - 1) // 2 AS n0, tx.n1, ty.n2
      FROM pairs CROSS JOIN tx CROSS JOIN ty CROSS JOIN nn)
    SELECT n AS n_days, cd AS concordant_minus_discordant,
           n1 AS ties_x, n2 AS ties_y, {_KT_EXPR} AS tau_b
    FROM m
    """,
)
def q_bl_kendall_tau(spark, sf_dir):
    """KENDALL TAU-B between daily order count and daily revenue — the
    tie-corrected concordance rank correlation tau_b = (C - D) /
    sqrt((n0-n1)(n0-n2)) (Kendall 1945, public; the nonparametric
    complement to q_zr's Spearman rho and the correlation underneath
    q_zn's Mann-Kendall S, here between two observed series instead of
    series-vs-time). C - D, the pair counts and both tie corrections are
    exact integers; the only double is the one shared-text closing
    division, so both engines agree bit-for-bit.

    Scale shape: the corpus collapses to ONE calendar-bounded daily
    aggregate (~2.4k rows at any sf — day count grows with the calendar,
    not the data); the O(days^2) concordance pair join runs on that
    bounded frame with the small side broadcast (the q_zn
    documented-and-contained contract). At 100 TB the daily rollup is
    still the only full-scan stage.
    """
    o = read_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.date_trunc("day", "o_orderdate").alias("day")).agg(
        F.count("*").cast("bigint").alias("x"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("y"),
    )
    a = daily.alias("a")
    b = daily.alias("b")
    sgn_x = (
        F.when(F.col("b.x") > F.col("a.x"), 1)
        .when(F.col("b.x") < F.col("a.x"), -1)
        .otherwise(0)
    )
    sgn_y = (
        F.when(F.col("b.y") > F.col("a.y"), 1)
        .when(F.col("b.y") < F.col("a.y"), -1)
        .otherwise(0)
    )
    pairs = (
        b.join(F.broadcast(a), F.col("b.day") > F.col("a.day"))
        .agg(F.sum(sgn_x * sgn_y).cast("bigint").alias("cd"))
    )
    tie18 = lambda col: (  # noqa: E731 — tie-pair count Σ t(t-1)/2
        daily.groupBy(col)
        .agg(F.count("*").cast("bigint").alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(F.sum(F.expr("t * (t - 1) DIV 2")), F.lit(0))
            .cast("bigint")
            .alias("tie_pairs")
        )
    )
    tx = tie18("x").withColumnRenamed("tie_pairs", "n1")
    ty = tie18("y").withColumnRenamed("tie_pairs", "n2")
    nn = daily.agg(F.count("*").cast("bigint").alias("n"))
    m = (
        pairs.crossJoin(F.broadcast(tx))
        .crossJoin(F.broadcast(ty))
        .crossJoin(F.broadcast(nn))
        .withColumn("n0", F.expr("n * (n - 1) DIV 2"))
    )
    return m.select(
        F.col("n").alias("n_days"),
        F.col("cd").alias("concordant_minus_discordant"),
        F.col("n1").alias("ties_x"),
        F.col("n2").alias("ties_y"),
        F.expr(_KT_EXPR).alias("tau_b"),
    )


# ---------------------------------------------------------------------------
# Nelson-Aalen cumulative hazard (life-table twin of q_yt)
# ---------------------------------------------------------------------------

#: Shared-text per-duration hazard increment and its variance term
#: (Nelson 1972 / Aalen 1978): d/n and d/n^2 on exact integer inputs.
_NA_H_TERM = "CAST(n_deaths AS DOUBLE) / CAST(at_risk AS DOUBLE)"
_NA_V_TERM = (
    "CAST(n_deaths AS DOUBLE)"
    " / (CAST(at_risk AS DOUBLE) * CAST(at_risk AS DOUBLE))"
)


# Nelson-Aalen cumulative hazard, its variance and exp(-H) on q_yt's life
# table; a window adds the increments in duration order on both engines.
sql_query(
    "q_bm_nelson_aalen",
    f"""
    WITH life AS (
      SELECT o_custkey,
             CAST(CAST(max(o_orderdate) AS DATE) - CAST(min(o_orderdate) AS DATE)
                  AS BIGINT) AS dur,
             CASE WHEN max(o_orderdate) < TIMESTAMP '{KM_CUTOFF}'
                  THEN 1 ELSE 0 END AS observed
      FROM orders GROUP BY o_custkey),
    tot AS (SELECT count(*) AS n FROM life),
    per_d AS (
      SELECT dur, count(*) AS n_all, sum(observed) AS n_deaths
      FROM life GROUP BY dur),
    risk AS (
      SELECT dur, n_all, n_deaths,
             (SELECT n FROM tot)
               - coalesce(sum(n_all) OVER (ORDER BY dur
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS at_risk
      FROM per_d),
    na AS (
      SELECT dur, n_deaths, at_risk,
             sum({_NA_H_TERM}) OVER (ORDER BY dur
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS h,
             sum({_NA_V_TERM}) OVER (ORDER BY dur
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v
      FROM risk)
    SELECT CAST(dur AS BIGINT) AS duration_days,
           CAST(n_deaths AS BIGINT) AS n_churned,
           CAST(at_risk AS BIGINT) AS at_risk,
           round(h, 6) AS cum_hazard,
           round(v, 6) AS hazard_var,
           round(exp(-h), 6) AS na_survival
    FROM na WHERE n_deaths > 0 ORDER BY duration_days
    """,
)


# ---------------------------------------------------------------------------
# Fellegi-Sunter record-linkage scoring (blocked pairwise comparison)
# ---------------------------------------------------------------------------

#: Agreement/disagreement log-likelihood weights ln(m/u) and
#: ln((1-m)/(1-u)) in integer MICRO-NATS (exact integers, so the score
#: algebra and the threshold classification are float-free on both
#: engines). Field model — segment: m=0.95/u=0.20; balance-within-$50:
#: m=0.90/u=0.05; id-checksum-digit: m=0.85/u=0.10.
_FS_SEG_A, _FS_SEG_D = 1_558_145, -2_772_589
_FS_BAL_A, _FS_BAL_D = 2_890_372, -2_251_292
_FS_DIG_A, _FS_DIG_D = 2_140_066, -1_791_759

#: Upper/lower Fellegi-Sunter decision thresholds in micro-nats.
_FS_UPPER, _FS_LOWER = 3_000_000, 0

#: Blocking key: $1000 account-balance bucket, offset so the bucket
#: division never sees a negative operand (acctbal >= -999.99 so
#: cents + 100000 >= 1).
_FS_BUCKET = "CAST(floor((cents + 100000) / 100000) AS BIGINT)"


# Fellegi-Sunter record linkage: customer pairs blocked on (nation, $1000
# balance bucket), scored by summed per-field weights in integer micro-nats.
sql_query(
    "q_bn_fellegi_sunter",
    f"""
    WITH c AS (
      SELECT c_custkey, c_nationkey, c_mktsegment,
             CAST(round(c_acctbal * 100) AS BIGINT) AS cents
      FROM customer),
    blocked AS (
      SELECT c_custkey, c_nationkey, c_mktsegment, cents,
             {_FS_BUCKET} AS bucket
      FROM c),
    pairs AS (
      SELECT CASE WHEN a.c_mktsegment = b.c_mktsegment THEN 1 ELSE 0 END
               AS seg_eq,
             CASE WHEN abs(a.cents - b.cents) <= 5000 THEN 1 ELSE 0 END
               AS bal_eq,
             CASE WHEN a.c_custkey % 10 = b.c_custkey % 10 THEN 1 ELSE 0 END
               AS dig_eq
      FROM blocked a JOIN blocked b
        ON a.c_nationkey = b.c_nationkey AND a.bucket = b.bucket
       AND a.c_custkey < b.c_custkey),
    scored AS (
      SELECT concat(CAST(seg_eq AS STRING), CAST(bal_eq AS STRING),
                    CAST(dig_eq AS STRING)) AS pattern,
             CAST(CASE WHEN seg_eq = 1 THEN {_FS_SEG_A}
                       ELSE {_FS_SEG_D} END
                + CASE WHEN bal_eq = 1 THEN {_FS_BAL_A}
                       ELSE {_FS_BAL_D} END
                + CASE WHEN dig_eq = 1 THEN {_FS_DIG_A}
                       ELSE {_FS_DIG_D} END AS BIGINT) AS score_micros
      FROM pairs)
    SELECT pattern, CAST(count(*) AS BIGINT) AS n_pairs,
           min(score_micros) AS score_micros,
           CASE WHEN min(score_micros) >= {_FS_UPPER} THEN 'match'
                WHEN min(score_micros) >= {_FS_LOWER} THEN 'possible'
                ELSE 'nonmatch' END AS decision
    FROM scored GROUP BY pattern ORDER BY pattern
    """,
)


# ---------------------------------------------------------------------------
# VWAP / TWAP price benchmarks (execution-quality readout)
# ---------------------------------------------------------------------------

#: Shared-text per-fill unit price in integer MICRO-dollars:
#: extendedprice is qty * unit price, so unit micros = cents * 1e4 / qty,
#: rounded once to an exact BIGINT both engines then sum exactly.
_VW_UNIT_MICROS = (
    "CAST(round(CAST(cents AS DOUBLE) * 10000.0 / CAST(qty AS DOUBLE))"
    " AS BIGINT)"
)


# VWAP and TWAP per ship week; unit prices round once into integer
# micro-dollars, so only the four closing divisions are doubles.
sql_query(
    "q_bo_vwap",
    f"""
    WITH fills AS (
      SELECT CAST(date_trunc('week', l_shipdate) AS DATE) AS week,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
             CAST(l_quantity AS BIGINT) AS qty
      FROM lineitem),
    u AS (
      SELECT week, cents, qty, {_VW_UNIT_MICROS} AS unit_micros
      FROM fills)
    SELECT week,
           CAST(count(*) AS BIGINT) AS n_fills,
           CAST(sum(qty) AS BIGINT) AS volume,
           round(CAST(sum(cents) AS DOUBLE)
                 / CAST(sum(qty) AS DOUBLE) / 100.0, 6) AS vwap,
           round(CAST(sum(unit_micros) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE) / 1000000.0, 6) AS twap,
           round(CAST(min(unit_micros) AS DOUBLE) / 1000000.0, 6) AS low,
           round(CAST(max(unit_micros) AS DOUBLE) / 1000000.0, 6) AS high
    FROM u GROUP BY week ORDER BY week
    """,
)


# ---------------------------------------------------------------------------
# Simpson's-paradox audit (pooled vs stratum-adjusted effect)
# ---------------------------------------------------------------------------

#: The two customer segments compared and the "positive outcome"
#: predicate (urgent-or-high order priority).
_SP_SEG_A, _SP_SEG_B = "BUILDING", "MACHINERY"
_SP_POS = "o_orderpriority IN ('1-URGENT', '2-HIGH')"

#: Shared-text pooled and Cochran-Mantel-Haenszel-weighted rate
#: differences from exact per-stratum integer counts (na/ka = segment-A
#: trials/positives in the stratum, wa = na*nb/(na+nb) the MH weight).
_SP_POOLED = (
    "CAST(sum(ka) AS DOUBLE) / CAST(sum(na) AS DOUBLE)"
    " - CAST(sum(kb) AS DOUBLE) / CAST(sum(nb) AS DOUBLE)"
)
_SP_MH = (
    "sum((CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)"
    " / CAST(na + nb AS DOUBLE))"
    " * (CAST(ka AS DOUBLE) / CAST(na AS DOUBLE)"
    " - CAST(kb AS DOUBLE) / CAST(nb AS DOUBLE)))"
    " / sum(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)"
    " / CAST(na + nb AS DOUBLE))"
)


# Simpson's-paradox audit: pooled urgent-rate difference vs the
# Cochran-Mantel-Haenszel difference across nations. The MH double sums
# run over 25 well-conditioned stratum terms; 6dp rounding absorbs order.
sql_query(
    "q_bp_simpson",
    f"""
    WITH base AS (
      SELECT c_nationkey AS stratum, c_mktsegment AS seg,
             CASE WHEN {_SP_POS} THEN 1 ELSE 0 END AS pos
      FROM orders JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment IN ('{_SP_SEG_A}', '{_SP_SEG_B}')),
    cell AS (
      SELECT stratum,
             CAST(sum(CASE WHEN seg = '{_SP_SEG_A}' THEN 1 ELSE 0 END)
                  AS BIGINT) AS na,
             CAST(sum(CASE WHEN seg = '{_SP_SEG_A}' THEN pos ELSE 0 END)
                  AS BIGINT) AS ka,
             CAST(sum(CASE WHEN seg = '{_SP_SEG_B}' THEN 1 ELSE 0 END)
                  AS BIGINT) AS nb,
             CAST(sum(CASE WHEN seg = '{_SP_SEG_B}' THEN pos ELSE 0 END)
                  AS BIGINT) AS kb
      FROM base GROUP BY stratum
      HAVING sum(CASE WHEN seg = '{_SP_SEG_A}' THEN 1 ELSE 0 END) > 0
         AND sum(CASE WHEN seg = '{_SP_SEG_B}' THEN 1 ELSE 0 END) > 0),
    ordered AS (
      SELECT *, row_number() OVER (ORDER BY stratum) AS rn FROM cell),
    acc AS (
      SELECT CAST(count(*) AS BIGINT) AS n_strata,
             CAST(sum(na) AS BIGINT) AS n_a, CAST(sum(kb) AS BIGINT) AS k_b,
             CAST(sum(nb) AS BIGINT) AS n_b, CAST(sum(ka) AS BIGINT) AS k_a,
             {_SP_POOLED} AS pooled_diff, {_SP_MH} AS mh_diff
      FROM ordered)
    SELECT n_strata, n_a, k_a, n_b, k_b,
           round(pooled_diff, 6) AS pooled_diff,
           round(mh_diff, 6) AS mh_diff,
           CAST(CASE WHEN pooled_diff * mh_diff < 0 THEN 1 ELSE 0 END
                AS INT) AS sign_reversed
    FROM acc
    """,
)


# ---------------------------------------------------------------------------
# Brier score with Murphy decomposition (forecast-calibration audit)
# ---------------------------------------------------------------------------

#: Deterministic synthetic forecast in integer PERCENT (0-99): a pure
#: function of the order key so both engines derive identical
#: (forecast, outcome) pairs from the shared fixture. Outcome = the
#: order shipped urgent-or-high priority.
_BR_FP = "CAST(o_orderkey % 100 AS BIGINT)"
_BR_Y = "CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END"

#: Shared-text per-bin reliability / resolution terms. Exact-integer
#: identity: n_k*(f̄_k - ȳ_k)^2 = (Σfp_k - 100Σy_k)^2 / (10000 n_k),
#: and n_k*(ȳ_k - ȳ)^2 = (N Σy_k - n_k K)^2 / (n_k N^2) with K = Σy
#: global — every numerator an exact BIGINT product, ONE division per
#: term.
_BR_REL_TERM = (
    "CAST((sfp - 100 * sy) * (sfp - 100 * sy) AS DOUBLE)"
    " / (10000.0 * CAST(nk AS DOUBLE))"
)
_BR_RES_TERM = (
    "CAST((nn * sy - nk * kk) * (nn * sy - nk * kk) AS DOUBLE)"
    " / (CAST(nk AS DOUBLE) * CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE))"
)


# Brier score with Murphy's reliability / resolution / uncertainty split over
# 10 forecast bins; an ordered window sums the per-bin double terms.
sql_query(
    "q_bq_brier",
    f"""
    WITH base AS (
      SELECT {_BR_FP} AS fp, {_BR_Y} AS y FROM orders),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS nn, CAST(sum(y) AS BIGINT) AS kk,
             CAST(sum((fp - 100 * y) * (fp - 100 * y)) AS BIGINT) AS sq
      FROM base),
    bins AS (
      SELECT CAST(floor(fp / 10) AS BIGINT) AS bin, CAST(count(*) AS BIGINT) AS nk,
             CAST(sum(fp) AS BIGINT) AS sfp, CAST(sum(y) AS BIGINT) AS sy
      FROM base GROUP BY CAST(floor(fp / 10) AS BIGINT)),
    terms AS (
      SELECT bin, nk, sfp, sy, nn, kk, sq,
             {_BR_REL_TERM} AS rel_term, {_BR_RES_TERM} AS res_term
      FROM bins CROSS JOIN tot),
    cum AS (
      SELECT bin, nn, kk, sq,
             sum(rel_term) OVER (ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rel_sum,
             sum(res_term) OVER (ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS res_sum,
             row_number() OVER (ORDER BY bin DESC) AS rn
      FROM terms)
    SELECT nn AS n, kk AS n_events,
           round(CAST(sq AS DOUBLE) / (10000.0 * CAST(nn AS DOUBLE)), 6)
             AS brier,
           round(rel_sum / CAST(nn AS DOUBLE), 6) AS reliability,
           round(res_sum / CAST(nn AS DOUBLE), 6) AS resolution,
           round((CAST(kk AS DOUBLE) / CAST(nn AS DOUBLE))
                 * (1.0 - CAST(kk AS DOUBLE) / CAST(nn AS DOUBLE)), 6)
             AS uncertainty
    FROM cum WHERE rn = 1
    """,
)


# ---------------------------------------------------------------------------
# Seasonal-naive forecast evaluation (MASE / sMAPE)
# ---------------------------------------------------------------------------

#: Shared-text closes on exact integer absolute-error sums: MASE is the
#: seasonal-naive MAE over the one-step-naive MAE (scale-free), sMAPE
#: the symmetric percentage form.
_MASE_EXPR = (
    "round(CAST(sae7 AS DOUBLE) / CAST(n7 AS DOUBLE)"
    " / nullif(CAST(sae1 AS DOUBLE) / CAST(n1 AS DOUBLE), 0.0), 6)"
)
_SMAPE_EXPR = (
    "round(CAST(2 * sae7 AS DOUBLE) / nullif(CAST(ssum7 AS DOUBLE), 0.0), 6)"
)


# MASE and sMAPE of the weekly seasonal-naive revenue forecast; days align by
# an equi-join on the day index, so calendar gaps cannot misalign them.
sql_query(
    "q_bs_mase",
    f"""
    WITH daily AS (
      SELECT CAST(CAST(date_trunc('day', o_orderdate) AS DATE)
                  - CAST((SELECT min(date_trunc('day', o_orderdate)) FROM orders)
                         AS DATE) AS BIGINT) AS day_idx,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1),
    season AS (
      SELECT a.day_idx, abs(a.cents - b.cents) AS ae7,
             a.cents + b.cents AS s7
      FROM daily a JOIN daily b ON b.day_idx = a.day_idx - 7),
    naive AS (
      SELECT a.day_idx, abs(a.cents - b.cents) AS ae1
      FROM daily a JOIN daily b ON b.day_idx = a.day_idx - 1),
    agg AS (
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM season) AS n7,
             (SELECT CAST(sum(ae7) AS BIGINT) FROM season) AS sae7,
             (SELECT CAST(sum(s7) AS BIGINT) FROM season) AS ssum7,
             (SELECT CAST(count(*) AS BIGINT) FROM naive) AS n1,
             (SELECT CAST(sum(ae1) AS BIGINT) FROM naive) AS sae1)
    SELECT n7 AS n_scored, sae7 AS seasonal_abs_err_cents,
           n1 AS n_naive, sae1 AS naive_abs_err_cents,
           {_MASE_EXPR} AS mase, {_SMAPE_EXPR} AS smape
    FROM agg
    """,
)


# ---------------------------------------------------------------------------
# Deterministic negative sampling (training-pair generation)
# ---------------------------------------------------------------------------

#: Number of hash retries before a pair is declared unresolved. Three
#: tries leave P(all collide) ~= (density)^3 — at TPC-H interaction
#: density (<1%), effectively zero.
_NS_TRIES = 3


@query(
    "q_bu_negative_sampling",
    oracle=f"""
    WITH inter AS (
      SELECT DISTINCT o_custkey AS user_id, l_partkey AS item_id
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    np AS (SELECT max(p_partkey) AS n_items FROM part),
    cands AS (
      SELECT i.user_id, i.item_id, t.try_no,
             1 + ('0x' || substr(md5(CAST(i.user_id AS VARCHAR) || ':'
                    || CAST(i.item_id AS VARCHAR) || ':'
                    || CAST(t.try_no AS VARCHAR)), 1, 8))::BIGINT
                 % (SELECT n_items FROM np) AS cand
      FROM inter i CROSS JOIN
        (SELECT UNNEST(generate_series(1, {_NS_TRIES})) AS try_no) t),
    misses AS (
      SELECT c.user_id, c.item_id, c.try_no
      FROM cands c LEFT JOIN inter x
        ON c.user_id = x.user_id AND c.cand = x.item_id
      WHERE x.item_id IS NULL),
    resolved AS (
      SELECT user_id, item_id, min(try_no) AS try_used
      FROM misses GROUP BY user_id, item_id),
    tallies AS (
      SELECT try_used, count(*) AS n FROM resolved GROUP BY try_used
      UNION ALL
      SELECT 0 AS try_used,
             (SELECT count(*) FROM inter) - (SELECT count(*) FROM resolved)
        AS n)
    SELECT CAST(try_used AS INT) AS try_used, CAST(n AS BIGINT) AS n_pairs
    FROM tallies WHERE n > 0 OR try_used = 0 ORDER BY try_used
    """,
)
def q_bu_negative_sampling(spark, sf_dir):
    """DETERMINISTIC NEGATIVE SAMPLING for training-pair generation —
    the recsys/contrastive-learning data-prep step: for every observed
    (user, item) interaction, draw a pseudo-random candidate item from
    md5(user:item:try) (portable hash — identical bytes on both
    engines, the q_xx/q_ye recipe), verify it is NOT an interaction of
    that user by an anti-join, and retry up to {_NS_TRIES} times.
    Output is the resolution tally (how many pairs resolved at try 1 /
    2 / 3, how many exhausted all tries — try_used=0), which
    value-checks the whole pipeline: hashing, the rejection anti-join,
    and the min-try selection.

    Scale shape: interactions reduce to one DISTINCT digest-width
    shuffle; candidates are a map-side explode (x{_NS_TRIES}); the
    rejection check is ONE equi-join on (user, candidate) against the
    interaction set — the same shuffle key as the distinct, so AQE can
    reuse the partitioning. No randomness API, no driver loop: re-runs
    are bit-identical, which is what makes training data auditable. At
    100 TB the try multiplier is the only fan-out and it's constant.
    """
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    inter = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("user_id"), F.col("l_partkey").alias("item_id")
        )
        .distinct()
        # The interaction set feeds three consumers (candidate explode,
        # rejection join, the unresolved tally); runtime exchange reuse
        # deduplicates the join+distinct subplan, so no checkpoint — an
        # eager localCheckpoint was measured SLOWER (20s vs 14s per
        # bench run at sf0.1), the q_yr lesson again.
    )
    n_items = read_table(spark, sf_dir, "part").agg(
        F.max("p_partkey").alias("n_items")
    )
    tries = spark.range(1, _NS_TRIES + 1).select(
        F.col("id").cast("int").alias("try_no")
    )
    cands = (
        inter.crossJoin(F.broadcast(tries))
        .crossJoin(F.broadcast(n_items))
        .select(
            "user_id",
            "item_id",
            "try_no",
            (
                1
                + F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                ":",
                                F.col("user_id").cast("string"),
                                F.col("item_id").cast("string"),
                                F.col("try_no").cast("string"),
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("bigint")
                % F.col("n_items")
            ).alias("cand"),
        )
    )
    x = inter.select(
        F.col("user_id").alias("x_user"), F.col("item_id").alias("x_item")
    )
    misses = cands.join(
        x,
        (cands.user_id == x.x_user) & (cands.cand == x.x_item),
        "left",
    ).filter(F.col("x_item").isNull())
    resolved = misses.groupBy("user_id", "item_id").agg(
        F.min("try_no").alias("try_used")
    )
    tallies = resolved.groupBy("try_used").agg(
        F.count("*").cast("bigint").alias("n_pairs")
    )
    n_inter = inter.agg(F.count("*").alias("n_inter"))
    n_res = resolved.agg(F.count("*").alias("n_res"))
    unresolved = n_inter.crossJoin(F.broadcast(n_res)).select(
        F.lit(0).alias("try_used"),
        (F.col("n_inter") - F.col("n_res")).cast("bigint").alias("n_pairs"),
    )
    return (
        tallies.unionByName(unresolved)
        .filter((F.col("n_pairs") > 0) | (F.col("try_used") == 0))
        .select(F.col("try_used").cast("int").alias("try_used"), "n_pairs")
        .orderBy("try_used")
    )


# ---------------------------------------------------------------------------
# Shuffle-skew advisor (join-key distribution diagnosis)
# ---------------------------------------------------------------------------

_SKEW_TOPK = 10


# Join-key skew profile of a skew-folded supplier key: the top _SKEW_TOPK
# keys with row share and ratio to the average key.
sql_query(
    "q_bv_skew_advisor",
    f"""
    WITH keyed AS (
      SELECT l_suppkey % 100 AS join_key, count(*) AS cnt
      FROM lineitem GROUP BY 1),
    tot AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
             CAST(count(*) AS BIGINT) AS n_keys
      FROM keyed),
    top AS (
      SELECT join_key, cnt,
             row_number() OVER (ORDER BY cnt DESC, join_key) AS rnk
      FROM keyed)
    SELECT CAST(rnk AS INT) AS rnk, CAST(join_key AS BIGINT) AS join_key,
           CAST(cnt AS BIGINT) AS cnt,
           round(CAST(cnt AS DOUBLE) / CAST(n_rows AS DOUBLE), 6) AS share,
           round(CAST(cnt AS DOUBLE) * CAST(n_keys AS DOUBLE)
                 / CAST(n_rows AS DOUBLE), 6) AS ratio_to_avg,
           n_rows, n_keys
    FROM top CROSS JOIN tot
    WHERE rnk <= {_SKEW_TOPK}
    ORDER BY rnk
    """,
)


# ---------------------------------------------------------------------------
# PCA spectrum (distributed moments + driver eigendecomposition)
# ---------------------------------------------------------------------------


@query("q_bw_pca")
def q_bw_pca(spark, sf_dir):
    """PCA COMPONENT SPECTRUM of the embedding corpus — top-8
    eigenvalues, explained-variance ratios, cumulative EVR and dominant
    input dimension per component (the scree-plot table behind every
    dimensionality-reduction decision; operators/pca.py). Rows-only BY
    DESIGN: the eigendecomposition is a driver-side float computation
    DuckDB cannot mirror; determinism is enforced by the sign-fix
    contract and golden-tested against a single-node numpy PCA on the
    same vectors (tests/test_pca.py).

    Scale shape: ONE Arrow-batched mapInPandas pass emits (count, sum,
    Gram) partials — a float64 matmul per record batch, bounded
    driver-side state (one tiny row per batch, 1+d+d^2 doubles) — then
    the d x d eigenproblem is O(d^3) scalar work on the driver and the
    (unused here) projection is a broadcast matmul. The same
    moments-then-solve layout as MLlib's RowMatrix PCA. At 100 TB only
    stage 1 touches data.
    """
    from ..operators.pca import pca_spectrum

    emb = read_table(spark, sf_dir, "embeddings")
    return pca_spectrum(emb)


# ---------------------------------------------------------------------------
# Sequential probability ratio test (Wald SPRT over a daily stream)
# ---------------------------------------------------------------------------

#: Bernoulli SPRT design: H0 p=0.03 vs H1 p=0.06 on the high-value
#: purchase rate; alpha = beta = 0.05. Per-trial log-likelihood-ratio
#: increments in integer MICRO-NATS (success: ln(p1/p0), failure:
#: ln(q1/q0)) so the cumulative LLR and both Wald boundaries
#: ln((1-b)/a) / ln(b/(1-a)) are exact integers — the stop decision is
#: float-free on both engines.
_SPRT_W_SUCC = 693_147  # ln(0.06/0.03) in micro-nats
_SPRT_W_FAIL = -31_416  # ln(0.94/0.97) in micro-nats
_SPRT_UPPER = 2_944_439  # ln(0.95/0.05)
_SPRT_LOWER = -2_944_439  # ln(0.05/0.95)
_SPRT_SUCCESS = "value >= 150"


@query(
    "q_bx_sprt",
    oracle=f"""
    WITH trials AS (
      SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day_idx,
             CASE WHEN {_SPRT_SUCCESS} THEN 1 ELSE 0 END AS succ
      FROM events WHERE event_type = 'purchase'),
    daily AS (
      SELECT day_idx, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(succ) AS BIGINT) AS k
      FROM trials GROUP BY day_idx),
    cum AS (
      SELECT day_idx,
             sum(n) OVER (ORDER BY day_idx) AS cum_n,
             sum(k) OVER (ORDER BY day_idx) AS cum_k
      FROM daily),
    llr AS (
      SELECT day_idx, cum_n, cum_k,
             cum_k * {_SPRT_W_SUCC}
               + (cum_n - cum_k) * {_SPRT_W_FAIL} AS llr_micros
      FROM cum),
    crossed AS (
      SELECT *, min(CASE WHEN llr_micros >= {_SPRT_UPPER}
                           OR llr_micros <= {_SPRT_LOWER}
                         THEN day_idx END) OVER () AS first_cross
      FROM llr)
    SELECT CAST(day_idx AS BIGINT) AS day_idx,
           CAST(cum_n AS BIGINT) AS cum_trials,
           CAST(cum_k AS BIGINT) AS cum_successes,
           CAST(llr_micros AS BIGINT) AS llr_micros,
           CASE WHEN first_cross IS NULL OR day_idx < first_cross
                  THEN 'continue'
                WHEN llr_micros >= {_SPRT_UPPER} AND day_idx = first_cross
                  THEN 'accept_h1'
                WHEN llr_micros <= {_SPRT_LOWER} AND day_idx = first_cross
                  THEN 'accept_h0'
                ELSE 'stopped' END AS decision
    FROM crossed ORDER BY day_idx
    """,
)
def q_bx_sprt(spark, sf_dir):
    """WALD SPRT (sequential probability ratio test, Wald 1945 —
    public; the always-valid-inference primitive under every modern
    sequential A/B platform): daily cumulative log-likelihood ratio for
    H0 p=0.03 vs H1 p=0.06 on the high-value purchase rate, with the
    Wald stop boundaries. Per-trial LLR increments are constants in
    exact integer micro-nats, so the cumulative statistic is an integer
    linear form k*w1 + (n-k)*w0 and the crossing decision — including
    WHICH day first crosses — is integer arithmetic on both engines;
    days after the first crossing are labeled 'stopped' (a real
    sequential test would halt there; the full trace is emitted for
    audit).

    Scale shape: one map-side-combinable daily aggregate over the scan;
    cumulative and first-crossing windows run on the calendar-bounded
    daily frame (30 rows). 100 TB = one scan + constant tail.
    """
    ev = read_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    daily = ev.select(
        (F.unix_micros(F.col("ts").cast("timestamp")) / _US_PER_DAY)
        .cast("bigint")
        .alias("day_idx"),
        F.expr(f"CASE WHEN {_SPRT_SUCCESS} THEN 1 ELSE 0 END").alias("succ"),
    ).groupBy("day_idx").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("succ").cast("bigint").alias("k"),
    )
    w_cum = Window.orderBy("day_idx").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = daily.select(
        "day_idx",
        F.sum("n").over(w_cum).alias("cum_n"),
        F.sum("k").over(w_cum).alias("cum_k"),
    ).withColumn(
        "llr_micros",
        F.col("cum_k") * _SPRT_W_SUCC + (F.col("cum_n") - F.col("cum_k")) * _SPRT_W_FAIL,
    )
    crossed = cum.withColumn(
        "first_cross",
        F.min(
            F.when(
                (F.col("llr_micros") >= _SPRT_UPPER)
                | (F.col("llr_micros") <= _SPRT_LOWER),
                F.col("day_idx"),
            )
        ).over(w_all),
    )
    return crossed.select(
        F.col("day_idx").cast("bigint").alias("day_idx"),
        F.col("cum_n").cast("bigint").alias("cum_trials"),
        F.col("cum_k").cast("bigint").alias("cum_successes"),
        F.col("llr_micros").cast("bigint").alias("llr_micros"),
        F.when(
            F.col("first_cross").isNull()
            | (F.col("day_idx") < F.col("first_cross")),
            "continue",
        )
        .when(
            (F.col("llr_micros") >= _SPRT_UPPER)
            & (F.col("day_idx") == F.col("first_cross")),
            "accept_h1",
        )
        .when(
            (F.col("llr_micros") <= _SPRT_LOWER)
            & (F.col("day_idx") == F.col("first_cross")),
            "accept_h0",
        )
        .otherwise("stopped")
        .alias("decision"),
    ).orderBy("day_idx")


# ---------------------------------------------------------------------------
# Time-bounded funnel (view -> purchase within 24h)
# ---------------------------------------------------------------------------

_TF_WINDOW_US = 24 * 3_600_000_000


@query(
    "q_bz_timed_funnel",
    oracle=f"""
    WITH fv AS (
      SELECT user_id, min(epoch_us(CAST(ts AS TIMESTAMP))) AS fv_us
      FROM events WHERE event_type = 'view' AND user_id IS NOT NULL
      GROUP BY user_id),
    conv AS (
      SELECT f.user_id,
             min(epoch_us(CAST(e.ts AS TIMESTAMP)) - f.fv_us) AS delay_us
      FROM fv f JOIN events e
        ON e.user_id = f.user_id AND e.event_type = 'purchase'
       AND epoch_us(CAST(e.ts AS TIMESTAMP)) > f.fv_us
       AND epoch_us(CAST(e.ts AS TIMESTAMP)) <= f.fv_us + {_TF_WINDOW_US}
      GROUP BY f.user_id),
    tot AS (
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM fv) AS n_entered,
             (SELECT CAST(count(*) AS BIGINT) FROM conv) AS n_converted)
    SELECT CAST(delay_us // 3600000000 AS INT) AS delay_hour,
           CAST(count(*) AS BIGINT) AS n_users,
           min(n_entered) AS n_entered, min(n_converted) AS n_converted,
           round(CAST(min(n_converted) AS DOUBLE)
                 / CAST(min(n_entered) AS DOUBLE), 6) AS conversion_rate
    FROM conv CROSS JOIN tot
    GROUP BY delay_us // 3600000000
    ORDER BY delay_hour
    """,
)
def q_bz_timed_funnel(spark, sf_dir):
    """TIME-BOUNDED FUNNEL: view -> purchase WITHIN 24 HOURS of the
    user's first view, with the time-to-convert distribution by hour —
    the constrained-funnel semantics real product analytics needs
    (q_as's funnel counts ever-ordered steps; this one enforces the
    conversion window, which changes both the count and the readout).
    Delays are exact epoch-microsecond integers; the hour bucket is
    integer division; n_entered/n_converted ride along each row so the
    single result table carries the funnel summary and the histogram.

    Scale shape: first-view is one map-side-combinable per-user min;
    the window check is ONE equi-join on user_id with the time bounds
    as join-condition residuals (no interval fan-out — each purchase
    matches at most one first-view row), then a per-user min and an
    hour-grain rollup. At 100 TB: two combinable aggregates + one
    user-keyed join.
    """
    ev = read_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    fv = (
        ev.filter((F.col("event_type") == "view") & F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.min(us).alias("fv_us"))
    )
    pur = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), us.alias("p_us")
    )
    conv = (
        fv.join(
            pur,
            (F.col("p_user") == F.col("user_id"))
            & (F.col("p_us") > F.col("fv_us"))
            & (F.col("p_us") <= F.col("fv_us") + _TF_WINDOW_US),
        )
        .groupBy("user_id")
        .agg(F.min(F.col("p_us") - F.col("fv_us")).alias("delay_us"))
    )
    tot = fv.agg(F.count("*").cast("bigint").alias("n_entered")).crossJoin(
        conv.agg(F.count("*").cast("bigint").alias("n_converted"))
    )
    return (
        conv.crossJoin(F.broadcast(tot))
        .groupBy(
            F.expr("delay_us DIV 3600000000").cast("int").alias("delay_hour")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_users"),
            F.min("n_entered").alias("n_entered"),
            F.min("n_converted").alias("n_converted"),
            F.round(
                F.min("n_converted").cast("double")
                / F.min("n_entered").cast("double"),
                6,
            ).alias("conversion_rate"),
        )
        .orderBy("delay_hour")
    )


# ---------------------------------------------------------------------------
# Inventory replenishment simulation (capped running balance)
# ---------------------------------------------------------------------------


@query("q_by_inventory")
def q_by_inventory(spark, sf_dir):
    """INVENTORY (s, Q) REPLENISHMENT SIMULATION per part: daily demand
    from lineitem, reorder-point policy with lead time
    (operators/inventory.py) — the capped-running-balance recurrence
    (each day's stock depends on the previous day's POST-DECISION
    state) that no window function expresses, so it runs as the
    sanctioned Arrow-batched Python escape hatch: each item's
    calendar-bounded day series is collapsed JVM-side to sorted arrays
    and ONE ``mapInPandas`` pass walks the batched item rows (r14: the
    old per-item ``applyInPandas`` paid one Arrow group frame + pandas
    construction per item — ~20k groups — which WAS its 16.5s solo
    cost; same recurrence, same shuffled bytes, one Python row per
    item). Rows-only BY DESIGN (non-associative recurrence; DuckDB
    would need a recursive CTE per item) — the policy is golden- and
    hypothesis-tested against the pure-Python reference in
    tests/test_inventory.py.

    Scale shape: demand collapses to (item, day, qty) grain in one
    map-side-combinable shuffle BEFORE Python; each item row carries
    only its calendar-bounded series. At 100 TB items fan out across
    executors and no series outgrows the calendar.
    """
    from ..operators.inventory import simulate_inventory

    li = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("item_id"),
        F.expr(
            f"CAST(unix_micros(CAST(l_shipdate AS TIMESTAMP)) DIV {_US_PER_DAY}"
            " AS BIGINT)"
        ).alias("day_idx"),
        F.col("l_quantity").cast("bigint").alias("qty"),
    )
    return simulate_inventory(li).orderBy("item_id")


# ---------------------------------------------------------------------------
# Quantile normalization (exact percent-rank feature transform)
# ---------------------------------------------------------------------------


# Quantile normalization per priority: doubled midpoint ranks over 2(n+1) from
# cumulative cell counts, reported per (group, decile).
sql_query(
    "q_c8_quantile_norm",
    f"""
    WITH raw AS (
      SELECT o_orderpriority AS grp,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders),
    cells AS (
      SELECT grp, cents, CAST(count(*) AS BIGINT) AS cnt
      FROM raw GROUP BY grp, cents),
    cum AS (
      SELECT grp, cents, cnt,
             sum(cnt) OVER (PARTITION BY grp ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev,
             sum(cnt) OVER (PARTITION BY grp) AS n_tot
      FROM cells),
    ranked AS (
      SELECT grp, cnt, n_tot,
             2 * COALESCE(prev, 0) + cnt + 1 AS rank2
      FROM cum),
    binned AS (
      SELECT grp, cnt, n_tot, rank2,
             CAST(floor((10 * rank2) / (2 * (n_tot + 1))) AS BIGINT) AS decile
      FROM ranked)
    SELECT grp, CAST(decile AS INT) AS decile,
           CAST(sum(cnt) AS BIGINT) AS n_rows,
           round(CAST(sum(cnt * rank2) AS DOUBLE)
                 / (CAST(sum(cnt) AS DOUBLE)
                    * 2.0 * (CAST(min(n_tot) AS DOUBLE) + 1.0)), 6)
             AS mean_norm
    FROM binned GROUP BY grp, decile ORDER BY grp, decile
    """,
)


# ---------------------------------------------------------------------------
# Bloom-filter false-positive-rate audit
# ---------------------------------------------------------------------------

#: Filter geometry: m bits, k hash functions (portable md5-derived, the
#: q_xx/q_bu recipe). Membership set = small parts (p_size <= 10).
_BF_M = 4096
_BF_K = 3

#: Shared-text FPR models. Literals use e-notation (1e0, not 1.0):
#: Spark SQL types bare decimal literals as DECIMAL, so an all-literal
#: subexpression like 1.0 - 1.0/4096.0 runs in decimal arithmetic there
#: but double in DuckDB — a 1e-4 divergence that survives 6dp rounding
#: (observed on fpr_theory). e-notation forces DOUBLE on both engines.
_BF_FILL_EXPR = (
    f"round(pow(CAST(n_bits_set AS DOUBLE) / {_BF_M}e0, {_BF_K}e0), 6)"
)
_BF_THEORY_EXPR = (
    f"round(pow(1e0 - pow(1e0 - 1e0/{_BF_M}e0,"
    f" {_BF_K}e0 * CAST(n_members AS DOUBLE)), {_BF_K}e0), 6)"
)


def _bf_bit_duck(key_expr: str, i: int) -> str:
    return (
        f"('0x' || substr(md5(CAST({key_expr} AS VARCHAR) || ':{i}'), 1, 8))"
        f"::BIGINT % {_BF_M}"
    )


def _bf_bit_spark(key_col, i: int):
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(key_col.cast("string"), F.lit(f":{i}"))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        % _BF_M
    )


@query(
    "q_c9_bloom_audit",
    oracle=f"""
    WITH members AS (
      SELECT p_partkey FROM part WHERE p_size <= 10),
    probes AS (
      SELECT p_partkey FROM part WHERE p_size > 10),
    bits AS (
      SELECT DISTINCT b FROM members, (VALUES {", ".join(f"({i})" for i in range(_BF_K))}) t(i),
      LATERAL (SELECT CASE i {" ".join(
        f"WHEN {i} THEN {_bf_bit_duck('p_partkey', i)}" for i in range(_BF_K))}
               END AS b) x),
    probe_hits AS (
      SELECT p.p_partkey,
             CAST(count(*) AS BIGINT) AS hits
      FROM probes p, (VALUES {", ".join(f"({i})" for i in range(_BF_K))}) t(i),
      LATERAL (SELECT CASE i {" ".join(
        f"WHEN {i} THEN {_bf_bit_duck('p.p_partkey', i)}" for i in range(_BF_K))}
               END AS b) x
      WHERE x.b IN (SELECT b FROM bits)
      GROUP BY p.p_partkey),
    acc AS (
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM members) AS n_members,
             (SELECT CAST(count(*) AS BIGINT) FROM bits) AS n_bits_set,
             (SELECT CAST(count(*) AS BIGINT) FROM probes) AS n_probes,
             (SELECT CAST(count(*) AS BIGINT) FROM probe_hits
              WHERE hits = {_BF_K}) AS n_false_pos)
    SELECT n_members, n_bits_set, n_probes, n_false_pos,
           round(CAST(n_false_pos AS DOUBLE) / CAST(n_probes AS DOUBLE), 6)
             AS fpr_observed,
           {_BF_FILL_EXPR} AS fpr_fill_model,
           {_BF_THEORY_EXPR} AS fpr_theory
    FROM acc
    """,
)
def q_c9_bloom_audit(spark, sf_dir):
    """BLOOM-FILTER FPR AUDIT (Bloom, CACM 1970 — public): build a
    portable m={_BF_M}, k={_BF_K} filter over the small-parts key set
    with md5-derived bit positions (identical bytes on both engines —
    the q_xx count-min recipe), probe it with every NON-member key, and
    report the OBSERVED false-positive rate against two public models:
    the fill-based (set-bits/m)^k and the classical
    (1-(1-1/m)^(kn))^k. This is the quality gate for the engine's own
    bloom-pre-pruned semi join (q_yq) — the number that tells you
    whether m,k are sized right for the key cardinality before you ship
    the filter to a 100 TB probe side.

    Scale shape: the bit set is a DISTINCT over members x k (digest
    arithmetic, combinable); probing is ONE semi-join of (probe, bit)
    pairs against the m-bounded bit set (broadcast — it can never
    exceed m rows), then a probe-grain count. At 100 TB the filter stays
    {_BF_M} bits; only the probe scan grows.
    """
    part = read_table(spark, sf_dir, "part")
    members = part.filter(F.col("p_size") <= 10).select("p_partkey")
    probes = part.filter(F.col("p_size") > 10).select("p_partkey")
    bits = (
        members.select(
            F.explode(
                F.array(
                    *[_bf_bit_spark(F.col("p_partkey"), i) for i in range(_BF_K)]
                )
            ).alias("b")
        )
        .distinct()
    )
    probe_bits = probes.select(
        "p_partkey",
        F.explode(
            F.array(*[_bf_bit_spark(F.col("p_partkey"), i) for i in range(_BF_K)])
        ).alias("b"),
    )
    probe_hits = (
        probe_bits.join(F.broadcast(bits), "b")
        .groupBy("p_partkey")
        .agg(F.count("*").cast("bigint").alias("hits"))
    )
    acc = (
        members.agg(F.count("*").cast("bigint").alias("n_members"))
        .crossJoin(F.broadcast(bits.agg(F.count("*").cast("bigint").alias("n_bits_set"))))
        .crossJoin(F.broadcast(probes.agg(F.count("*").cast("bigint").alias("n_probes"))))
        .crossJoin(
            F.broadcast(
                probe_hits.filter(F.col("hits") == _BF_K).agg(
                    F.count("*").cast("bigint").alias("n_false_pos")
                )
            )
        )
    )
    return acc.select(
        "n_members",
        "n_bits_set",
        "n_probes",
        "n_false_pos",
        F.round(
            F.col("n_false_pos").cast("double") / F.col("n_probes").cast("double"),
            6,
        ).alias("fpr_observed"),
        F.expr(_BF_FILL_EXPR).alias("fpr_fill_model"),
        F.expr(_BF_THEORY_EXPR).alias("fpr_theory"),
    )


# ---------------------------------------------------------------------------
# Logistic regression via IRLS (iterative ML as declarative dataflow)
# ---------------------------------------------------------------------------

#: Per-row IRLS pieces, ONE shared text each, given the current
#: (b0, b1) broadcast on the row. x = order value in $100k units;
#: y = urgent-or-high priority. Literals in e-notation (the q_c9
#: lesson: bare decimal literals type as DECIMAL in Spark SQL).
_LR_X = "CAST(cents AS DOUBLE) / 1e7"
_LR_ETA = f"(b0 + b1 * ({_LR_X}))"
_LR_MU = f"(1e0 / (1e0 + exp(-{_LR_ETA})))"
_LR_W = f"({_LR_MU} * (1e0 - {_LR_MU}))"
_LR_RES = f"(CAST(y AS DOUBLE) - {_LR_MU})"

#: Quantized addends (micro-units, 1e12): Fisher-information moments
#: A=Σw, B=Σwx, C=Σwx², and the working-response forms D=Σ(w·eta+res),
#: E=Σ(w·eta·x+res·x) — the identity w·z = w·eta + (y-mu) keeps every
#: addend bounded even where w→0 (z alone explodes there). Rounding to
#: exact BIGINT before the sum makes the accumulation order-free; the
#: ±1-micro rounding jitter (~1e-12 per term) is invisible at the 6dp
#: output scale.
_LR_ADDENDS = {
    "qa": f"CAST(round({_LR_W} * 1e12) AS BIGINT)",
    "qb": f"CAST(round({_LR_W} * ({_LR_X}) * 1e12) AS BIGINT)",
    "qc": f"CAST(round({_LR_W} * ({_LR_X}) * ({_LR_X}) * 1e12) AS BIGINT)",
    "qd": f"CAST(round(({_LR_W} * {_LR_ETA} + {_LR_RES}) * 1e12) AS BIGINT)",
    "qe": (
        f"CAST(round(({_LR_W} * {_LR_ETA} * ({_LR_X})"
        f" + {_LR_RES} * ({_LR_X})) * 1e12) AS BIGINT)"
    ),
}

#: Closed-form 2x2 weighted-least-squares solve (scale 1e12 cancels in
#: the ratios; products cast to DOUBLE first — BIGINT A*C overflows).
_LR_DET = (
    "(CAST(qa AS DOUBLE) * CAST(qc AS DOUBLE)"
    " - CAST(qb AS DOUBLE) * CAST(qb AS DOUBLE))"
)
_LR_B0 = (
    f"(CAST(qc AS DOUBLE) * CAST(qd AS DOUBLE)"
    f" - CAST(qb AS DOUBLE) * CAST(qe AS DOUBLE)) / nullif({_LR_DET}, 0e0)"
)
_LR_B1 = (
    f"(CAST(qa AS DOUBLE) * CAST(qe AS DOUBLE)"
    f" - CAST(qb AS DOUBLE) * CAST(qd AS DOUBLE)) / nullif({_LR_DET}, 0e0)"
)

_LR_ITERS = 3

_LR_SUMS_SQL = ",\n             ".join(
    f"CAST(sum({expr}) AS BIGINT) AS {name}"
    for name, expr in _LR_ADDENDS.items()
)


def _lr_oracle() -> str:
    ctes = [
        """src AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS y
      FROM orders)""",
        "beta0 AS (SELECT CAST(0e0 AS DOUBLE) AS b0, CAST(0e0 AS DOUBLE) AS b1)",
    ]
    outs = []
    for i in range(1, _LR_ITERS + 1):
        ctes.append(
            f"""m{i} AS (
      SELECT {_LR_SUMS_SQL}
      FROM src CROSS JOIN beta{i - 1})"""
        )
        ctes.append(
            f"beta{i} AS (SELECT {_LR_B0} AS b0, {_LR_B1} AS b1 FROM m{i})"
        )
        outs.append(
            f"""SELECT {i} AS iteration, round(b.b0, 6) AS b0,
           round(b.b1, 6) AS b1,
           round(CAST(m.qa AS DOUBLE) / 1e12, 6) AS sum_w,
           round(CAST(m.qd AS DOUBLE) / 1e12, 6) AS sum_wz
    FROM beta{i} b CROSS JOIN m{i} m"""
        )
    return (
        "WITH " + ",\n    ".join(ctes) + "\n    "
        + "\n    UNION ALL\n    ".join(outs)
        + "\n    ORDER BY iteration"
    )


# Logistic regression by IRLS, _LR_ITERS iterations. Per-row terms are
# quantized to integer micro-units, so each iteration's sums are exact.
sql_query("q_ca_logistic_irls", _lr_oracle())


# ---------------------------------------------------------------------------
# Two-component Gaussian mixture via EM (iterative ML as declarative SQL)
# ---------------------------------------------------------------------------

#: Order value in kilodollars as a double born from exact integer cents —
#: keeps every quantized addend small enough that all BIGINT sums stay
#: int64-exact (q_ca addend-bounding contract).
_GMM_X = "(CAST(cents AS DOUBLE) / 1e5)"
#: Responsibility quantization: 1e4 units. Addend bounds at sf0.1:
#: q*rxx <= 1e4 * 600^2 = 3.6e9/row -> sums ~5e15, inside int64 AND a
#: single BIGINT->DOUBLE cast (the Granger lesson: never route sums
#: through DECIMAL128 above 2^53 — DuckDB's hugeint->double double-rounds).
_GMM_QSCALE = "1e4"
_GMM_ITERS = 3


def _gmm_d(p: str) -> str:
    """Log posterior-odds of component 1 for one row, params from CTE p."""
    x = _GMM_X
    return (
        f"({p}.lw"
        f" - (({x}) - {p}.mu1) * (({x}) - {p}.mu1) / (2e0 * {p}.v1)"
        f" - 5e-1 * ln({p}.v1)"
        f" + (({x}) - {p}.mu2) * (({x}) - {p}.mu2) / (2e0 * {p}.v2)"
        f" + 5e-1 * ln({p}.v2))"
    )


def _gmm_moments(p: str) -> str:
    """The six quantized responsibility-weighted sums for one E+M step."""
    r1 = f"(1e0 / (1e0 + exp(-({_gmm_d(p)}))))"
    x = _GMM_X
    q = _GMM_QSCALE
    pieces = {
        "q1r": f"{r1} * {q}",
        "q1rx": f"{r1} * ({x}) * {q}",
        "q1rxx": f"{r1} * ({x}) * ({x}) * {q}",
        "q2r": f"(1e0 - {r1}) * {q}",
        "q2rx": f"(1e0 - {r1}) * ({x}) * {q}",
        "q2rxx": f"(1e0 - {r1}) * ({x}) * ({x}) * {q}",
    }
    return ",\n             ".join(
        f"CAST(sum(CAST(round({expr}) AS BIGINT)) AS BIGINT) AS {name}"
        for name, expr in pieces.items()
    )


#: M-step parameter closes (shared text; sums are int64-exact).
_GMM_MU = "(CAST(q{i}rx AS DOUBLE) / nullif(CAST(q{i}r AS DOUBLE), 0e0))"
_GMM_V = (
    "greatest(CAST(q{i}rxx AS DOUBLE) / nullif(CAST(q{i}r AS DOUBLE), 0e0)"
    " - mu{i} * mu{i}, 1e-6)"
)
_GMM_LW = "ln(CAST(q1r AS DOUBLE) / nullif(CAST(q2r AS DOUBLE), 0e0))"
_GMM_W1 = "(CAST(q1r AS DOUBLE) / (CAST(q1r AS DOUBLE) + CAST(q2r AS DOUBLE)))"


def _gmm_sql() -> str:
    """ONE dialect-portable SQL text (q_g4 contract) for init + 3 EM
    iterations; runs verbatim on Spark and DuckDB."""
    ctes = [
        """src AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders)""",
        # Kilodollar value cells: the init quartiles and variance come from
        # a frame bounded by the PRICE RANGE (~600 cells), not data volume.
        """kcell AS (
      SELECT CAST(floor(CAST(cents AS DOUBLE) / 1e5) AS BIGINT) AS xk,
             CAST(count(*) AS BIGINT) AS c
      FROM src GROUP BY CAST(floor(CAST(cents AS DOUBLE) / 1e5) AS BIGINT))""",
        """tot AS (
      SELECT CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(xk * c) AS BIGINT) AS sx,
             CAST(sum(xk * xk * c) AS BIGINT) AS sxx
      FROM kcell)""",
        """cum AS (
      SELECT xk, sum(c) OVER (ORDER BY xk
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
      FROM kcell)""",
        # Init: mu at the exact (kilodollar-grain) quartiles, one pooled
        # variance, even weights. All deterministic.
        """p0 AS (
      SELECT
        CAST((SELECT min(xk) FROM cum CROSS JOIN tot
              WHERE cw >= CAST(floor((CAST(n AS DOUBLE) + 3e0) / 4e0) AS BIGINT))
          AS DOUBLE) AS mu1,
        greatest((CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                    / CAST(n AS DOUBLE))
                 / (CAST(n AS DOUBLE) - 1e0), 1e-6) AS v1,
        CAST((SELECT min(xk) FROM cum CROSS JOIN tot
              WHERE cw >= CAST(floor((3e0 * CAST(n AS DOUBLE) + 3e0) / 4e0) AS BIGINT))
          AS DOUBLE) AS mu2,
        greatest((CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                    / CAST(n AS DOUBLE))
                 / (CAST(n AS DOUBLE) - 1e0), 1e-6) AS v2,
        0e0 AS lw
      FROM tot)""",
    ]
    outs = []
    for i in range(1, _GMM_ITERS + 1):
        ctes.append(
            f"""m{i} AS (
      SELECT {_gmm_moments(f"p{i - 1}")}
      FROM src CROSS JOIN p{i - 1})"""
        )
        mu1 = _GMM_MU.format(i=1)
        mu2 = _GMM_MU.format(i=2)
        ctes.append(
            f"""pa{i} AS (
      SELECT q1r, q1rx, q1rxx, q2r, q2rx, q2rxx,
             {mu1} AS mu1, {mu2} AS mu2
      FROM m{i})"""
        )
        ctes.append(
            f"""p{i} AS (
      SELECT mu1, {_GMM_V.format(i=1)} AS v1,
             mu2, {_GMM_V.format(i=2)} AS v2,
             {_GMM_LW} AS lw,
             {_GMM_W1} AS w1
      FROM pa{i})"""
        )
        outs.append(
            f"""SELECT {i} AS iteration,
           round(mu1, 6) AS mu1_kdollars, round(sqrt(v1), 6) AS sd1_kdollars,
           round(mu2, 6) AS mu2_kdollars, round(sqrt(v2), 6) AS sd2_kdollars,
           round(w1, 6) AS w1
    FROM p{i}"""
        )
    return (
        "WITH " + ",\n    ".join(ctes) + "\n    "
        + "\n    UNION ALL\n    ".join(outs)
        + "\n    ORDER BY iteration"
    )


# Two-component Gaussian mixture by EM, 3 iterations. Addends are quantized
# and bounded so every sum stays int64: DuckDB's hugeint -> double cast
# double-rounds above 2^53.
sql_query("q_cj_gmm_em", _gmm_sql())


# ---------------------------------------------------------------------------
# Permutation entropy (ordinal-pattern complexity of the daily series)
# ---------------------------------------------------------------------------

#: Ordinal pattern of an embedded triple with the STABLE tie rule
#: (earlier day ranks first on equality — Bandt-Pompe convention):
#: 3 pairwise <=_stable bits; transitivity leaves 6 legal patterns.
_PE_PAT = "(4 * (CASE WHEN a <= b THEN 1 ELSE 0 END)" \
    " + 2 * (CASE WHEN b <= c THEN 1 ELSE 0 END)" \
    " + (CASE WHEN a <= c THEN 1 ELSE 0 END))"
#: 0·ln0-guarded Shannon term on the pattern distribution.
_PE_TERM = (
    "CASE WHEN cnt > 0 THEN (CAST(cnt AS DOUBLE) / CAST(nt AS DOUBLE))"
    " * ln(CAST(cnt AS DOUBLE) / CAST(nt AS DOUBLE)) ELSE 0e0 END"
)


# Permutation entropy (dimension 3) of daily revenue; a window accumulates the
# pattern terms in fixed pattern order.
sql_query(
    "q_ck_perm_entropy",
    f"""
    WITH daily AS (
      SELECT CAST(CAST(date_trunc('day', o_orderdate) AS DATE)
                  - CAST((SELECT min(date_trunc('day', o_orderdate)) FROM orders)
                         AS DATE) AS BIGINT) AS t,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS y
      FROM orders GROUP BY 1),
    trip AS (
      SELECT d0.y AS a, d1.y AS b, d2.y AS c
      FROM daily d0
      JOIN daily d1 ON d1.t = d0.t + 1
      JOIN daily d2 ON d2.t = d0.t + 2),
    pat AS (
      SELECT {_PE_PAT} AS pattern, CAST(count(*) AS BIGINT) AS cnt
      FROM trip GROUP BY 1),
    tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS nt FROM pat),
    acc AS (
      SELECT pattern, cnt, nt,
             sum({_PE_TERM}) OVER (ORDER BY pattern
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS negh
      FROM pat CROSS JOIN tot)
    SELECT pattern, cnt,
           round(CAST(cnt AS DOUBLE) / CAST(nt AS DOUBLE), 6) AS p,
           round(-negh, 6) AS perm_entropy_nats,
           round(-negh / ln(6e0), 6) AS perm_entropy_norm
    FROM acc ORDER BY pattern
    """,
)


# ---------------------------------------------------------------------------
# Wald-Wolfowitz runs test (randomness of daily up/down moves)
# ---------------------------------------------------------------------------

#: Closed-form moments of the run count under H0 (exact integer inputs).
_RT_MU = "(1e0 + 2e0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / CAST(n AS DOUBLE))"
_RT_VAR = (
    "(2e0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)"
    " * (2e0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) - CAST(n AS DOUBLE))"
    " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1e0)))"
)
_RT_Z = f"((CAST(r AS DOUBLE) - {_RT_MU}) / nullif(sqrt({_RT_VAR}), 0e0))"


# Wald-Wolfowitz runs test on the day-over-day up/down sequence of revenue
# (flat days dropped).
sql_query(
    "q_cl_runs_test",
    f"""
    WITH daily AS (
      SELECT CAST(CAST(date_trunc('day', o_orderdate) AS DATE)
                  - CAST((SELECT min(date_trunc('day', o_orderdate)) FROM orders)
                         AS DATE) AS BIGINT) AS t,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS y
      FROM orders GROUP BY 1),
    moves AS (
      SELECT a.t, CASE WHEN a.y > b.y THEN 1 ELSE 0 END AS up
      FROM daily a JOIN daily b ON b.t = a.t - 1
      WHERE a.y <> b.y),
    seq AS (
      SELECT up,
             lag(up) OVER (ORDER BY t) AS prev_up
      FROM moves),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(up) AS BIGINT) AS n1,
             CAST(count(*) - sum(up) AS BIGINT) AS n2,
             CAST(1 + sum(CASE WHEN prev_up IS NOT NULL
                                AND up <> prev_up THEN 1 ELSE 0 END)
               AS BIGINT) AS r
      FROM seq)
    SELECT n, n1, n2, r,
           round({_RT_MU}, 6) AS expected_runs,
           round({_RT_Z}, 6) AS z_stat
    FROM agg
    """,
)


# ---------------------------------------------------------------------------
# Lloyd k-means (k=4, 3 iterations) as one dialect-portable SQL text
# ---------------------------------------------------------------------------

_KM4_K = 4
_KM4_ITERS = 3


def _km4_dist(j: int, cent: str) -> str:
    """Micro-quantized squared distance of a point to centroid j of the
    1-row wide centroid frame ``cent`` (the q_cm integer-decision
    contract: argmin compares exact BIGINTs, never raw doubles)."""
    return (
        "CAST(round(((CAST(x AS DOUBLE) - {c}.mx{j}) * (CAST(x AS DOUBLE)"
        " - {c}.mx{j}) + (CAST(y AS DOUBLE) - {c}.my{j})"
        " * (CAST(y AS DOUBLE) - {c}.my{j})) * 1000000e0, 0) AS BIGINT)"
    ).format(j=j, c=cent)


def _km4_assign(cent: str) -> str:
    """Argmin cluster id with lowest-id tie-break, as nested integer
    comparisons over the quantized distances."""
    ds = [_km4_dist(j, cent) for j in range(1, _KM4_K + 1)]
    arms = []
    for j in range(1, _KM4_K):
        conds = " AND ".join(
            f"{ds[j - 1]} <= {ds[m]}" for m in range(j, _KM4_K)
        )
        arms.append(f"WHEN {conds} THEN {j}")
    return f"(CASE {' '.join(arms)} ELSE {_KM4_K} END)"


def _km4_cent_cte(k_it: int, prev: str) -> str:
    """Centroid update CTE: mean of members per cluster, empty clusters
    keep the previous centroid (coalesce on the 1-row wide frame)."""
    assign = _km4_assign(prev)
    aggs = []
    for j in range(1, _KM4_K + 1):
        for axis in ("x", "y"):
            aggs.append(
                f"coalesce(CAST(sum(CASE WHEN a.c = {j} THEN a.{axis}"
                f" ELSE 0 END) AS DOUBLE)"
                f" / nullif(CAST(sum(CASE WHEN a.c = {j} THEN 1 ELSE 0 END)"
                f" AS DOUBLE), 0e0), min({prev}.m{axis}{j}))"
                f" AS m{axis}{j}"
            )
    return (
        f"cent{k_it} AS (SELECT {', '.join(aggs)}"
        f" FROM (SELECT x, y, {assign} AS c FROM pts CROSS JOIN {prev}) a"
        f" CROSS JOIN {prev} GROUP BY 1=1)"
    )


def _km4_sql() -> str:
    init_aggs = []
    for j in range(1, _KM4_K + 1):
        for axis in ("x", "y"):
            init_aggs.append(
                f"CAST(sum(CASE WHEN strat = {j} THEN {axis} ELSE 0 END)"
                f" AS DOUBLE) / CAST(sum(CASE WHEN strat = {j} THEN 1"
                f" ELSE 0 END) AS DOUBLE) AS m{axis}{j}"
            )
    its = ",\n    ".join(
        _km4_cent_cte(i, f"cent{i - 1}") for i in range(1, _KM4_ITERS + 1)
    )
    final = f"cent{_KM4_ITERS}"
    fin_assign = _km4_assign(final)
    fin_dist = " + ".join(
        f"(CASE WHEN {_km4_assign(final)} = {j} THEN {_km4_dist(j, final)}"
        " ELSE 0 END)"
        for j in range(1, _KM4_K + 1)
    )
    cent_cols = " ".join(
        f"WHEN {j} THEN {final}.mx{j}" for j in range(1, _KM4_K + 1)
    )
    cent_cols_y = " ".join(
        f"WHEN {j} THEN {final}.my{j}" for j in range(1, _KM4_K + 1)
    )
    return f"""
    WITH spend AS (
      SELECT o_custkey,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY o_custkey),
    pts AS (
      SELECT CAST(ntile(100) OVER (ORDER BY cents, o_custkey) AS BIGINT)
               AS x,
             CAST(ntile(100) OVER (ORDER BY n_orders, o_custkey) AS BIGINT)
               AS y
      FROM spend),
    strata AS (
      SELECT x, y, CAST(ntile({_KM4_K}) OVER (ORDER BY x, y) AS BIGINT)
               AS strat
      FROM pts),
    cent0 AS (SELECT {', '.join(init_aggs)} FROM strata),
    {its},
    assigned AS (
      SELECT {fin_assign} AS cluster, x, y, {fin_dist} AS d_q
      FROM pts CROSS JOIN {final})
    SELECT a.cluster, CAST(count(*) AS BIGINT) AS n_points,
           round(CAST(sum(a.x) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
             AS cx,
           round(CAST(sum(a.y) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
             AS cy,
           round(CAST(sum(a.d_q) AS DOUBLE) / 1000000e0, 6) AS wcss,
           round(min(CASE a.cluster {cent_cols} END), 6) AS model_cx,
           round(min(CASE a.cluster {cent_cols_y} END), 6) AS model_cy
    FROM assigned a CROSS JOIN {final}
    GROUP BY a.cluster ORDER BY a.cluster
    """


# Lloyd k-means (k = 4, 3 iterations) on spend and order-count percentile
# ranks; distances are micro-quantized so assignment is an integer argmin.
sql_query("q_dc_kmeans_sql", _km4_sql())


# ---------------------------------------------------------------------------
# PACF via Durbin-Levinson in integer pico-units (one portable SQL text)
# ---------------------------------------------------------------------------

_PACF_MAXLAG = 7

_PACF_MU = "(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
_PACF_C0 = (
    f"(CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE) - {_PACF_MU} * {_PACF_MU})"
)
_PACF_CK = (
    f"((CAST(sxy AS DOUBLE) - {_PACF_MU} * (CAST(sa AS DOUBLE)"
    f" + CAST(sb AS DOUBLE)) + CAST(nk AS DOUBLE) * {_PACF_MU}"
    f" * {_PACF_MU}) / CAST(n AS DOUBLE))"
)

#: One rounded pico-unit product a*b/1e12 (both operands pico-scaled
#: BIGINTs): the IEEE double product/divide sequence is deterministic,
#: so both engines round the identical value (the q_cm contract carried
#: through a recursion).
def _pq_mul(a: str, b: str) -> str:
    return (
        f"CAST(round(CAST({a} AS DOUBLE) * CAST({b} AS DOUBLE)"
        " / 1000000000000e0, 0) AS BIGINT)"
    )


def _pacf_sql() -> str:
    lag_selects = " UNION ALL ".join(
        f"""
      SELECT {k} AS k, CAST(COUNT(*) AS BIGINT) AS nk,
             SUM(a.x * b.x) AS sxy, SUM(a.x) AS sa, SUM(b.x) AS sb
      FROM idx a JOIN idx b ON b.t = a.t + {k}"""
        for k in range(1, _PACF_MAXLAG + 1)
    )
    lvls = [
        "lvl1 AS (SELECT 1 AS j, (SELECT rq FROM r WHERE k = 1) AS pq)"
    ]
    for k in range(2, _PACF_MAXLAG + 1):
        lvls.append(
            f"""nd{k} AS MATERIALIZED (
      SELECT (SELECT rq FROM r WHERE k = {k})
             - (SELECT CAST(SUM({_pq_mul("p.pq", "rr.rq")}) AS BIGINT)
                FROM lvl{k - 1} p JOIN r rr ON rr.k = {k} - p.j) AS num,
             1000000000000
             - (SELECT CAST(SUM({_pq_mul("p.pq", "rr.rq")}) AS BIGINT)
                FROM lvl{k - 1} p JOIN r rr ON rr.k = p.j) AS den)"""
        )
        lvls.append(
            f"""phi{k} AS MATERIALIZED (
      SELECT CAST(round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
                  * 1000000000000e0, 0) AS BIGINT) AS pq FROM nd{k})"""
        )
        lvls.append(
            f"""lvl{k} AS MATERIALIZED (
      SELECT p.j, p.pq - {_pq_mul("ph.pq", "p2.pq")} AS pq
      FROM lvl{k - 1} p JOIN lvl{k - 1} p2 ON p2.j = {k} - p.j
      CROSS JOIN phi{k} ph
      UNION ALL SELECT {k} AS j, pq FROM phi{k})"""
        )
    diag = " UNION ALL ".join(
        ["SELECT 1 AS lag, (SELECT rq FROM r WHERE k = 1) AS pq"]
        + [
            f"SELECT {k} AS lag, pq FROM phi{k}"
            for k in range(2, _PACF_MAXLAG + 1)
        ]
    )
    return f"""
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS day,
             SUM(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                      AS DECIMAL(38,0))) AS x
      FROM orders GROUP BY 1),
    idx AS (
      SELECT row_number() OVER (ORDER BY day) AS t, x FROM daily),
    totals AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS sx, SUM(x * x) AS sxx
      FROM idx),
    lagged AS ({lag_selects}),
    r AS (
      SELECT k, CAST(round({_PACF_CK} / nullif({_PACF_C0}, 0e0)
                  * 1000000000000e0, 0) AS BIGINT) AS rq
      FROM lagged CROSS JOIN totals),
    {",".join(lvls)}
    SELECT lag, round(CAST(pq AS DOUBLE) / 1000000000000e0, 6) AS pacf
    FROM ({diag}) ORDER BY lag
    """


@query("q_dl_pacf", oracle=_pacf_sql())
def q_dl_pacf(spark, sf_dir):
    """PARTIAL AUTOCORRELATION FUNCTION (lags 1..7) of daily revenue
    via the DURBIN-LEVINSON recursion (Durbin 1960; Levinson 1947) —
    the third leg of the Box-Jenkins identification triad the engine
    now completes: ACF (q_zi) says which lags correlate, the PACF says
    which correlate DIRECTLY (an AR(p) process cuts off after lag p —
    the order-selection signal q_cv's fixed AR(2) assumes away). The
    recursion runs in integer PICO-UNITS: autocorrelations quantize
    once from exact DECIMAL moments, every Durbin-Levinson update is
    one rounded pico-product of BIGINTs (deterministic IEEE sequence —
    the q_cm integer-decision contract carried through a recursion),
    so all seven levels are exact integer state on both engines. The
    oracle is ONE MATERIALIZED-CTE text; the Spark side runs the
    identical shared fragments as a checkpointed loop (Spark inlines
    doubly-referenced CTEs — the single text doubles the plan per
    level).

    Scale shape: one map-side-combinable daily rollup; the lag joins
    and the 7-level recursion run on the calendar-bounded day series
    and <= 7-row frames (q_zi document-and-contain). 100 TB = one
    scan + a constant tail.
    """
    # Spark CTE inlining doubles the plan per level (lvl_k references
    # lvl_{k-1} twice) — the single text OOMs the optimizer. The oracle
    # keeps the one MATERIALIZED text; here the identical arithmetic
    # runs as a checkpointed DataFrame loop over <= 7-row frames (the
    # q_d4 MM-loop contract), sharing the expression fragments.
    orders = read_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.date_trunc("day", F.col("o_orderdate")).alias("day")
    ).agg(
        F.sum(
            F.round(F.col("o_totalprice") * 100)
            .cast("bigint")
            .cast("decimal(38,0)")
        ).alias("x")
    )
    idx = daily.select(
        F.row_number().over(Window.orderBy("day")).alias("t"), "x"
    ).localCheckpoint(eager=True)
    totals = idx.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    lagged = None
    for k in range(1, _PACF_MAXLAG + 1):
        a, b = idx.alias("a"), idx.alias("b")
        lk = a.join(b, F.col("b.t") == F.col("a.t") + k).agg(
            F.lit(k).alias("k"),
            F.count("*").cast("bigint").alias("nk"),
            F.sum(F.col("a.x") * F.col("b.x")).alias("sxy"),
            F.sum(F.col("a.x")).alias("sa"),
            F.sum(F.col("b.x")).alias("sb"),
        )
        lagged = lk if lagged is None else lagged.unionByName(lk)
    r = (
        lagged.crossJoin(F.broadcast(totals))
        .selectExpr(
            "k",
            f"CAST(round({_PACF_CK} / nullif({_PACF_C0}, 0e0)"
            " * 1000000000000e0, 0) AS BIGINT) AS rq",
        )
        .localCheckpoint(eager=True)
    )
    lvl = r.filter(F.col("k") == 1).select(
        F.lit(1).alias("j"), F.col("rq").alias("pq")
    ).localCheckpoint(eager=True)
    diag = r.filter(F.col("k") == 1).select(
        F.lit(1).alias("lag"), F.col("rq").alias("pq")
    )
    for k in range(2, _PACF_MAXLAG + 1):
        rk = r.filter(F.col("k") == k).select(F.col("rq").alias("rk_q"))
        num = (
            lvl.alias("p")
            .join(r.alias("rr"), F.expr(f"rr.k = {k} - p.j"))
            .agg(
                F.sum(F.expr(_pq_mul("p.pq", "rr.rq")))
                .cast("bigint")
                .alias("acc")
            )
            .crossJoin(F.broadcast(rk))
            .select((F.col("rk_q") - F.col("acc")).alias("num"))
        )
        den = (
            lvl.alias("p")
            .join(r.alias("rr"), F.expr("rr.k = p.j"))
            .agg(
                F.sum(F.expr(_pq_mul("p.pq", "rr.rq")))
                .cast("bigint")
                .alias("acc")
            )
            .select((F.lit(1000000000000) - F.col("acc")).alias("den"))
        )
        phi = (
            num.crossJoin(F.broadcast(den))
            .selectExpr(
                "CAST(round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE)"
                " * 1000000000000e0, 0) AS BIGINT) AS pq"
            )
            .localCheckpoint(eager=True)
        )
        upd = (
            lvl.alias("p")
            .join(lvl.alias("p2"), F.expr(f"p2.j = {k} - p.j"))
            .crossJoin(F.broadcast(phi.alias("ph")))
            .selectExpr(
                "p.j AS j",
                f"p.pq - {_pq_mul('ph.pq', 'p2.pq')} AS pq",
            )
        )
        lvl = upd.unionByName(
            phi.select(F.lit(k).alias("j"), "pq")
        ).localCheckpoint(eager=True)
        diag = diag.unionByName(
            phi.select(F.lit(k).alias("lag"), "pq")
        )
    return diag.selectExpr(
        "lag",
        "round(CAST(pq AS DOUBLE) / 1000000000000e0, 6) AS pacf",
    ).orderBy("lag")
