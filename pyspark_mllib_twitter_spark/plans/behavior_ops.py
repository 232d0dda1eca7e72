"""Behavioral / product analytics (round 8): ordered funnel conversion,
weekly cohort retention, difference-in-differences, and ROC curve points.

Design rules carried from the rest of the engine (mining_ops.py /
inference_ops.py):

- **Cross-engine float discipline.** Counts, epoch microseconds, and
  cents stay exact integers until ONE final shared-text DOUBLE
  expression both engines evaluate on identical operands (IEEE
  multiply/divide on identical inputs with identical expression text is
  bit-deterministic).
- **One-pass mergeable aggregation.** Every query is groupBy/window
  over pre-aggregated per-user or per-bin tables; nothing sorts the
  event log globally more than the per-user window requires, and no
  driver-side collection anywhere.
- **Deterministic cohorts.** Treatment assignment and thresholds are
  pure functions of keys/data (user_id parity, fixed cutoff date,
  equal-width integer bins) — hash-checkable, unlike sampled splits.

Reference scope: the reference (COMP5349_2.py:1-211) has none of this
surface; these extend the engine per the north-star mandate (warehouse
analytics over event streams at 100 TB).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..sources import read_table
from .registry import query, sql_query

# ---------------------------------------------------------------------------
# Ordered funnel conversion (view -> click -> purchase)
# ---------------------------------------------------------------------------

#: Funnel steps in order. A user reaches step k+1 only with an event of
#: that type STRICTLY AFTER their step-k completion time (the standard
#: ordered-funnel semantics — unordered "did all three" funnels
#: overcount).
FUNNEL_STEPS = ("view", "click", "purchase")


@query(
    "q_as_funnel",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us
      FROM events WHERE user_id IS NOT NULL),
    s1 AS (
      SELECT user_id, min(us) AS t1 FROM ev
      WHERE event_type = '{FUNNEL_STEPS[0]}' GROUP BY user_id),
    s2 AS (
      SELECT e.user_id, min(e.us) AS t2, min(s1.t1) AS t1
      FROM ev e JOIN s1 ON s1.user_id = e.user_id
      WHERE e.event_type = '{FUNNEL_STEPS[1]}' AND e.us > s1.t1
      GROUP BY e.user_id),
    s3 AS (
      SELECT e.user_id, min(e.us) AS t3, min(s2.t2) AS t2
      FROM ev e JOIN s2 ON s2.user_id = e.user_id
      WHERE e.event_type = '{FUNNEL_STEPS[2]}' AND e.us > s2.t2
      GROUP BY e.user_id)
    SELECT step, n_users, avg_gap_us FROM (
      SELECT 1 AS step, CAST(count(*) AS BIGINT) AS n_users,
             CAST(NULL AS DOUBLE) AS avg_gap_us FROM s1
      UNION ALL
      SELECT 2, CAST(count(*) AS BIGINT),
             round(CAST(SUM(CAST(t2 - t1 AS DECIMAL(38,0))) AS DOUBLE)
                   / count(*), 6) FROM s2
      UNION ALL
      SELECT 3, CAST(count(*) AS BIGINT),
             round(CAST(SUM(CAST(t3 - t2 AS DECIMAL(38,0))) AS DOUBLE)
                   / count(*), 6) FROM s3)
    ORDER BY step
    """,
)
def q_as_funnel(spark, sf_dir):
    """Ordered 3-step funnel (view -> click -> purchase): a user counts
    at step k+1 only with a step-k+1 event STRICTLY AFTER their earliest
    step-k completion — the sequence-respecting funnel every product
    analytics store ships (cf. window-funnel operators in ClickHouse /
    Snowplow, public semantics). Reports per-step reach and the mean
    step-to-step conversion delay in exact epoch-microsecond sums.

    Scale shape: step k+1 is ONE combinable filter-aggregate joined to
    the step-k user table on user_id (user-count sized, co-partitioned
    after the first shuffle — each level reuses the same hash
    partitioning, so levels 2..k are one local join + agg each); no
    window over the raw event log, no per-user event arrays. Delay
    sums are DECIMAL(38,0); the only float is the shared-text closing
    division.
    """
    ev = (
        read_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select(
            "user_id",
            "event_type",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        )
    )
    s1 = (
        ev.filter(F.col("event_type") == FUNNEL_STEPS[0])
        .groupBy("user_id")
        .agg(F.min("us").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == FUNNEL_STEPS[1])
        .join(s1, "user_id")
        .filter(F.col("us") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t2"), F.min("t1").alias("t1"))
    )
    s3 = (
        ev.filter(F.col("event_type") == FUNNEL_STEPS[2])
        .join(s2.select("user_id", "t2"), "user_id")
        .filter(F.col("us") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t3"), F.min("t2").alias("t2"))
    )

    def _level(df, step, gap):
        agg = [F.count("*").cast("bigint").alias("n_users")]
        if gap is None:
            agg.append(F.lit(None).cast("double").alias("avg_gap_us"))
        else:
            agg.append(
                F.round(
                    F.sum(gap.cast("decimal(38,0)")).cast("double")
                    / F.count("*"),
                    6,
                ).alias("avg_gap_us")
            )
        return df.agg(*agg).select(F.lit(step).alias("step"), "n_users", "avg_gap_us")

    out = (
        _level(s1, 1, None)
        .unionByName(_level(s2, 2, F.col("t2") - F.col("t1")))
        .unionByName(_level(s3, 3, F.col("t3") - F.col("t2")))
    )
    return out.orderBy("step")


# ---------------------------------------------------------------------------
# Weekly cohort retention
# ---------------------------------------------------------------------------


@query(
    "q_at_retention",
    oracle="""
    WITH uw AS (
      SELECT DISTINCT user_id,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7 AS wk
      FROM events WHERE user_id IS NOT NULL),
    cohort AS (SELECT user_id, min(wk) AS cw FROM uw GROUP BY user_id),
    sizes AS (SELECT cw, CAST(count(*) AS BIGINT) AS n_cohort
              FROM cohort GROUP BY cw),
    cells AS (
      SELECT c.cw, u.wk - c.cw AS week_offset,
             CAST(count(*) AS BIGINT) AS n_active
      FROM uw u JOIN cohort c ON c.user_id = u.user_id
      GROUP BY c.cw, u.wk - c.cw)
    SELECT CAST(cells.cw AS BIGINT) AS cohort_week,
           CAST(week_offset AS BIGINT) AS week_offset,
           n_active, n_cohort,
           round(CAST(n_active AS DOUBLE) / n_cohort, 6) AS retention
    FROM cells JOIN sizes ON sizes.cw = cells.cw
    ORDER BY cohort_week, week_offset
    """,
)
def q_at_retention(spark, sf_dir):
    """Weekly cohort retention matrix: users are cohorted by the epoch
    week of their first event; cell (cohort, offset) counts cohort
    members active in cohort-week + offset. The classic triangle every
    growth dashboard draws; retention is the only float (one shared-text
    division of exact counts).

    Scale shape: the event log collapses to DISTINCT (user, week) in one
    combinable pass (weeks-per-user sized, ~1e2 rows/user max); cohorts
    are a user-level min; the matrix is a groupBy over (cohort, offset)
    — weeks² cells, tiny. The cells-to-sizes join is on the cohort-week
    key (calendar-bounded, broadcastable at any corpus size).
    """
    uw = (
        read_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select(
            "user_id",
            F.floor(
                F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
                / 7
            ).alias("wk"),
        )
        .distinct()
    )
    cohort = uw.groupBy("user_id").agg(F.min("wk").alias("cw"))
    sizes = cohort.groupBy("cw").agg(F.count("*").cast("bigint").alias("n_cohort"))
    cells = (
        uw.join(cohort, "user_id")
        .groupBy("cw", (F.col("wk") - F.col("cw")).alias("week_offset"))
        .agg(F.count("*").cast("bigint").alias("n_active"))
    )
    return (
        cells.join(F.broadcast(sizes), "cw")
        .select(
            F.col("cw").cast("bigint").alias("cohort_week"),
            F.col("week_offset").cast("bigint"),
            "n_active",
            "n_cohort",
            F.round(F.col("n_active").cast("double") / F.col("n_cohort"), 6).alias(
                "retention"
            ),
        )
        .orderBy("cohort_week", "week_offset")
    )


# ---------------------------------------------------------------------------
# Difference-in-differences (2x2 exact-cells estimator)
# ---------------------------------------------------------------------------

#: Fixed post-period cutoff (fixture events span 2024-01) and the
#: deterministic treatment assignment (user parity — hash-checkable,
#: unlike a sampled split).
DID_CUTOFF = "2024-01-16"


# Difference-in-differences (Card & Krueger 1994): treatment by user parity,
# post-period by a fixed cutoff; cell means from exact cents DECIMAL sums.
sql_query(
    "q_au_did",
    f"""
    WITH p AS (
      SELECT CAST(user_id % 2 AS INT) AS treat,
             CASE WHEN CAST(ts AS DATE) >= DATE '{DID_CUTOFF}'
                  THEN 1 ELSE 0 END AS post,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
      WHERE event_type = 'purchase' AND user_id IS NOT NULL),
    m AS (
      SELECT
        SUM(CASE WHEN treat = 1 AND post = 1
                 THEN CAST(cents AS DECIMAL(38,0)) END) AS s_t1,
        SUM(CASE WHEN treat = 1 AND post = 0
                 THEN CAST(cents AS DECIMAL(38,0)) END) AS s_t0,
        SUM(CASE WHEN treat = 0 AND post = 1
                 THEN CAST(cents AS DECIMAL(38,0)) END) AS s_c1,
        SUM(CASE WHEN treat = 0 AND post = 0
                 THEN CAST(cents AS DECIMAL(38,0)) END) AS s_c0,
        CAST(count(CASE WHEN treat = 1 AND post = 1 THEN 1 END) AS BIGINT) AS n_t1,
        CAST(count(CASE WHEN treat = 1 AND post = 0 THEN 1 END) AS BIGINT) AS n_t0,
        CAST(count(CASE WHEN treat = 0 AND post = 1 THEN 1 END) AS BIGINT) AS n_c1,
        CAST(count(CASE WHEN treat = 0 AND post = 0 THEN 1 END) AS BIGINT) AS n_c0
      FROM p)
    SELECT n_t1, n_t0, n_c1, n_c0,
           round(CAST(s_t1 AS DOUBLE) / n_t1 / 100.0, 6) AS mean_treat_post,
           round(CAST(s_t0 AS DOUBLE) / n_t0 / 100.0, 6) AS mean_treat_pre,
           round(CAST(s_c1 AS DOUBLE) / n_c1 / 100.0, 6) AS mean_ctrl_post,
           round(CAST(s_c0 AS DOUBLE) / n_c0 / 100.0, 6) AS mean_ctrl_pre,
           round((CAST(s_t1 AS DOUBLE) / n_t1 - CAST(s_t0 AS DOUBLE) / n_t0
                  - (CAST(s_c1 AS DOUBLE) / n_c1 - CAST(s_c0 AS DOUBLE) / n_c0))
                 / 100.0, 6) AS did_estimate
    FROM m
    """,
)


# ---------------------------------------------------------------------------
# ROC curve points (binned, exact counts)
# ---------------------------------------------------------------------------

#: Equal-width score bins for the curve. 20 points is a dense-enough
#: curve for a monitoring dashboard; the plan shape is bin-count
#: independent (the cumulative window runs over ROC_BINS rows).
ROC_BINS = 20


# ROC points at 20 equal-width score bins (score = value in cents, label =
# purchase) from exact descending cumulative counts.
sql_query(
    "q_ay_roc_curve",
    f"""
    WITH scored AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS cents,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label
      FROM events),
    bounds AS (SELECT min(cents) AS lo, max(cents) AS hi FROM scored),
    binned AS (
      SELECT least(CAST(floor(((cents - lo) * {ROC_BINS})
                              / (hi - lo + 1)) AS BIGINT),
                   {ROC_BINS - 1}) AS bin,
             label
      FROM scored, bounds),
    per_bin AS (
      SELECT bin,
             CAST(count(CASE WHEN label = 1 THEN 1 END) AS BIGINT) AS pos,
             CAST(count(CASE WHEN label = 0 THEN 1 END) AS BIGINT) AS neg
      FROM binned GROUP BY bin),
    cum AS (
      SELECT bin, pos, neg,
             SUM(pos) OVER (ORDER BY bin DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS pos_ge,
             SUM(neg) OVER (ORDER BY bin DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS neg_ge,
             SUM(pos) OVER () AS pos_tot,
             SUM(neg) OVER () AS neg_tot
      FROM per_bin)
    SELECT CAST(bin AS BIGINT) AS bin,
           CAST(pos_ge AS BIGINT) AS n_pos_ge,
           CAST(neg_ge AS BIGINT) AS n_neg_ge,
           round(CAST(pos_ge AS DOUBLE) / pos_tot, 6) AS tpr,
           round(CAST(neg_ge AS DOUBLE) / neg_tot, 6) AS fpr
    FROM cum ORDER BY bin
    """,
)


# ---------------------------------------------------------------------------
# Allen interval-relation classification (temporal-pattern audit)
# ---------------------------------------------------------------------------

#: Shared-text classifier over exact epoch-us interval endpoints
#: (a_s, a_e, b_s, b_e): the 13 Allen relations (Allen, CACM 1983 —
#: public), evaluated coarsest-last so every pair lands in exactly one.
_ALLEN_EXPR = (
    "CASE"
    " WHEN a_s = b_s AND a_e = b_e THEN 'equals'"
    " WHEN a_e < b_s THEN 'before'"
    " WHEN b_e < a_s THEN 'after'"
    " WHEN a_e = b_s THEN 'meets'"
    " WHEN b_e = a_s THEN 'met_by'"
    " WHEN a_s = b_s AND a_e < b_e THEN 'starts'"
    " WHEN a_s = b_s AND a_e > b_e THEN 'started_by'"
    " WHEN a_e = b_e AND a_s > b_s THEN 'finishes'"
    " WHEN a_e = b_e AND a_s < b_s THEN 'finished_by'"
    " WHEN a_s > b_s AND a_e < b_e THEN 'during'"
    " WHEN a_s < b_s AND a_e > b_e THEN 'contains'"
    " WHEN a_s < b_s THEN 'overlaps'"
    " ELSE 'overlapped_by' END"
)


@query(
    "q_c1_allen_relations",
    oracle=f"""
    WITH spans AS (
      SELECT user_id, event_type,
             min(epoch_us(CAST(ts AS TIMESTAMP))) AS s_us,
             max(epoch_us(CAST(ts AS TIMESTAMP))) + 1 AS e_us
      FROM events
      WHERE user_id IS NOT NULL AND event_type IN ('view', 'purchase')
      GROUP BY user_id, event_type),
    pairs AS (
      SELECT v.user_id, v.s_us AS a_s, v.e_us AS a_e,
             p.s_us AS b_s, p.e_us AS b_e
      FROM spans v JOIN spans p
        ON v.user_id = p.user_id
       AND v.event_type = 'view' AND p.event_type = 'purchase')
    SELECT {_ALLEN_EXPR} AS relation, CAST(count(*) AS BIGINT) AS n_users
    FROM pairs GROUP BY 1 ORDER BY relation
    """,
)
def q_c1_allen_relations(spark, sf_dir):
    """ALLEN INTERVAL-RELATION classification (Allen, CACM 1983 —
    public; the temporal-logic vocabulary behind every interval-join
    optimizer): for each user, the browsing span (first..last view) vs
    the buying span (first..last purchase), classified into the 13
    Allen relations — before/meets/overlaps/starts/during/finishes,
    their inverses, and equals — by ONE shared-text CASE over exact
    epoch-microsecond endpoints (half-open via max+1). The relation
    histogram is the engagement-shape readout: 'during' = purchases
    embedded in a browsing session, 'before' = research-then-buy-later.

    Scale shape: spans are one map-side-combinable (user, type) min/max
    aggregate; the pair join is a per-user equi-join with EXACTLY one
    row per side per user (no fan-out); classification is a map-side
    CASE into a 13-row aggregate. 100 TB = one scan + one user-keyed
    join.
    """
    ev = read_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("event_type").isin("view", "purchase")
    )
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    spans = ev.groupBy("user_id", "event_type").agg(
        F.min(us).alias("s_us"), (F.max(us) + 1).alias("e_us")
    )
    v = spans.filter(F.col("event_type") == "view").select(
        "user_id", F.col("s_us").alias("a_s"), F.col("e_us").alias("a_e")
    )
    p = spans.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("s_us").alias("b_s"),
        F.col("e_us").alias("b_e"),
    )
    pairs = v.join(p, v.user_id == p.p_user)
    return (
        pairs.select(F.expr(_ALLEN_EXPR).alias("relation"))
        .groupBy("relation")
        .agg(F.count("*").cast("bigint").alias("n_users"))
        .orderBy("relation")
    )


# ---------------------------------------------------------------------------
# Shapley-value channel attribution (exact over the 4-channel powerset)
# ---------------------------------------------------------------------------

#: Channel -> bitmask bit. Journey set = distinct channels a user
#: touched before their first purchase (all channels for non-buyers).
_SH_CHANNELS = (("view", 1), ("click", 2), ("signup", 4), ("error", 8))
_SH_N = len(_SH_CHANNELS)

#: Shapley coalition weights |S|!(n-1-|S|)!/n! for n=4, written as exact
#: rational literals inside the shared text.
_SH_W = {0: "(6.0/24.0)", 1: "(2.0/24.0)", 2: "(2.0/24.0)", 3: "(6.0/24.0)"}


def _sh_phi_expr(bit: int) -> str:
    """Shared-text Shapley value for the channel with bitmask ``bit``:
    the 8 marginal-contribution terms in FIXED ascending-subset order
    (written-order double accumulation — engine-identical)."""
    others = [b for _, b in _SH_CHANNELS if b != bit]
    terms = []
    for m in range(8):  # subsets of the other 3 channels
        s = sum(b for i, b in enumerate(others) if m & (1 << i))
        size = bin(m).count("1")
        terms.append(
            f"{_SH_W[size]} * (COALESCE(v_{s | bit}, 0.0)"
            f" - COALESCE(v_{s}, 0.0))"
        )
    return " + ".join(terms)


#: v(S) per subset: conversion rate among users whose journey set is
#: CONTAINED in S (zeta-transformed counts); empty denominators -> NULL
#: -> treated as 0 in the phi terms (documented: v undefined on subsets
#: no journey reaches).
_SH_V_EXPR = "CAST(conv_cum AS DOUBLE) / nullif(CAST(n_cum AS DOUBLE), 0.0)"


@query(
    "q_c6_shapley",
    oracle=f"""
    WITH fp AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'purchase'
                      THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS fp_us
      FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
    masked AS (
      SELECT e.user_id,
             {" + ".join(
        f"max(CASE WHEN e.event_type = '{c}'"
        f" AND (fp.fp_us IS NULL"
        f"      OR epoch_us(CAST(e.ts AS TIMESTAMP)) < fp.fp_us)"
        f" THEN {b} ELSE 0 END)" for c, b in _SH_CHANNELS)} AS mask,
             max(CASE WHEN fp.fp_us IS NOT NULL THEN 1 ELSE 0 END) AS conv
      FROM events e JOIN fp ON e.user_id = fp.user_id
      GROUP BY e.user_id),
    sets16 AS (
      SELECT mask, CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(conv) AS BIGINT) AS n_conv
      FROM masked GROUP BY mask),
    zeta AS (
      SELECT s.m AS mask,
             CAST(COALESCE(sum(t.n_users), 0) AS BIGINT) AS n_cum,
             CAST(COALESCE(sum(t.n_conv), 0) AS BIGINT) AS conv_cum
      FROM (SELECT UNNEST(generate_series(0, 15)) AS m) s
      LEFT JOIN sets16 t ON (t.mask & s.m) = t.mask
      GROUP BY s.m),
    vrow AS (
      SELECT {", ".join(
        f"max(CASE WHEN mask = {m} THEN {_SH_V_EXPR} END) AS v_{m}"
        for m in range(16))}
      FROM zeta),
    phis AS (
      SELECT {", ".join(
        f"{_sh_phi_expr(b)} AS phi_{c}" for c, b in _SH_CHANNELS)},
             v_15 AS v_full
      FROM vrow)
    SELECT ch AS channel, round(phi, 6) AS shapley_value,
           round(v_full, 6) AS v_grand_coalition
    FROM (
      SELECT unnest(['view','click','signup','error']) AS ch,
             unnest([phi_view, phi_click, phi_signup, phi_error]) AS phi,
             v_full
      FROM phis)
    ORDER BY channel
    """,
)
def q_c6_shapley(spark, sf_dir):
    """SHAPLEY-VALUE marketing attribution (Shapley 1953; the
    cooperative-game method behind 'data-driven attribution' in every
    ads platform — public): each channel's exact Shapley share of the
    conversion rate, over the 4-channel powerset. Journey set = distinct
    channels touched before the user's first purchase; v(S) = conversion
    rate of users whose journey is contained in S (a zeta transform of
    the 16 per-set count rows); phi_i = the 8 weighted marginal
    contributions, generated as ONE shared-text expression per channel
    with exact rational weights and fixed term order — the float
    algebra is bit-identical on both engines, so even the 6dp-rounded
    Shapley values hash-match. Complements last-touch (q_zd) and the
    streaming attribution (q_stream_attribution) with the
    game-theoretically fair split.

    Scale shape: two corpus passes (first-purchase agg, then the
    bitmask agg after a user-keyed join — same shuffle key, AQE reuses
    the partitioning), collapsing to SIXTEEN rows; the zeta transform
    is a 16x16 containment join and the Shapley algebra runs on one
    pivoted row. Channel-set size is the only exponential and it's
    fixed by the schema, not the data. 100 TB = two combinable aggs +
    one join.
    """
    ev = read_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    fp = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "purchase", us)).alias("fp_us")
    )
    e2 = ev.select("user_id", "event_type", us.alias("us")).join(fp, "user_id")
    pre = F.col("fp_us").isNull() | (F.col("us") < F.col("fp_us"))
    masked = e2.groupBy("user_id").agg(
        sum(
            [
                F.max(
                    F.when((F.col("event_type") == c) & pre, b).otherwise(0)
                )
                for c, b in _SH_CHANNELS
            ],
            F.lit(0),
        ).alias("mask"),
        F.max(
            F.when(F.col("fp_us").isNotNull(), 1).otherwise(0)
        ).alias("conv"),
    )
    sets16 = masked.groupBy("mask").agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("conv").cast("bigint").alias("n_conv"),
    )
    all_masks = spark.range(16).select(F.col("id").cast("int").alias("m"))
    zeta = (
        all_masks.join(
            sets16, F.expr("(mask & m) = mask"), "left"
        )
        .groupBy("m")
        .agg(
            F.coalesce(F.sum("n_users"), F.lit(0)).cast("bigint").alias("n_cum"),
            F.coalesce(F.sum("n_conv"), F.lit(0)).cast("bigint").alias("conv_cum"),
        )
        .withColumnRenamed("m", "mask")
    )
    vrow = zeta.agg(
        *[
            F.max(
                F.when(F.col("mask") == m, F.expr(_SH_V_EXPR))
            ).alias(f"v_{m}")
            for m in range(16)
        ]
    )
    phis = vrow.select(
        *[F.expr(_sh_phi_expr(b)).alias(f"phi_{c}") for c, b in _SH_CHANNELS],
        F.col("v_15").alias("v_full"),
    )
    stack = ", ".join(
        f"'{c}', phi_{c}, v_full" for c, _ in _SH_CHANNELS
    )
    return (
        phis.selectExpr(
            f"stack({_SH_N}, {stack}) AS (channel, phi, v_full)"
        )
        .select(
            "channel",
            F.round("phi", 6).alias("shapley_value"),
            F.round("v_full", 6).alias("v_grand_coalition"),
        )
        .orderBy("channel")
    )


# ---------------------------------------------------------------------------
# Cohort LTV accumulation curve
# ---------------------------------------------------------------------------


@query(
    "q_c7_ltv_curve",
    oracle="""
    WITH first_seen AS (
      SELECT user_id,
             date_trunc('week', min(ts)) AS cohort_week
      FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
    cohort_size AS (
      SELECT cohort_week, CAST(count(*) AS BIGINT) AS n_users
      FROM first_seen GROUP BY cohort_week),
    rev AS (
      SELECT f.cohort_week,
             CAST(date_diff('day', f.cohort_week,
                            date_trunc('week', e.ts)) // 7 AS BIGINT)
               AS weeks_since,
             CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events e JOIN first_seen f ON e.user_id = f.user_id
      WHERE e.event_type = 'purchase'
      GROUP BY 1, 2),
    curve AS (
      SELECT cohort_week, weeks_since,
             sum(cents) OVER (PARTITION BY cohort_week ORDER BY weeks_since
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_cents
      FROM rev)
    SELECT c.cohort_week AS cohort_week, c.weeks_since,
           s.n_users, CAST(c.cum_cents AS BIGINT) AS cum_revenue_cents,
           round(CAST(c.cum_cents AS DOUBLE) / CAST(s.n_users AS DOUBLE)
                 / 100.0, 6) AS ltv_per_user
    FROM curve c JOIN cohort_size s ON c.cohort_week = s.cohort_week
    ORDER BY c.cohort_week, c.weeks_since
    """,
)
def q_c7_ltv_curve(spark, sf_dir):
    """COHORT LTV CURVE: cumulative purchase revenue per user by
    (signup-cohort week, weeks since signup) — the lifetime-value
    triangle that pairs with q_at's retention triangle (retention counts
    presence, LTV accumulates value; together they price a cohort).
    Cohort = week of first event; revenue buckets by the PURCHASE's
    week, so a cohort's curve is monotone in exact integer cents and
    the only double is the closing per-user division.

    Scale shape: first-seen is one per-user min aggregate; revenue
    bucketing is a user-keyed join (same shuffle key — AQE reuses the
    partitioning) into a (cohort, week)-grain aggregate; the cumulative
    window runs per cohort over calendar-bounded frames. 100 TB = two
    combinable aggs + one join.
    """
    ev = read_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    # to_date: Spark's date_trunc yields TIMESTAMP where DuckDB's yields
    # DATE — align the cross-engine surface type at the source.
    first_seen = ev.groupBy("user_id").agg(
        F.to_date(F.date_trunc("week", F.min("ts"))).alias("cohort_week")
    )
    cohort_size = first_seen.groupBy("cohort_week").agg(
        F.count("*").cast("bigint").alias("n_users")
    )
    rev = (
        ev.filter(F.col("event_type") == "purchase")
        .join(first_seen, "user_id")
        .groupBy(
            "cohort_week",
            (
                F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week"))
                / 7
            )
            .cast("bigint")
            .alias("weeks_since"),
        )
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    w_cum = (
        Window.partitionBy("cohort_week")
        .orderBy("weeks_since")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    curve = rev.withColumn("cum_cents", F.sum("cents").over(w_cum))
    return (
        curve.join(cohort_size, "cohort_week")
        .select(
            "cohort_week",
            "weeks_since",
            "n_users",
            F.col("cum_cents").cast("bigint").alias("cum_revenue_cents"),
            F.round(
                F.col("cum_cents").cast("double")
                / F.col("n_users").cast("double")
                / 100.0,
                6,
            ).alias("ltv_per_user"),
        )
        .orderBy("cohort_week", "weeks_since")
    )


# ---------------------------------------------------------------------------
# Batch sessionization (gap-based sessions over the event log)
# ---------------------------------------------------------------------------

#: Inactivity gap that closes a session (the industry-standard 30 min).
SESSION_GAP_US = 30 * 60 * 1_000_000


@query(
    "q_dq_sessionize",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id
      FROM events WHERE user_id IS NOT NULL),
    m AS (
      SELECT user_id, us, event_id,
             CASE WHEN lag(us) OVER w IS NULL
                    OR us - lag(us) OVER w > {SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS brk
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
    s AS (
      SELECT user_id, us,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM m),
    per_sess AS (
      SELECT user_id, sid, CAST(count(*) AS BIGINT) AS n_ev,
             CAST(max(us) - min(us) AS BIGINT) AS dur_us
      FROM s GROUP BY user_id, sid)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(n_ev) AS BIGINT) AS n_events,
           CAST(max(n_ev) AS BIGINT) AS max_events,
           round(CAST(sum(dur_us) AS DOUBLE) / count(*), 6)
             AS avg_session_us
    FROM per_sess GROUP BY user_id
    ORDER BY user_id
    """,
)
def q_dq_sessionize(spark, sf_dir):
    """PER-USER SESSION STATISTICS — the engagement-KPI rollup one grain
    ABOVE the engine's session builder (``q_w5_sessionize`` emits the
    per-session rows; this emits the per-user layer product analytics
    reports on: session count, events per session, longest burst, mean
    dwell — the DAU-dashboard shape). Same gaps-and-islands recipe
    (>30-min inactivity closes a session, cumulative-sum over break
    flags), kept inline rather than stacked on q_w5 so the whole
    pipeline stays ONE user-grain exchange (plan-asserted in
    tests/test_plans.py). Session membership depends only on the SORTED
    multiset of timestamps, so equal-timestamp tie order cannot change
    the result; all durations stay exact integer microseconds until the
    one shared-text close.

    Scale shape: one user-grain window pass (single shuffle on user_id,
    the same partitioning both window steps and both rollups reuse), then
    combinable aggregates. 100 TB = one scan + one user-grain shuffle —
    no global sort, nothing driver-side.
    """
    ev = (
        read_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select(
            "user_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
            "event_id",
        )
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    brk = (
        F.when(
            F.lag("us").over(w).isNull()
            | ((F.col("us") - F.lag("us").over(w)) > SESSION_GAP_US),
            1,
        )
        .otherwise(0)
        .alias("brk")
    )
    s = ev.select("user_id", "us", "event_id", brk).select(
        "user_id",
        "us",
        F.sum("brk")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("sid"),
    )
    per_sess = s.groupBy("user_id", "sid").agg(
        F.count("*").cast("bigint").alias("n_ev"),
        (F.max("us") - F.min("us")).cast("bigint").alias("dur_us"),
    )
    return (
        per_sess.groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_sessions"),
            F.sum("n_ev").cast("bigint").alias("n_events"),
            F.max("n_ev").cast("bigint").alias("max_events"),
            F.round(
                F.sum("dur_us").cast("double") / F.count("*").cast("double"), 6
            ).alias("avg_session_us"),
        )
        .orderBy("user_id")
    )
