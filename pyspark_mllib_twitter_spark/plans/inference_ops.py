"""Statistical inference & sequence analytics (round 7, batch 2):
Poisson-bootstrap confidence intervals, autocorrelation, RFM
segmentation, degree assortativity, sequential-pattern support, and M4
time-series downsampling.

Design rules carried from the rest of the engine (see mining_ops.py):

- **Cross-engine float discipline.** Everything the oracle hashes is
  exact integer/DECIMAL arithmetic (cents, epoch microseconds, degree
  moments) until a final shared-text DOUBLE expression that both engines
  evaluate on identical inputs — IEEE multiply/divide/sqrt on identical
  operands with identical expression text is bit-deterministic.
- **One-pass mergeable aggregation.** Bootstrap replicates, ACF moment
  sums, assortativity moments, and M4 bucket extrema are all map-side
  combinable aggregates; nothing here sorts the corpus globally or
  collects data to the driver.
- **Deterministic pseudo-randomness.** Resampling weights derive from
  md5 of (key, replicate) — the same portable-hash idiom as the
  weighted-priority sample (corpus_ops: ``_WS_U_SQL``) — so both engines
  draw the identical bootstrap and the result is hash-checkable, unlike
  ``rand()``-based resampling.

Reference scope: the reference (COMP5349_2.py) has none of this surface;
these extend the engine per the north-star mandate (training-data
pipeline + warehouse analytics at 100 TB).
"""

from __future__ import annotations

import math

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..sources import read_table, spread
from .registry import query, sql_query


# ---------------------------------------------------------------------------
# Poisson bootstrap CI (the resampling method that scales)
# ---------------------------------------------------------------------------

#: Bootstrap replicate count. 32 is plenty for a percentile-free
#: rank-symmetric CI at demo scale; at 100 TB you'd use 100-500 — the
#: plan shape (explode x R, one combinable aggregate) is unchanged.
BOOT_R = 32

#: Cumulative Poisson(1) probabilities P(X <= k), k = 0..7; a draw lands
#: in bucket k when u < cdf[k]. Beyond 7 the tail mass is < 1.1e-5; the
#: CASE clamps there (bias < 1e-4 draws per million, identical on both
#: engines because the clamp is part of the shared text).
_POIS_CDF = [
    "0.36787944117144233",
    "0.73575888234288467",
    "0.91969860292860584",
    "0.98101184312384615",
    "0.99634015317265628",
    "0.99940581518241827",
    "0.99991675885404192",
    "0.99998975943598505",
]


def _pois_case(u_expr: str) -> str:
    """Shared-text Poisson(1) inverse CDF: uniform expression -> weight."""
    whens = " ".join(
        f"WHEN {u_expr} < {c} THEN {k}" for k, c in enumerate(_POIS_CDF)
    )
    return f"(CASE {whens} ELSE 8 END)"


#: Uniform-in-(0,1) for (order, replicate) — md5 first 8 hex chars, the
#: established portable-hash idiom. Dyadic rational: exact in DOUBLE.
_BOOT_U_DUCK = (
    "(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || ':' ||"
    " CAST(rep AS VARCHAR)), 1, 8))::BIGINT + 1) / 4294967297.0"
)
_BOOT_U_SPARK = (
    "((CAST(conv(substring(md5(concat(CAST(o_orderkey AS STRING), ':',"
    " CAST(rep AS STRING))), 1, 8), 16, 10) AS BIGINT) + 1) / 4294967297.0)"
)

#: Shared final arithmetic on the exact per-replicate sums.
_BOOT_MEAN = "round(CAST(swc AS DOUBLE) / sw / 100.0, 6)"


@query(
    "q_zh_poisson_bootstrap",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders),
    reps AS (
      SELECT b.o_orderkey, b.cents, r.rep,
             {_pois_case(_BOOT_U_DUCK)} AS w
      FROM base b CROSS JOIN (SELECT unnest(range({BOOT_R})) AS rep) r),
    boot AS (
      SELECT rep,
             CAST(SUM(w) AS BIGINT) AS sw,
             SUM(CAST(w AS DECIMAL(38,0)) * cents) AS swc
      FROM reps GROUP BY rep),
    means AS (SELECT rep, sw, {_BOOT_MEAN} AS boot_mean FROM boot),
    point AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             round(CAST(SUM(CAST(cents AS DECIMAL(38,0))) AS DOUBLE)
                   / COUNT(*) / 100.0, 6) AS point_mean
      FROM base)
    SELECT p.n, p.point_mean,
           CAST({BOOT_R} AS BIGINT) AS n_reps,
           quantile_disc(m.boot_mean, 0.025) AS boot_lo,
           quantile_disc(m.boot_mean, 0.975) AS boot_hi
    FROM means m CROSS JOIN point p
    GROUP BY p.n, p.point_mean
    """,
)
def q_zh_poisson_bootstrap(spark, sf_dir):
    """Poisson bootstrap confidence interval for mean order value — THE
    resampling scheme that survives 100 TB. Classical bootstrap draws n
    rows WITH replacement, which needs the global n and a sequential
    sampler; the Poisson approximation gives every row an independent
    Poisson(1) resample count, so the whole bootstrap is one map-side
    expression (explode x R replicates) plus one combinable aggregate —
    no coordination, no second pass, mergeable across 1000 executors.

    Determinism: the per-(row, replicate) uniform comes from md5 — the
    portable-hash idiom of q_ye_weighted_sample — pushed through a
    shared-text Poisson(1) inverse-CDF CASE, so both engines draw the
    IDENTICAL resample and the replicate means hash-match exactly;
    ``rand()``-based bootstraps cannot be oracle-checked at all. Weighted
    sums stay in exact cents-DECIMAL until one shared-text double
    division per replicate.

    Scale shape: scan -> explode(sequence(0, R-1)) -> groupBy(rep) —
    R x n rows, all whole-stage codegen, partial-aggregated map-side to
    R rows before the (tiny) shuffle. The CI is read off the replicate
    means by discrete quantile. Spark's plan: one scan, one exchange of
    32 rows.
    """
    # spread: the single-row-group scan is ONE partition, and everything
    # heavy here (R-way explode, one md5 + inverse-CDF CASE per exploded
    # row, the decimal partial aggregation) runs BEFORE the first
    # exchange — without the repartition the whole R x n map stage is
    # single-core (measured r14: 10.0s -> 1.9s solo). Row-wise md5 is
    # deterministic, so placement cannot change any replicate.
    base = spread(
        read_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
    )
    reps = base.select(
        "o_orderkey",
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(BOOT_R - 1))).alias("rep"),
    ).withColumn("w", F.expr(_pois_case(_BOOT_U_SPARK)))
    boot = reps.groupBy("rep").agg(
        F.sum("w").cast("bigint").alias("sw"),
        F.sum(F.col("w").cast("decimal(38,0)") * F.col("cents")).alias("swc"),
    )
    means = boot.select("rep", "sw", F.expr(_BOOT_MEAN).alias("boot_mean"))
    point = base.agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(
            F.sum(F.col("cents").cast("decimal(38,0)")).cast("double")
            / F.count("*")
            / 100.0,
            6,
        ).alias("point_mean"),
    )
    ci = means.groupBy().agg(
        F.expr("percentile_disc(0.025) WITHIN GROUP (ORDER BY boot_mean)").alias(
            "boot_lo"
        ),
        F.expr("percentile_disc(0.975) WITHIN GROUP (ORDER BY boot_mean)").alias(
            "boot_hi"
        ),
    )
    return point.crossJoin(ci).select(
        "n",
        "point_mean",
        F.lit(BOOT_R).cast("bigint").alias("n_reps"),
        "boot_lo",
        "boot_hi",
    )


# ---------------------------------------------------------------------------
# Autocorrelation function (ACF) of the daily revenue series
# ---------------------------------------------------------------------------

#: Maximum lag (days).
ACF_MAX_LAG = 7

#: Shared-text ACF estimator on exact cents-domain moment sums; mu and the
#: demeaned cross-moment expansion happen ONCE here, in text both engines
#: interpolate. acf_k = sum_{t<=n-k}(x_t - mu)(x_{t+k} - mu) / sum(x - mu)^2
#: with the full-series mean mu (the textbook biased estimator).
_ACF_EXPR = (
    "round(((CAST(sxy AS DOUBLE) / 10000.0)"
    " - mu * (CAST(sa AS DOUBLE) / 100.0)"
    " - mu * (CAST(sb AS DOUBLE) / 100.0)"
    " + nk * mu * mu)"
    " / ((CAST(sxx AS DOUBLE) / 10000.0) - n * mu * mu), 6)"
)
_ACF_MU = "CAST(sx AS DOUBLE) / n / 100.0"


@query(
    "q_zi_acf",
    oracle=f"""
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS day,
             SUM(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                      AS DECIMAL(38,0))) AS x
      FROM orders GROUP BY 1),
    idx AS (
      SELECT row_number() OVER (ORDER BY day) AS t, x FROM daily),
    totals AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS sx,
             SUM(x * x) AS sxx
      FROM idx),
    lagged AS (
      SELECT k.lag AS lag, CAST(COUNT(*) AS BIGINT) AS nk,
             SUM(a.x * b.x) AS sxy, SUM(a.x) AS sa, SUM(b.x) AS sb
      FROM (SELECT unnest(range(1, {ACF_MAX_LAG + 1})) AS lag) k
      JOIN idx a ON TRUE
      JOIN idx b ON b.t = a.t + k.lag
      GROUP BY k.lag),
    mu AS (SELECT n, sx, sxx, {_ACF_MU} AS mu FROM totals)
    SELECT l.lag, l.nk, {_ACF_EXPR} AS acf
    FROM lagged l CROSS JOIN mu
    ORDER BY l.lag
    """,
)
def q_zi_acf(spark, sf_dir):
    """Autocorrelation function (lags 1..7) of the daily order-revenue
    series — the time-series diagnostic behind seasonality detection
    (q_yx gives the day-of-week decomposition; the ACF says WHICH lags
    carry structure without assuming a period).

    Exactness: daily revenue is an exact cents DECIMAL; every ACF moment
    (sum, sum of squares, lagged cross-products) stays in DECIMAL(38,0),
    and the demeaned estimator is expanded algebraically so the ONLY
    floating-point work is one shared-text expression on those exact
    sums — no engine-ordered float accumulation anywhere.

    Scale shape: the corpus-sized work is the one map-side-combinable
    groupBy(day); everything after runs on the day-count-sized series
    (bounded: 10 years of micro-batched telemetry is ~3.7k rows), so the
    row_number window and the 7-lag self-join are deliberately
    driver-scale-tiny — document-and-contain, the same post-aggregate
    smallness argument as q_y7/q_yx. The lag join is an equi-join on t
    generated from explode(sequence(1, 7)).
    """
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
    idx = daily.selectExpr("row_number() OVER (ORDER BY day) AS t", "x")
    glob = idx.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    ).withColumn("mu", F.expr(_ACF_MU))
    lags = spark.range(1, ACF_MAX_LAG + 1).select(F.col("id").alias("lag"))
    a = idx.alias("a")
    b = idx.alias("b")
    lagged = (
        lags.crossJoin(a)
        .join(b, F.col("b.t") == F.col("a.t") + F.col("lag"))
        .groupBy("lag")
        .agg(
            F.count("*").cast("bigint").alias("nk"),
            F.sum(F.col("a.x") * F.col("b.x")).alias("sxy"),
            F.sum(F.col("a.x")).alias("sa"),
            F.sum(F.col("b.x")).alias("sb"),
        )
    )
    return (
        lagged.crossJoin(F.broadcast(glob))
        .select("lag", "nk", F.expr(_ACF_EXPR).alias("acf"))
        .orderBy("lag")
    )


# ---------------------------------------------------------------------------
# RFM segmentation (recency / frequency / monetary quintiles)
# ---------------------------------------------------------------------------


# RFM segmentation: recency, frequency and monetary quintiles (5 = best), each
# ntile ordered by (metric, o_custkey) so tiles are reproducible.
sql_query(
    "q_zj_rfm",
    """
    WITH cust AS (
      SELECT o_custkey,
             CAST(CAST((SELECT MAX(o_orderdate) FROM orders) AS DATE)
                  - CAST(MAX(o_orderdate) AS DATE) AS BIGINT) AS recency_days,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             SUM(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                      AS DECIMAL(38,0))) AS monetary_cents
      FROM orders GROUP BY o_custkey),
    scored AS (
      SELECT o_custkey, monetary_cents,
             ntile(5) OVER (ORDER BY recency_days DESC, o_custkey) AS r_score,
             ntile(5) OVER (ORDER BY frequency ASC, o_custkey) AS f_score,
             ntile(5) OVER (ORDER BY monetary_cents ASC, o_custkey) AS m_score
      FROM cust)
    SELECT CAST(r_score AS INT) AS r_score,
           CAST(f_score AS INT) AS f_score,
           CAST(m_score AS INT) AS m_score,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           round(CAST(SUM(monetary_cents) AS DOUBLE) / COUNT(*) / 100.0, 6)
             AS avg_monetary
    FROM scored
    GROUP BY r_score, f_score, m_score
    ORDER BY r_score, f_score, m_score
    """,
)


# ---------------------------------------------------------------------------
# Degree assortativity of the folded link graph
# ---------------------------------------------------------------------------

#: Node-fold modulus — same constant family as the other graph entries
#: (kcore/pagerank/triangles) so all graph operators run on one graph.
#: 2003 (prime) is wide enough that the sf0.1 folded graph stays sparse:
#: at 211 the ~600k sf0.1 lineitem pairs saturated all 211*210/2 edges,
#: the graph became complete, the degree variance hit exactly 0 and the
#: ANSI-mode division raised DIVIDE_BY_ZERO (round-7 bench failure).
ASSORT_MOD = 2003

#: Shared-text Pearson correlation over directed edge endpoint degrees
#: (each undirected edge contributes both orientations — the standard
#: Newman 2002 formulation). Moments are exact DECIMAL sums. The degree
#: variances are nullif-guarded: a regular (e.g. complete) folded graph
#: has zero variance and no defined correlation, so BOTH engines return
#: NULL instead of raising — the same degenerate-arm contract as
#: ``q_yi_abtest_ztest``.
_ASSORT_EXPR = (
    "round((m2 * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / (sqrt(nullif(m2 * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0))"
    " * sqrt(nullif(m2 * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE), 0.0))), 6)"
)


# Degree assortativity (Newman 2002) of the folded supplier-part graph: the
# Pearson correlation of endpoint degrees, from DECIMAL(38,0) moments.
sql_query(
    "q_zk_assortativity",
    f"""
    WITH folded AS (
      SELECT DISTINCT
             least(l_suppkey % {ASSORT_MOD}, l_partkey % {ASSORT_MOD}) AS u,
             greatest(l_suppkey % {ASSORT_MOD}, l_partkey % {ASSORT_MOD}) AS v
      FROM lineitem
      WHERE l_suppkey % {ASSORT_MOD} <> l_partkey % {ASSORT_MOD}),
    directed AS (
      SELECT u AS s, v AS d FROM folded
      UNION ALL SELECT v AS s, u AS d FROM folded),
    deg AS (SELECT s AS node, CAST(COUNT(*) AS BIGINT) AS deg
            FROM directed GROUP BY s),
    pairs AS (
      SELECT ds.deg AS du, dd.deg AS dv
      FROM directed e JOIN deg ds ON ds.node = e.s
                      JOIN deg dd ON dd.node = e.d),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m2,
             SUM(CAST(du AS DECIMAL(38,0))) AS sx,
             SUM(CAST(dv AS DECIMAL(38,0))) AS sy,
             SUM(CAST(du AS DECIMAL(38,0)) * du) AS sxx,
             SUM(CAST(dv AS DECIMAL(38,0)) * dv) AS syy,
             SUM(CAST(du AS DECIMAL(38,0)) * dv) AS sxy
      FROM pairs)
    SELECT m2, {_ASSORT_EXPR} AS assortativity FROM m
    """,
)


# ---------------------------------------------------------------------------
# Sequential-pattern support (a-then-b over per-user event streams)
# ---------------------------------------------------------------------------


@query(
    "q_zl_seqpat",
    oracle="""
    WITH per_type AS (
      SELECT user_id, event_type,
             MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS tmin,
             MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS tmax
      FROM events WHERE user_id IS NOT NULL
      GROUP BY user_id, event_type),
    users AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
              FROM per_type),
    pat AS (
      SELECT a.event_type AS first_type, b.event_type AS then_type,
             CAST(COUNT(*) AS BIGINT) AS support
      FROM per_type a JOIN per_type b USING (user_id)
      WHERE a.event_type <> b.event_type AND a.tmin < b.tmax
      GROUP BY a.event_type, b.event_type)
    SELECT p.first_type, p.then_type, p.support,
           round(CAST(p.support AS DOUBLE) / u.n_users, 6) AS support_frac
    FROM pat p CROSS JOIN users u
    ORDER BY p.first_type, p.then_type
    """,
)
def q_zl_seqpat(spark, sf_dir):
    """Length-2 sequential-pattern support over per-user event streams
    (the counting core of GSP/PrefixSpan, public): for every ordered
    type pair (a, b), how many users performed SOME a strictly before
    SOME b. The existence quantifier reduces exactly to min/max: a user
    exhibits a-then-b iff min_ts(a) < max_ts(b) — so the whole mining
    pass needs only one per-(user, type) min/max aggregate, never a
    per-occurrence self-join.

    Scale shape: the corpus-sized reduce is the combinable
    groupBy(user, type) min/max; the pattern join is per-user and
    bounded by the (small) event-type alphabet, so its output is at most
    |types|^2 rows per user — linear in users, NOT in events. Support
    arithmetic is exact epoch-microsecond integers; the only double is
    the shared-text support fraction. At 100 TB this is the canonical
    two-shuffle plan: reduce by (user, type), then reduce by (a, b).
    """
    ev = read_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    per_type = ev.groupBy("user_id", "event_type").agg(
        F.min(us).alias("tmin"), F.max(us).alias("tmax")
    )
    n_users = per_type.agg(
        F.countDistinct("user_id").cast("bigint").alias("n_users")
    )
    a = per_type.select(
        "user_id", F.col("event_type").alias("first_type"), "tmin"
    )
    b = per_type.select(
        "user_id", F.col("event_type").alias("then_type"), "tmax"
    )
    pat = (
        a.join(b, "user_id")
        .filter(
            (F.col("first_type") != F.col("then_type"))
            & (F.col("tmin") < F.col("tmax"))
        )
        .groupBy("first_type", "then_type")
        .agg(F.count("*").cast("bigint").alias("support"))
    )
    return (
        pat.crossJoin(F.broadcast(n_users))
        .select(
            "first_type",
            "then_type",
            "support",
            F.round(F.col("support").cast("double") / F.col("n_users"), 6).alias(
                "support_frac"
            ),
        )
        .orderBy("first_type", "then_type")
    )


# ---------------------------------------------------------------------------
# M4 time-series downsampling (visualization-exact aggregation)
# ---------------------------------------------------------------------------

#: Pixel-bucket count. M4 emits <= 4 points per bucket.
M4_BUCKETS = 64

#: Shared-text bucket index: equal-width over the [tmin, tmax] epoch-us
#: span. (e - tmin) * B stays < 2^53, so the double multiply/divide is
#: exact enough to be engine-identical; least() clamps e = tmax into the
#: last bucket.
_M4_BUCKET = (
    f"CAST(least({M4_BUCKETS - 1}, floor(CAST((us - tmin) AS DOUBLE)"
    f" * {M4_BUCKETS} / CAST((tmax - tmin + 1) AS DOUBLE))) AS BIGINT)"
)


@query(
    "q_zm_m4_downsample",
    oracle=f"""
    WITH ev AS (
      SELECT event_id, value, epoch_us(CAST(ts AS TIMESTAMP)) AS us
      FROM events),
    span AS (SELECT MIN(us) AS tmin, MAX(us) AS tmax FROM ev),
    bucketed AS (
      SELECT {_M4_BUCKET} AS bucket, event_id, value, us
      FROM ev CROSS JOIN span),
    ranked AS (
      SELECT bucket, value, us,
             row_number() OVER (PARTITION BY bucket
                                ORDER BY us, event_id) AS rn_first,
             row_number() OVER (PARTITION BY bucket
                                ORDER BY us DESC, event_id DESC) AS rn_last
      FROM bucketed)
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(value) AS vmin,
           MAX(value) AS vmax,
           MIN(CASE WHEN rn_first = 1 THEN value END) AS vfirst,
           MIN(CASE WHEN rn_last = 1 THEN value END) AS vlast
    FROM ranked
    GROUP BY bucket ORDER BY bucket
    """,
)
def q_zm_m4_downsample(spark, sf_dir):
    """M4 downsampling (Jugel et al., VLDB 2014, public): reduce a time
    series to min/max/first/last per equal-width time bucket — the
    error-free aggregation for line-chart rendering (those four points
    per pixel column reproduce the exact pixel-perfect polyline), and
    the standard first pass for dashboarding 100 TB of telemetry.

    Determinism: first/last tie-break on (ts, event_id) — a total order.
    The Spark side uses min_by/max_by with a struct key (one combinable
    aggregate, NO window); the oracle states the same selection with
    row_number, and the hash compare proves the semantics equal. min/max
    of doubles are selections, not sums — no float-order hazard.

    Scale shape: global span is a 1-row broadcast; bucketing is map-only
    shared-text arithmetic on epoch-us integers; the M4 reduce is ONE
    map-side-combinable groupBy(bucket) carrying four scalars per
    bucket. Contrast the oracle's window formulation: fine for SQL, but
    a per-bucket sort at scale — the aggregate form ships O(buckets)
    rows through the shuffle instead.
    """
    ev = read_table(spark, sf_dir, "events").select(
        "event_id",
        "value",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    span = ev.agg(F.min("us").alias("tmin"), F.max("us").alias("tmax"))
    bucketed = ev.crossJoin(F.broadcast(span)).withColumn(
        "bucket", F.expr(_M4_BUCKET)
    )
    key = F.struct(F.col("us"), F.col("event_id"))
    return (
        bucketed.groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.min("value").alias("vmin"),
            F.max("value").alias("vmax"),
            F.min_by("value", key).alias("vfirst"),
            F.max_by("value", key).alias("vlast"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Mann-Kendall trend test (nonparametric monotone trend)
# ---------------------------------------------------------------------------

#: Shared-text close: continuity-corrected z from exact integer S and the
#: tie-corrected variance (Kendall 1975). var_s arrives pre-multiplied by
#: 18 so it is an exact integer too.
_MK_Z = (
    "round(CASE WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1)"
    " / sqrt(CAST(var18 AS DOUBLE) / 18.0)"
    " WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1)"
    " / sqrt(CAST(var18 AS DOUBLE) / 18.0)"
    " ELSE 0.0 END, 6)"
)


# Mann-Kendall trend test on daily revenue with the exact tie correction.
# var18 keeps the /18 unapplied so it stays an integer.
sql_query(
    "q_zn_mann_kendall",
    f"""
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS day,
             SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders GROUP BY 1),
    pairs AS (
      SELECT CAST(SUM(CASE WHEN b.cents > a.cents THEN 1
                           WHEN b.cents < a.cents THEN -1 ELSE 0 END)
                  AS BIGINT) AS s
      FROM daily a JOIN daily b ON b.day > a.day),
    ties AS (
      SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
               AS tie18
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM daily
            GROUP BY cents HAVING COUNT(*) > 1)),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily),
    m AS (
      SELECT p.s, nn.n,
             nn.n * (nn.n - 1) * (2 * nn.n + 5) - ties.tie18 AS var18
      FROM pairs p CROSS JOIN ties CROSS JOIN nn)
    SELECT n, s, {_MK_Z} AS z FROM m
    """,
)


# ---------------------------------------------------------------------------
# Theil-Sen robust slope (median of pairwise slopes)
# ---------------------------------------------------------------------------

#: Shared-text per-pair slope: cents/day -> currency units per day. Exact
#: integer numerator and denominator, one double division.
_TS_SLOPE = (
    "CAST((b_cents - a_cents) AS DOUBLE) / 100.0"
    " / CAST(date_diff('day', a_day, b_day) AS DOUBLE)"
)


@query(
    "q_zo_theil_sen",
    oracle=f"""
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS day,
             SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders GROUP BY 1),
    slopes AS (
      SELECT {_TS_SLOPE} AS slope
      FROM (SELECT day AS a_day, cents AS a_cents FROM daily) a
      JOIN (SELECT day AS b_day, cents AS b_cents FROM daily) b
        ON b_day > a_day)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           round(quantile_disc(slope, 0.5), 6) AS slope_per_day
    FROM slopes
    """,
)
def q_zo_theil_sen(spark, sf_dir):
    """Theil-Sen robust slope of the daily revenue series: the MEDIAN of
    all pairwise slopes (Theil 1950 / Sen 1968, public) — up to ~29%
    contamination tolerance where OLS (q_z9) has none; the estimator
    behind robust trend lines. Pairs with the Mann-Kendall test (q_zn):
    MK decides trend EXISTENCE, Theil-Sen gives its MAGNITUDE.

    Exactness: every pair slope is one shared-text division of exact
    integers (cents delta / day delta); the median is a discrete
    quantile — selection, not summation, so no float-order hazard. The
    selection is the SAME value percentile_disc(0.5) returns (smallest
    slope whose cumulative count reaches ceil(n/2), i.e. the k-th order
    statistic at k = (n+1)//2), computed by ``_kth_smallest`` — r14: the
    percentile_disc aggregate buffered all ~2.9M distinct pair slopes
    into per-partition hash maps and merged them single-threaded
    (measured 7.5s of the entry's 10.1s); histogram narrowing keeps
    every pass map-side combinable and bounded.

    Scale shape: same document-and-contain O(days^2) envelope as q_zn —
    the self-join runs on the post-aggregate series, and the median is
    the bounded-histogram selection over the pair set (driver sees only
    <=4097-row histograms per level, never slopes). For series too long
    for exact pairs, the published scale path is slope sampling or
    approx_percentile over bucketed pair slopes — the q_yn/q_yo swap.
    """
    daily = (
        read_table(spark, sf_dir, "orders")
        .groupBy(F.date_trunc("day", F.col("o_orderdate")).alias("day"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
                "cents"
            )
        )
    )
    # The day-grain aggregate is tiny (~2.4k rows), so AQE coalesces it to
    # ONE partition — which then makes the O(days^2) nested-loop pair
    # stage AND the percentile partial-aggregation single-core (measured
    # r14: 10.1s solo). Pin the small side as the broadcast build and
    # fan the stream side out to session parallelism: ~n_days^2/32 pair
    # evaluations per task, exact selection unchanged by placement.
    par = spark.sparkContext.defaultParallelism
    a = daily.select(
        F.col("day").alias("a_day"), F.col("cents").alias("a_cents")
    ).repartition(par)
    b = F.broadcast(
        daily.select(F.col("day").alias("b_day"), F.col("cents").alias("b_cents"))
    )
    # try_divide, not '/': the selection below filters on bucket(slope),
    # and Catalyst merges that filter INTO the nested-loop join condition,
    # where it is evaluated for SAME-DAY pairs the b_day > a_day conjunct
    # rejects — datediff = 0 there, and ANSI '/' throws DIVIDE_BY_ZERO.
    # For every pair the join keeps (datediff >= 1) try_divide IS '/';
    # the null it returns for rejected pairs never survives the join.
    slopes = a.join(b, F.col("b_day") > F.col("a_day")).select(
        F.try_divide(
            (F.col("b_cents") - F.col("a_cents")).cast("double") / 100.0,
            F.datediff(F.col("b_day"), F.col("a_day")).cast("double"),
        ).alias("slope")
    )
    return _kth_smallest_report(spark, slopes, "slope")


#: Histogram width and depth of :func:`_kth_smallest_report`'s selection.
_KTH_BUCKETS = 4096
_KTH_LEVELS = 3


def _kth_smallest_report(spark, slopes, col):
    """(n_pairs, round(median, 6)) via exact distributed selection of the
    k-th order statistic, k = (n+1)//2 — value-identical to
    ``percentile_disc(0.5) WITHIN GROUP (ORDER BY col)`` (the smallest
    value whose cumulative count reaches ceil(n/2)), without its
    collect-every-distinct-value aggregation state.

    Protocol: one (count, min, max) aggregate; then per level one
    histogram aggregate ``groupBy(bucket).agg(count, min, max)`` whose
    bucket expression uses only Python-float literals (so the count pass
    and the narrowing filter evaluate bit-identical doubles), walking the
    <=_KTH_BUCKETS rows on the driver to find the bucket containing rank k;
    the next level re-narrows using the bucket's ACTUAL [min, max] (no
    float boundary arithmetic). The final remainder (a few rows after two
    levels at bench scale; all-tied values short-circuit on lo == hi) is
    an orderBy + limit(k - rank_below) + max — the m-th smallest inside
    the bucket. Driver-side data is bounded by _KTH_BUCKETS per level (the
    ``_doubled_tie_ranks`` offset-collect discipline), never value-sized.
    """
    first = slopes.agg(
        F.count("*").alias("n"), F.min(col).alias("lo"), F.max(col).alias("hi")
    ).collect()[0]
    n, lo, hi = first["n"], first["lo"], first["hi"]
    if not n:
        # empty input: match the original aggregate's (0, NULL) row.
        return slopes.agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.round(
                F.expr(f"percentile_disc(0.5) WITHIN GROUP (ORDER BY {col})"), 6
            ).alias("slope_per_day"),
        )
    k = (n + 1) // 2
    conds = []
    rank_below = 0  # values strictly before the current narrowed range
    for _ in range(_KTH_LEVELS):
        if math.isnan(lo) or math.isnan(hi):
            # F.max orders NaN above every double, so a NaN makes lo < hi
            # false and the shortcut below would return the minimum.
            raise ValueError(
                f"_kth_smallest_report: {col} contains NaN (n={n}); "
                "its median is undefined"
            )
        if not (lo < hi):
            # All values in the narrowed range are equal (level 0: the whole
            # input is one tied value) — the k-th smallest IS lo; returning
            # it directly avoids a sort+limit over ~n/2 rows (r14 advice).
            return spark.range(1).select(
                F.lit(int(n)).cast("bigint").alias("n_pairs"),
                F.round(F.lit(float(lo)), 6).alias("slope_per_day"),
            )
        w = (hi - lo) / _KTH_BUCKETS
        if w <= 0:
            break
        bucket = F.least(
            F.floor((F.col(col) - F.lit(lo)) / F.lit(w)), F.lit(_KTH_BUCKETS - 1)
        ).cast("int")
        narrowed = slopes
        for c in conds:
            narrowed = narrowed.filter(c)
        hist = (
            narrowed.groupBy(bucket.alias("b"))
            .agg(F.count("*").alias("c"), F.min(col).alias("blo"), F.max(col).alias("bhi"))
            .orderBy("b")
            .collect()
        )
        cum = rank_below
        tgt = None
        for r in hist:
            if cum + r["c"] >= k:
                tgt = r
                break
            cum += r["c"]
        if tgt is None:
            # Cannot happen for well-ordered doubles (the histogram's total
            # count reaches k by construction); a NaN-polluted input whose
            # agg min/max ordering disagrees with >= comparisons could get
            # here — fail loudly instead of a bare TypeError (r14 advice).
            raise ValueError(
                f"_kth_smallest_report: rank-{k} bucket not found while "
                f"narrowing {col} (n={n}, range [{lo}, {hi}]); input may "
                "contain NaNs"
            )
        rank_below = cum
        conds.append(bucket == int(tgt["b"]))
        lo, hi = tgt["blo"], tgt["bhi"]
        if tgt["c"] <= _KTH_BUCKETS:  # remainder already tiny — stop narrowing
            break
    remain = slopes
    for c in conds:
        remain = remain.filter(c)
    med = (
        remain.orderBy(col)
        .limit(k - rank_below)
        .agg(F.max(col).alias("m"))
        .select(
            F.lit(int(n)).cast("bigint").alias("n_pairs"),
            F.round(F.col("m"), 6).alias("slope_per_day"),
        )
    )
    return med


# ---------------------------------------------------------------------------
# Market concentration (HHI + CR4) per customer segment
# ---------------------------------------------------------------------------

#: Shared-text closes on exact cents sums: HHI on the 0..10000 "points"
#: scale (share-in-percent squared), CR4 as a fraction.
_HHI_EXPR = (
    "round(CAST(sum_sq AS DOUBLE) * 10000.0"
    " / (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE)), 6)"
)
_CR4_EXPR = "round(CAST(top4 AS DOUBLE) / CAST(tot AS DOUBLE), 6)"


# HHI and CR4 per segment. HHI sums cents^2 in DECIMAL and divides by tot^2
# once: summing share^2 would be an order-dependent double sum.
sql_query(
    "q_zp_concentration",
    f"""
    WITH spend AS (
      SELECT c.c_mktsegment AS segment, o.o_custkey,
             SUM(CAST(CAST(round(o.o_totalprice * 100) AS BIGINT)
                      AS DECIMAL(38,0))) AS cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2),
    ranked AS (
      SELECT segment, cents,
             row_number() OVER (PARTITION BY segment
                                ORDER BY cents DESC, o_custkey) AS rk
      FROM spend),
    agg AS (
      SELECT segment,
             CAST(COUNT(*) AS BIGINT) AS n_customers,
             SUM(cents) AS tot,
             SUM(cents * cents) AS sum_sq,
             SUM(CASE WHEN rk <= 4 THEN cents ELSE 0 END) AS top4
      FROM ranked GROUP BY segment)
    SELECT segment, n_customers, {_HHI_EXPR} AS hhi, {_CR4_EXPR} AS cr4
    FROM agg ORDER BY segment
    """,
)


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov statistic (distribution drift, exact)
# ---------------------------------------------------------------------------

KS_SAMPLE_A = "purchase"
KS_SAMPLE_B = "click"

#: Shared-text close: D from the exact integer max of |cum_a*n_b -
#: cum_b*n_a| (cross-multiplied so the running difference never touches
#: floats), then one division.
_KS_EXPR = "round(CAST(d_num AS DOUBLE) / (CAST(na AS DOUBLE) * nb), 6)"


# Exact two-sample Kolmogorov-Smirnov D between two event types' values. The
# ECDF gap is cross-multiplied into integers; values group before accumulating.
sql_query(
    "q_zq_ks_twosample",
    f"""
    WITH ev AS (
      SELECT value,
             CASE WHEN event_type = '{KS_SAMPLE_A}' THEN 1 ELSE 0 END AS ia,
             CASE WHEN event_type = '{KS_SAMPLE_B}' THEN 1 ELSE 0 END AS ib
      FROM events WHERE event_type IN ('{KS_SAMPLE_A}', '{KS_SAMPLE_B}')),
    grp AS (
      SELECT value, CAST(SUM(ia) AS BIGINT) AS ca, CAST(SUM(ib) AS BIGINT) AS cb
      FROM ev GROUP BY value),
    cum AS (
      SELECT value,
             SUM(ca) OVER (ORDER BY value
                           ROWS UNBOUNDED PRECEDING) AS cum_a,
             SUM(cb) OVER (ORDER BY value
                           ROWS UNBOUNDED PRECEDING) AS cum_b
      FROM grp),
    tot AS (
      SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb
      FROM grp),
    d AS (
      SELECT c.value, abs(c.cum_a * t.nb - c.cum_b * t.na) AS dn,
             t.na, t.nb
      FROM cum c CROSS JOIN tot t),
    best AS (
      SELECT na, nb, dn AS d_num, value AS at_value
      FROM d ORDER BY dn DESC, value ASC LIMIT 1)
    SELECT na, nb, at_value, {_KS_EXPR} AS ks_d FROM best
    """,
)


# ---------------------------------------------------------------------------
# Wilson-score lower-bound ranking (round 7, batch 7)
# ---------------------------------------------------------------------------

_WILSON_Z = "CAST(1.959963984540054 AS DOUBLE)"  # 97.5th normal quantile
_WILSON_COHORTS = 20

#: Wilson score interval lower bound from integer (s, n), shared text
#: (Wilson 1927; the ranking fix for small-sample proportions popularized
#: by Miller's "How Not To Sort By Average Rating" — public). Every
#: fractional literal is CAST to DOUBLE: Spark parses bare decimal
#: literals as DECIMAL and silently truncates ratios (the q_ab lesson).
_WILSON_P = "(CAST(s AS DOUBLE) / CAST(n AS DOUBLE))"
_WILSON_LB = (
    f"((({_WILSON_P}) + {_WILSON_Z} * {_WILSON_Z} / (2.0 * CAST(n AS DOUBLE))"
    f" - {_WILSON_Z} * sqrt((({_WILSON_P}) * (1.0 - ({_WILSON_P}))"
    f" + {_WILSON_Z} * {_WILSON_Z} / (4.0 * CAST(n AS DOUBLE))) / CAST(n AS DOUBLE)))"
    f" / (1.0 + {_WILSON_Z} * {_WILSON_Z} / CAST(n AS DOUBLE)))"
)


# Cohorts ranked by the Wilson score lower bound (Wilson 1927), so 3/3 does not
# outrank 90/100; one shared expression keeps the ordering engine-portable.
sql_query(
    "q_ad_wilson_ranking",
    f"""
    WITH c AS (
      SELECT user_id % {_WILSON_COHORTS} AS cohort,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS s
      FROM events WHERE user_id IS NOT NULL
      GROUP BY 1)
    SELECT CAST(cohort AS BIGINT) AS cohort, n, s,
           round({_WILSON_P}, 6) AS p_hat,
           round({_WILSON_LB}, 6) AS wilson_lb
    FROM c ORDER BY wilson_lb DESC, cohort
    """,
)


# ---------------------------------------------------------------------------
# Markov-chain entropy rate of the event-type process
# ---------------------------------------------------------------------------

#: Per-transition contribution -(n_ij/N) * ln(n_ij/n_i), quantized to
#: integer femto-units from exact integer counts (the q_zv discipline —
#: never sum raw doubles across rows).
_MER_TERM = (
    "CAST(round((CAST(n_ij AS DOUBLE) / CAST(ntot AS DOUBLE))"
    " * ln(CAST(n_ij AS DOUBLE) / CAST(n_i AS DOUBLE))"
    " * -1000000000000000.0, 0) AS BIGINT)"
)


# Entropy rate of the per-user event-type Markov chain against its ln(k)
# ceiling; per-transition terms are quantized and summed exactly.
sql_query(
    "q_ae_markov_entropy",
    f"""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events WHERE user_id IS NOT NULL),
    t AS (
      SELECT prev_type, event_type, CAST(count(*) AS BIGINT) AS n_ij
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type),
    marg AS (
      SELECT prev_type, CAST(sum(n_ij) AS BIGINT) AS n_i FROM t GROUP BY prev_type),
    tot AS (SELECT CAST(sum(n_ij) AS BIGINT) AS ntot FROM t),
    terms AS (
      SELECT {_MER_TERM} AS q
      FROM t JOIN marg USING (prev_type) CROSS JOIN tot),
    states AS (SELECT CAST(count(*) AS BIGINT) AS n_states FROM marg)
    SELECT s.n_states, tt.ntot AS n_transitions,
           round(CAST(SUM(CAST(q AS DECIMAL(38,0))) AS DOUBLE)
                 / 1000000000000000.0, 6) AS entropy_rate,
           round(ln(CAST(s.n_states AS DOUBLE)), 6) AS max_entropy,
           round(CAST(SUM(CAST(q AS DECIMAL(38,0))) AS DOUBLE)
                 / 1000000000000000.0
                 / ln(CAST(s.n_states AS DOUBLE)), 6) AS efficiency
    FROM terms CROSS JOIN states s CROSS JOIN tot tt
    GROUP BY s.n_states, tt.ntot
    """,
)


# ---------------------------------------------------------------------------
# Inverse-propensity-weighted treatment effect (stratified propensities)
# ---------------------------------------------------------------------------

#: Per-row IPW contribution in integer micro-cents: T*y/e - (1-T)*y/(1-e)
#: with e the stratum propensity (a ratio of integers, identical on both
#: engines), quantized then summed exactly.
_IPW_TERM = (
    "CAST(round((CASE WHEN treated = 1"
    " THEN CAST(cents AS DOUBLE) / (CAST(n_t AS DOUBLE) / CAST(n_s AS DOUBLE))"
    " ELSE -CAST(cents AS DOUBLE) / (1.0 - CAST(n_t AS DOUBLE) / CAST(n_s AS DOUBLE))"
    " END) * 10000.0, 0) AS BIGINT)"
)


@query(
    "q_af_ipw_ate",
    oracle=f"""
    WITH base AS (
      SELECT event_type AS stratum,
             CAST(CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
                  THEN 1 ELSE 0 END AS BIGINT) AS treated,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE props IS NOT NULL),
    prop AS (
      SELECT stratum, CAST(count(*) AS BIGINT) AS n_s,
             CAST(sum(treated) AS BIGINT) AS n_t
      FROM base GROUP BY stratum),
    terms AS (
      SELECT b.treated, {_IPW_TERM} AS q
      FROM base b JOIN prop USING (stratum)
      WHERE prop.n_t > 0 AND prop.n_t < prop.n_s)
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(treated) AS BIGINT) AS n_treated,
           round(CAST(SUM(CAST(q AS DECIMAL(38,0))) AS DOUBLE)
                 / count(*) / 10000.0 / 100.0, 6) AS ipw_ate
    FROM terms
    """,
)
def q_af_ipw_ate(spark, sf_dir):
    """Inverse-propensity-weighted average treatment effect (Horvitz &
    Thompson 1952; Rosenbaum & Rubin 1983 — public) of the high-k
    property cohort on event value, with propensities estimated per
    event-type stratum as exact count ratios. The causal-inference
    companion to CUPED (q_z1): CUPED reduces variance of a randomized
    diff, IPW corrects for measured confounding when assignment rates
    differ by stratum. Per-row weighted outcomes are quantized to
    micro-cents and summed exactly; strata with degenerate propensity
    (0 or 1) are excluded, as the estimator requires overlap.

    Scale shape: one grouped count for the propensity table (broadcast —
    bounded by stratum cardinality), one map-side join + combinable
    quantized sum over the scan. No model fit needed: stratified
    propensity IS the nonparametric estimator; swapping in a learned
    e(x) only changes the broadcast side.
    """
    ev = read_table(spark, sf_dir, "events").filter(F.col("props").isNotNull())
    base = ev.selectExpr(
        "event_type AS stratum",
        "CAST(CASE WHEN CAST(get_json_object(props, '$.k') AS BIGINT) >= 50"
        " THEN 1 ELSE 0 END AS BIGINT) AS treated",
        "CAST(round(value * 100) AS BIGINT) AS cents",
    )
    prop = base.groupBy("stratum").agg(
        F.count("*").cast("bigint").alias("n_s"),
        F.sum("treated").cast("bigint").alias("n_t"),
    )
    terms = (
        base.join(F.broadcast(prop), "stratum")
        .filter((F.col("n_t") > 0) & (F.col("n_t") < F.col("n_s")))
        .selectExpr("treated", f"{_IPW_TERM} AS q")
    )
    return terms.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("treated").cast("bigint").alias("n_treated"),
        F.expr(
            "round(CAST(SUM(CAST(q AS DECIMAL(38,0))) AS DOUBLE)"
            " / count(*) / 10000.0 / 100.0, 6)"
        ).alias("ipw_ate"),
    )


# ---------------------------------------------------------------------------
# Jackknife standard error of a ratio estimator
# ---------------------------------------------------------------------------

#: Quantization scale for leave-one-out ratios: ratios are O(100)
#: (cents-per-unit), so 1e9 keeps ~7 significant digits past the point
#: while the quantized DECIMAL sums stay far inside 38 digits.
_JK_Q = "1000000000.0"

#: Leave-one-out ratio in the quantized-integer domain: each row's
#: R_i = (Sy - y_i) / (Sx - x_i) over the broadcast global sums, rounded
#: to an exact BIGINT before ANY summation so both engines add identical
#: integers (the repo's float-fold discipline).
_JK_RI = (
    f"CAST(round((CAST(sy AS DOUBLE) - CAST(cents AS DOUBLE))"
    f" / (CAST(sx AS DOUBLE) - CAST(qty AS DOUBLE)) * {_JK_Q}) AS BIGINT)"
)


# Delete-one jackknife SE of R = sum(price)/sum(qty): each leave-one-out ratio
# is a row expression of the global sums, quantized to BIGINT before summing.
sql_query(
    "q_b1_jackknife_ratio",
    f"""
    WITH rows_ AS (
      SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
             CAST(l_quantity AS BIGINT) AS qty
      FROM lineitem),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             SUM(CAST(cents AS DECIMAL(38,0))) AS sy,
             SUM(CAST(qty AS DECIMAL(38,0))) AS sx
      FROM rows_),
    loo AS (
      SELECT n, sy, sx, {_JK_RI} AS ri
      FROM rows_ CROSS JOIN tot),
    m AS (
      SELECT n,
             min(sy) AS sy, min(sx) AS sx,
             SUM(CAST(ri AS DECIMAL(38,0))) AS sri,
             SUM(CAST(ri AS DECIMAL(38,0)) * ri) AS srr
      FROM loo GROUP BY n)
    SELECT n,
           round(CAST(sy AS DOUBLE) / CAST(sx AS DOUBLE) / 100.0, 6) AS ratio,
           round(sqrt((CAST(n AS DOUBLE) - 1.0) / n
                      * (CAST(srr AS DOUBLE)
                         - CAST(sri AS DOUBLE) * CAST(sri AS DOUBLE) / n))
                 / {_JK_Q} / 100.0, 6) AS jackknife_se
    FROM m
    """,
)


# ---------------------------------------------------------------------------
# Log-rank test (two-arm survival comparison)
# ---------------------------------------------------------------------------

#: Quantization scale for the per-day expectation/variance terms.
_LR_Q = "1000000000.0"

#: Shared-text per-event-day terms on exact integer counts (d = total
#: events at t, d1 = arm-1 events, n = at risk, n1 = arm-1 at risk).
_LR_E1 = f"CAST(round(CAST(d AS DOUBLE) * n1 / n * {_LR_Q}) AS BIGINT)"
_LR_V = (
    "CAST(round(CASE WHEN n <= 1 THEN 0.0 ELSE"
    " CAST(d AS DOUBLE) * (CAST(n1 AS DOUBLE) / n)"
    " * (1.0 - CAST(n1 AS DOUBLE) / n)"
    " * (CAST(n - d AS DOUBLE) / (CAST(n AS DOUBLE) - 1.0)) END"
    f" * {_LR_Q}) AS BIGINT)"
)


# Two-arm log-rank test on time to first purchase (arms by user parity,
# censored at the window end); per-day E and V terms are quantized to BIGINTs
# before the sums.
sql_query(
    "q_be_logrank",
    f"""
    WITH ev AS (
      SELECT user_id, CAST(user_id % 2 AS INT) AS arm,
             CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p
      FROM events WHERE user_id IS NOT NULL),
    grid AS (SELECT min(day) AS d0, max(day) AS d1 FROM ev),
    per_user AS (
      SELECT arm,
             COALESCE(min(CASE WHEN is_p = 1 THEN day END) - min(g.d0),
                      min(g.d1) - min(g.d0)) AS t,
             CASE WHEN count(CASE WHEN is_p = 1 THEN 1 END) > 0
                  THEN 1 ELSE 0 END AS observed
      FROM ev CROSS JOIN grid g GROUP BY user_id, arm),
    exits AS (
      SELECT t, CAST(count(*) AS BIGINT) AS x_all,
             CAST(count(CASE WHEN arm = 1 THEN 1 END) AS BIGINT) AS x_1,
             CAST(count(CASE WHEN observed = 1 THEN 1 END) AS BIGINT) AS d,
             CAST(count(CASE WHEN observed = 1 AND arm = 1 THEN 1 END)
                  AS BIGINT) AS d1
      FROM per_user GROUP BY t),
    risk AS (
      SELECT t, d, d1,
             SUM(x_all) OVER (ORDER BY t DESC
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS n,
             SUM(x_1) OVER (ORDER BY t DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS n1
      FROM exits),
    terms AS (
      SELECT d1, {_LR_E1} AS e_q, {_LR_V} AS v_q
      FROM risk WHERE d > 0)
    SELECT CAST(SUM(d1) AS BIGINT) AS o1,
           round(CAST(SUM(CAST(e_q AS DECIMAL(38,0))) AS DOUBLE)
                 / {_LR_Q}, 6) AS e1,
           round(CAST(SUM(CAST(v_q AS DECIMAL(38,0))) AS DOUBLE)
                 / {_LR_Q}, 6) AS v,
           round((CAST(SUM(d1) AS DOUBLE)
                  - CAST(SUM(CAST(e_q AS DECIMAL(38,0))) AS DOUBLE) / {_LR_Q})
                 / sqrt(CAST(SUM(CAST(v_q AS DECIMAL(38,0))) AS DOUBLE)
                        / {_LR_Q}), 6) AS z
    FROM terms
    """,
)


# ---------------------------------------------------------------------------
# One-way ANOVA (F-test across nations)
# ---------------------------------------------------------------------------

#: Shared-text per-group between-variance term S_i^2 / n_i (cast before
#: multiply — the BIGINT square would overflow at cluster scale).
_ANOVA_TERM = "CAST(s_i AS DOUBLE) * CAST(s_i AS DOUBLE) / CAST(n_i AS DOUBLE)"

#: Shared-text closes. SSB = sum(S_i^2/n_i) - S^2/N; SSW = Q - sum(S_i^2/n_i);
#: F = (SSB/(k-1)) / (SSW/(N-k)).
_ANOVA_SSB = (
    "term_sum - CAST(s_tot AS DOUBLE) * CAST(s_tot AS DOUBLE)"
    " / CAST(n_tot AS DOUBLE)"
)
_ANOVA_SSW = "CAST(q_tot AS DOUBLE) - term_sum"


# One-way ANOVA F of account balance across nations; per-group terms are
# summed by an ordered window so the double accumulation is bit-stable.
sql_query(
    "q_c4_anova",
    f"""
    WITH x AS (
      SELECT c_nationkey,
             CAST(round(c_acctbal * 100) AS BIGINT) AS cents
      FROM customer),
    per AS (
      SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_i,
             CAST(sum(cents) AS BIGINT) AS s_i,
             sum(CAST(cents AS DECIMAL(38,0)) * cents) AS q_i
      FROM x GROUP BY c_nationkey),
    terms AS (
      SELECT c_nationkey, n_i, s_i, q_i, {_ANOVA_TERM} AS term FROM per),
    acc AS (
      SELECT sum(term) OVER (ORDER BY c_nationkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS term_sum,
             sum(n_i) OVER () AS n_tot,
             sum(s_i) OVER () AS s_tot,
             sum(q_i) OVER () AS q_tot,
             count(*) OVER () AS k,
             row_number() OVER (ORDER BY c_nationkey DESC) AS is_last
      FROM terms),
    m AS (
      SELECT CAST(k AS BIGINT) AS k, CAST(n_tot AS BIGINT) AS n,
             {_ANOVA_SSB} AS ssb, {_ANOVA_SSW} AS ssw, n_tot, k AS kk
      FROM acc WHERE is_last = 1),
    f AS (
      SELECT k, n, ssb, ssw,
             (ssb / (CAST(k AS DOUBLE) - 1.0))
               / nullif(ssw / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)), 0.0)
               AS f_stat
      FROM m)
    SELECT k, n, round(ssb / 10000.0, 6) AS ss_between_sq_dollars,
           round(ssw / 10000.0, 6) AS ss_within_sq_dollars,
           round(f_stat, 6) AS f_stat
    FROM f
    """,
)


# ---------------------------------------------------------------------------
# Welch's unequal-variance t-test (URGENT vs LOW order value)
# ---------------------------------------------------------------------------

#: Sample variance from exact integer moments (cents): (q - s^2/n)/(n-1).
_WELCH_VAR = (
    "(CAST(q{i} AS DOUBLE) - CAST(s{i} AS DOUBLE) * CAST(s{i} AS DOUBLE)"
    " / CAST(n{i} AS DOUBLE)) / (CAST(n{i} AS DOUBLE) - 1.0)"
)
#: Squared standard error of one arm's mean.
_WELCH_SE = "v{i} / CAST(n{i} AS DOUBLE)"
#: Welch t: mean difference (cents) over the combined standard error.
_WELCH_T = (
    "(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)"
    " - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))"
    " / sqrt(se1 + se2)"
)
#: Welch-Satterthwaite effective degrees of freedom.
_WELCH_DF = (
    "(se1 + se2) * (se1 + se2)"
    " / (se1 * se1 / (CAST(n1 AS DOUBLE) - 1.0)"
    "    + se2 * se2 / (CAST(n2 AS DOUBLE) - 1.0))"
)


# Welch's t-test (Welch 1947) of order value, 1-URGENT vs 5-LOW, with the
# Welch-Satterthwaite df; all doubles come from one shared expression text.
sql_query(
    "q_cb_welch_ttest",
    f"""
    WITH x AS (
      SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 2 END AS arm,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
      WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
    per AS (
      SELECT arm, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS s,
             sum(CAST(cents AS DECIMAL(38,0)) * cents) AS q
      FROM x GROUP BY arm),
    wide AS (
      SELECT max(CASE WHEN arm = 1 THEN n END) AS n1,
             max(CASE WHEN arm = 1 THEN s END) AS s1,
             max(CASE WHEN arm = 1 THEN q END) AS q1,
             max(CASE WHEN arm = 2 THEN n END) AS n2,
             max(CASE WHEN arm = 2 THEN s END) AS s2,
             max(CASE WHEN arm = 2 THEN q END) AS q2
      FROM per),
    v AS (
      SELECT n1, s1, n2, s2,
             {_WELCH_VAR.format(i=1)} AS v1,
             {_WELCH_VAR.format(i=2)} AS v2
      FROM wide),
    se AS (
      SELECT n1, s1, n2, s2, v1, v2,
             {_WELCH_SE.format(i=1)} AS se1,
             {_WELCH_SE.format(i=2)} AS se2
      FROM v)
    SELECT n1, n2,
           round(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) / 100.0, 6)
             AS mean1_dollars,
           round(CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) / 100.0, 6)
             AS mean2_dollars,
           round(v1 / 10000.0, 6) AS var1_sq_dollars,
           round(v2 / 10000.0, 6) AS var2_sq_dollars,
           round({_WELCH_T}, 6) AS t_stat,
           round({_WELCH_DF}, 6) AS df
    FROM se
    """,
)


# ---------------------------------------------------------------------------
# Cramér's V + standardized residuals (mktsegment x region)
# ---------------------------------------------------------------------------

#: Independence expectation for one cell from exact integer margins.
_CV_E = "CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(n AS DOUBLE)"
#: Pearson standardized residual — which cells drive the dependence.
_CV_RESID = "(CAST(o AS DOUBLE) - e) / sqrt(e)"
#: Per-cell chi-square contribution.
_CV_CONTRIB = "(CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e"
#: Cramér's V from the total statistic and the smaller table dimension.
_CV_V = "sqrt(chi2 / (CAST(n AS DOUBLE) * CAST(mindim AS DOUBLE)))"


# Cramér's V and standardized residuals for segment x region. Zero cells come
# from the margin cross-product; the chi-square sums in a fixed cell order.
sql_query(
    "q_cc_cramers_v",
    f"""
    WITH x AS (
      SELECT c_mktsegment AS seg, r_name
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey),
    obs AS (
      SELECT seg, r_name, CAST(count(*) AS BIGINT) AS o
      FROM x GROUP BY seg, r_name),
    rows_m AS (SELECT seg, CAST(sum(o) AS BIGINT) AS r FROM obs GROUP BY seg),
    cols_m AS (
      SELECT r_name, CAST(sum(o) AS BIGINT) AS c FROM obs GROUP BY r_name),
    tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM obs),
    dims AS (
      SELECT least((SELECT count(*) FROM rows_m) - 1,
                   (SELECT count(*) FROM cols_m) - 1) AS mindim),
    grid AS (
      SELECT rm.seg, cm.r_name, rm.r, cm.c, t.n,
             coalesce(obs.o, 0) AS o
      FROM rows_m rm CROSS JOIN cols_m cm CROSS JOIN tot t
      LEFT JOIN obs ON obs.seg = rm.seg AND obs.r_name = cm.r_name),
    cells AS (
      SELECT seg, r_name, o, n, {_CV_E} AS e FROM grid),
    acc AS (
      SELECT seg, r_name, o, n, e,
             {_CV_RESID} AS std_resid,
             sum({_CV_CONTRIB}) OVER (ORDER BY seg, r_name
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS chi2
      FROM cells)
    SELECT seg, r_name, o,
           round(e, 6) AS e,
           round(std_resid, 6) AS std_resid,
           round(chi2, 6) AS chi2,
           round({_CV_V}, 6) AS cramers_v
    FROM acc CROSS JOIN dims
    ORDER BY seg, r_name
    """,
)


# ---------------------------------------------------------------------------
# Split-conformal prediction interval + coverage audit
# ---------------------------------------------------------------------------

#: Conformal rank: k = ceil((n_cal + 1) * (1 - alpha)) with alpha = 1/10,
#: in exact integer arithmetic via the shared floor(x/10.0) close.
_CONF_K = "CAST(floor((9 * (n_cal + 1) + 9) / 10.0) AS BIGINT)"
#: Integer point prediction: per-group train mean, floored to whole cents.
_CONF_YHAT = "CAST(floor(CAST(s_tr AS DOUBLE) / CAST(n_tr AS DOUBLE)) AS BIGINT)"


# Split-conformal interval and coverage audit (alpha = 0.1): folds are
# orderkey mod 4, q-hat an exact order statistic of integer-cent residuals.
sql_query(
    "q_cf_conformal",
    f"""
    WITH x AS (
      SELECT o_orderkey % 4 AS fold, o_orderpriority AS grp,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders),
    model AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n_tr,
             CAST(sum(cents) AS BIGINT) AS s_tr
      FROM x WHERE fold IN (0, 1) GROUP BY grp),
    yhat AS (SELECT grp, {_CONF_YHAT} AS yhat FROM model),
    cal AS (
      SELECT abs(x.cents - y.yhat) AS score
      FROM x JOIN yhat y ON x.grp = y.grp WHERE x.fold = 2),
    ncal AS (SELECT CAST(count(*) AS BIGINT) AS n_cal FROM cal),
    kk AS (SELECT n_cal, {_CONF_K} AS k FROM ncal),
    cells AS (
      SELECT score, CAST(count(*) AS BIGINT) AS c FROM cal GROUP BY score),
    cum AS (
      SELECT score,
             sum(c) OVER (ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
      FROM cells),
    qhat AS (
      SELECT min(score) AS qhat_cents
      FROM cum CROSS JOIN kk WHERE cw >= kk.k),
    test AS (
      SELECT CAST(count(*) AS BIGINT) AS n_test,
             CAST(sum(CASE WHEN abs(x.cents - y.yhat) <= q.qhat_cents
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
      FROM x JOIN yhat y ON x.grp = y.grp CROSS JOIN qhat q
      WHERE x.fold = 3)
    SELECT kk.n_cal, kk.k AS conformal_rank, q.qhat_cents,
           t.n_test, t.n_covered,
           round(CAST(t.n_covered AS DOUBLE) / CAST(t.n_test AS DOUBLE), 6)
             AS coverage
    FROM kk CROSS JOIN qhat q CROSS JOIN test t
    """,
)


# ---------------------------------------------------------------------------
# Pettitt change-point test (rank-based, integer-exact)
# ---------------------------------------------------------------------------

#: Shared p-value expression — identical doubles in, identical double out.
_PETTITT_P = (
    "round(least(CAST(1.0 AS DOUBLE),"
    " 2.0 * exp(-6.0 * CAST(k_stat AS DOUBLE) * CAST(k_stat AS DOUBLE)"
    " / (CAST(n_days AS DOUBLE) * n_days * n_days"
    " + CAST(n_days AS DOUBLE) * n_days))), 6)"
)


@query(
    "q_ed_pettitt",
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             date_diff('day', DATE '1970-01-01',
                       CAST(ts AS TIMESTAMP)::DATE) AS day,
             CAST(count(*) AS BIGINT) AS v
      FROM events GROUP BY 1, 2),
    ranked AS (
      SELECT event_type, day, v,
             row_number() OVER (PARTITION BY event_type ORDER BY day) AS t,
             2 * rank() OVER (PARTITION BY event_type ORDER BY v)
               + count(*) OVER (PARTITION BY event_type, v) - 1 AS dr,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM daily),
    u AS (
      SELECT event_type, day, n,
             t * (n + 1) - SUM(dr) OVER (PARTITION BY event_type
                                         ORDER BY t) AS u_t
      FROM ranked QUALIFY t < n),
    k AS (
      SELECT event_type, CAST(max(n) AS BIGINT) AS n_days,
             CAST(max(abs(u_t)) AS BIGINT) AS k_stat
      FROM u GROUP BY 1),
    best AS (
      SELECT u.event_type,
             CAST(min(u.day) AS BIGINT) AS change_day,
             CAST(arg_min(u.u_t, u.day) AS BIGINT) AS u_at_change
      FROM u JOIN k ON k.event_type = u.event_type
                   AND abs(u.u_t) = k.k_stat
      GROUP BY 1)
    SELECT k.event_type, k.n_days, b.change_day, b.u_at_change, k.k_stat,
           {_PETTITT_P} AS p_approx
    FROM k JOIN best b ON b.event_type = k.event_type
    ORDER BY k.event_type
    """,
)
def q_ed_pettitt(spark, sf_dir):
    """Pettitt change-point test per event type (Pettitt 1979, public) —
    the rank-based companion to the parametric CUSUM (q_zc) and the
    trend test (q_zn): U_t = sum of sgn(x_j - x_i) over pairs straddling
    t; the split maximizing |U_t| is the most probable single change
    point, with the standard two-sided significance approximation
    2*exp(-6K^2/(n^3+n^2)). Everything the hash sees is exact: U_t
    comes from the midrank identity U_t = t(n+1) - sum(doubled
    midranks <= t) — doubled tie-averaged ranks are integers (the
    q_zr_spearman trick) — and ties on |U_t| resolve to the earliest
    day. Only the final shared-text p-value is a double.

    Scale shape: the series grain is (event_type, day) — bounded by the
    calendar, not event volume — so the daily rollup is one partial
    aggregation over the corpus and every window below it runs on the
    tiny per-type series, partitioned by event_type (no global sort, no
    driver loop). The U_t cumulative is one pass over each series."""
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("day"),
    ).agg(F.count("*").cast("bigint").alias("v"))
    by_day = Window.partitionBy("event_type").orderBy("day")
    by_val = Window.partitionBy("event_type").orderBy("v")
    ranked = daily.select(
        "event_type",
        "day",
        F.row_number().over(by_day).alias("t"),
        (
            2 * F.rank().over(by_val)
            + F.count("*").over(Window.partitionBy("event_type", "v"))
            - 1
        ).alias("dr"),
        F.count("*").over(Window.partitionBy("event_type")).alias("n"),
    )
    u = ranked.select(
        "event_type",
        "day",
        "n",
        (
            F.col("t") * (F.col("n") + 1)
            - F.sum("dr").over(by_day.rowsBetween(Window.unboundedPreceding, 0))
        ).alias("u_t"),
        "t",
    ).filter(F.col("t") < F.col("n"))
    k = u.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n_days"),
        F.max(F.abs("u_t")).cast("bigint").alias("k_stat"),
    )
    best = (
        u.join(F.broadcast(k), "event_type")
        .filter(F.abs("u_t") == F.col("k_stat"))
        .groupBy("event_type")
        .agg(
            F.min("day").cast("bigint").alias("change_day"),
            F.min_by("u_t", "day").cast("bigint").alias("u_at_change"),
        )
    )
    return (
        k.join(best, "event_type")
        .selectExpr(
            "event_type",
            "n_days",
            "change_day",
            "u_at_change",
            "k_stat",
            f"{_PETTITT_P} AS p_approx",
        )
        .orderBy("event_type")
    )
