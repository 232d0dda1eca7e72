"""Mining & retrieval operators (round 7): closed-form distributed OLS,
BM25 ranked retrieval, gaps-and-islands streaks, CUSUM change-point,
conversion attribution, grid-blocked spatial join, int8 embedding
quantization audit.

Design rules carried from the rest of the engine:

- **Cross-engine float discipline.** Anything the oracle hashes is either
  exact integer/DECIMAL arithmetic (value cents, epoch microseconds,
  moment sums) or a DOUBLE produced by the IDENTICAL expression text on
  both engines from identical inputs — never an engine-ordered float sum.
  Shared expression fragments live in module constants and are
  interpolated into both the Spark plan (``selectExpr``/``F.expr``) and
  the DuckDB oracle so the text cannot drift.
- **One-pass moment aggregation.** The OLS entry is the canonical 100 TB
  regression shape: a single map-side-combinable scan reduces the corpus
  to a 10-number moment row; the 3x3 solve is closed-form Cramer on that
  row (no iteration, no driver-side data).
- **Blocking before verification.** The spatial join generates candidates
  by grid-cell equi-join (supplier side fans to its 3x3 neighborhood,
  longitude wraps at the antimeridian) and verifies with the exact
  haversine — the same block-then-verify discipline as the MinHash and
  PPJoin entries, chosen so the cell geometry PROVABLY covers the radius
  (cell edge > R at the maximum supported latitude).

Reference scope: the reference (COMP5349_2.py) has none of this surface;
these extend the engine per the north-star mandate (training-data
pipeline + warehouse analytics at 100 TB).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions import text as TXT
from ..sources import local_frame, read_table, spread
from .registry import query, sql_query


# ---------------------------------------------------------------------------
# Distributed OLS via normal equations (closed form, oracle-exact)
# ---------------------------------------------------------------------------

# Stage 1 — moment aggregation. Exact integer domain: quantity is
# integer-valued, discount/extendedprice are 2dp money (round(x*100) is the
# established cents idiom); per-row products fit BIGINT (< 1.2e14), sums are
# DECIMAL(38,0) so they stay exact to ~1e38 (far past 100 TB row counts).
# The de-scaling divisions to DOUBLE happen once per moment — IEEE-exactly
# the same on both engines because the text is shared.
_OLS_STAGE1: list[str] = [
    "CAST(COUNT(*) AS DOUBLE) AS nd",
    "CAST(SUM(CAST(CAST(l_quantity AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) AS sq",
    "CAST(SUM(CAST(CAST(round(l_discount * 100) AS BIGINT) AS DECIMAL(38,0)))"
    " AS DOUBLE) / 100 AS sd",
    "CAST(SUM(CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS DECIMAL(38,0)))"
    " AS DOUBLE) / 100 AS sy",
    "CAST(SUM(CAST(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)"
    " AS DECIMAL(38,0))) AS DOUBLE) AS sqq",
    "CAST(SUM(CAST(CAST(l_quantity AS BIGINT) * CAST(round(l_discount * 100) AS BIGINT)"
    " AS DECIMAL(38,0))) AS DOUBLE) / 100 AS sqd",
    "CAST(SUM(CAST(CAST(round(l_discount * 100) AS BIGINT)"
    " * CAST(round(l_discount * 100) AS BIGINT)"
    " AS DECIMAL(38,0))) AS DOUBLE) / 10000 AS sdd",
    "CAST(SUM(CAST(CAST(l_quantity AS BIGINT) * CAST(round(l_extendedprice * 100) AS BIGINT)"
    " AS DECIMAL(38,0))) AS DOUBLE) / 100 AS sqy",
    "CAST(SUM(CAST(CAST(round(l_discount * 100) AS BIGINT)"
    " * CAST(round(l_extendedprice * 100) AS BIGINT)"
    " AS DECIMAL(38,0))) AS DOUBLE) / 10000 AS sdy",
    "CAST(SUM(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)"
    " * CAST(round(l_extendedprice * 100) AS BIGINT)"
    " AS DECIMAL(38,0))) AS DOUBLE) / 10000 AS syy",
]

# Stage 2 — Cramer's rule on A = [[nd,sq,sd],[sq,sqq,sqd],[sd,sqd,sdd]],
# rhs = [sy,sqy,sdy] (model: price ~ b0 + b1*quantity + b2*discount).
_OLS_DET = (
    "(nd * (sqq * sdd - sqd * sqd) - sq * (sq * sdd - sqd * sd)"
    " + sd * (sq * sqd - sqq * sd))"
)
_OLS_STAGE2: list[str] = [
    "nd", "sy", "sqy", "sdy", "syy",
    f"(sy * (sqq * sdd - sqd * sqd) - sq * (sqy * sdd - sqd * sdy)"
    f" + sd * (sqy * sqd - sqq * sdy)) / {_OLS_DET} AS b0",
    f"(nd * (sqy * sdd - sqd * sdy) - sy * (sq * sdd - sqd * sd)"
    f" + sd * (sq * sdy - sqy * sd)) / {_OLS_DET} AS b1",
    f"(nd * (sqq * sdy - sqy * sqd) - sq * (sq * sdy - sqy * sd)"
    f" + sy * (sq * sqd - sqq * sd)) / {_OLS_DET} AS b2",
]

# Stage 3 — fit quality from the same moments: SSE = y'y - b'X'y,
# SST = y'y - (Σy)²/n, R² = 1 - SSE/SST.
_OLS_STAGE3: list[str] = [
    "CAST(nd AS BIGINT) AS n",
    "round(b0, 6) AS b0",
    "round(b1, 6) AS b1",
    "round(b2, 6) AS b2",
    "round(1.0 - (syy - (b0 * sy + b1 * sqy + b2 * sdy))"
    " / (syy - sy * sy / nd), 6) AS r2",
]


@query(
    "q_z9_ols_normal_eq",
    oracle=f"""
    WITH m AS (SELECT {", ".join(_OLS_STAGE1)} FROM lineitem),
    b AS (SELECT {", ".join(_OLS_STAGE2)} FROM m)
    SELECT {", ".join(_OLS_STAGE3)} FROM b
    """,
)
def q_z9_ols_normal_eq(spark, sf_dir):
    """Distributed ordinary least squares by the normal equations, solved
    closed-form: price ~ b0 + b1*quantity + b2*discount over lineitem.
    ONE map-side-combinable scan reduces the table to a 10-number moment
    row (n, Σx, Σxx', Σxy, Σyy — all exact integer/DECIMAL arithmetic in
    the cents domain), then Cramer's rule on the 3x3 system and the R²
    identity run on that single row. The whole fit is hash-checked —
    coefficients AND R² — because every moment is exact and every double
    step shares its expression text with the oracle (module constants
    ``_OLS_STAGE1..3``). The classical scalable-regression recipe
    (normal-equation aggregation; see e.g. Hastie/Tibshirani/Friedman,
    public) that MLlib's LinearRegression 'normal' solver implements
    JVM-internally — here made engine-portable and value-checkable.

    Scale shape: one aggregate, map-side partials, a 1-row driver-free
    closed-form solve expressed as plan expressions. No iteration, no
    collect, no UDF. At 100 TB this is ONE shuffle of 10 numbers per
    partition. Feature count is fixed (design matrices beyond a few dozen
    columns move to the Gram-matrix aggregate + driver Cholesky, the
    documented scale path for wide OLS).
    """
    li = read_table(spark, sf_dir, "lineitem")
    moments = li.selectExpr(*_OLS_STAGE1)
    beta = moments.selectExpr(*_OLS_STAGE2)
    return beta.selectExpr(*_OLS_STAGE3)


# ---------------------------------------------------------------------------
# BM25 ranked retrieval (Okapi)
# ---------------------------------------------------------------------------

#: Okapi BM25 parameters (Robertson et al., TREC-3 1994 — public).
BM25_K1 = 1.2
BM25_B = 0.75
#: Fixed query term set: two near-universal terms plus the one genuinely
#: rare term in the fixture vocabulary ('dup', df ≈ 5% — the idf contrast
#: that makes ranking non-vacuous despite the degenerate 31-word vocab).
BM25_TERMS = ("spark", "query", "dup")
BM25_TOPK = 20

#: Per-(doc, term) BM25 contribution — identical text on both engines.
#: Inputs: tf (int), dl (int), df (int), n_docs (int), avgdl (double).
_BM25_SCORE = (
    f"ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))"
    f" * (tf * ({BM25_K1} + 1.0))"
    f" / (tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl / avgdl))"
)

#: Fixed-order per-doc total (floats never summed in shuffle order).
_BM25_TOTAL = " + ".join(
    f"COALESCE(s_{t}, 0.0)" for t in BM25_TERMS
)


@query(
    "q_za_bm25",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
                         x -> x <> '') AS tk
      FROM documents),
    dl AS (SELECT doc_id, len(tk) AS dl FROM toks),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(SUM(dl) AS DOUBLE) / count(*) AS avgdl
      FROM dl),
    tf AS (
      SELECT doc_id, tok AS term, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(tk) AS tok FROM toks)
      WHERE tok IN {tuple(BM25_TERMS)}
      GROUP BY doc_id, tok),
    df AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
    scored AS (
      SELECT tf.doc_id, tf.term, {_BM25_SCORE} AS s
      FROM tf JOIN dl USING (doc_id) JOIN df USING (term)
      CROSS JOIN stats),
    perdoc AS (
      SELECT doc_id,
             {", ".join(f"max(CASE WHEN term = '{t}' THEN s END) AS s_{t}" for t in BM25_TERMS)}
      FROM scored GROUP BY doc_id),
    total AS (
      SELECT doc_id, {_BM25_TOTAL} AS score FROM perdoc),
    ranked AS (
      SELECT doc_id, score,
             row_number() OVER (ORDER BY score DESC, doc_id) AS rank
      FROM total)
    SELECT CAST(rank AS INT) AS rank, doc_id, round(score, 6) AS bm25
    FROM ranked WHERE rank <= {BM25_TOPK} ORDER BY rank
    """,
)
def q_za_bm25(spark, sf_dir):
    """Okapi BM25 top-k retrieval for a fixed query over the documents
    table (Robertson et al. 1994 — public): per-(doc, term) contributions
    from tf / df / doc-length / avg-doc-length, summed per doc in FIXED
    term order (a COALESCE chain, never a shuffle-ordered float sum) so
    scores are bit-identical across engines and the ranking itself is
    hash-checked. Completes the retrieval stack next to the inverted
    index (q_xw) and the TF-IDF twin (q_x5).

    Scale shape: tf/dl/df are map-side-combinable aggregates; df (|terms|
    rows) and the scalar (n_docs, avgdl) broadcast; the top-k plans as
    TakeOrderedAndProject (per-task partial top-k, no global sort) and
    only then does the 20-row window assign ranks.
    """
    d = spread(read_table(spark, sf_dir, "documents")).select("doc_id", "text")
    toks = d.select("doc_id", TXT.tokens("text").alias("tk"))
    dl = toks.select("doc_id", F.size("tk").alias("dl"))
    stats = dl.selectExpr(
        "CAST(count(*) AS BIGINT) AS n_docs",
        "CAST(SUM(dl) AS DOUBLE) / count(*) AS avgdl",
    )
    tf = (
        toks.select("doc_id", F.explode("tk").alias("term"))
        .filter(F.col("term").isin(*BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("bigint").alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count("*").cast("bigint").alias("df"))
    scored = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", "term", F.expr(_BM25_SCORE).alias("s"))
    )
    perdoc = scored.groupBy("doc_id").agg(
        *[
            F.max(F.when(F.col("term") == t, F.col("s"))).alias(f"s_{t}")
            for t in BM25_TERMS
        ]
    )
    total = perdoc.select("doc_id", F.expr(_BM25_TOTAL).alias("score"))
    topk = total.orderBy(F.desc("score"), "doc_id").limit(BM25_TOPK)
    w = Window.orderBy(F.desc("score"), "doc_id")
    return topk.select(
        F.row_number().over(w).cast("int").alias("rank"),
        "doc_id",
        F.round("score", 6).alias("bm25"),
    ).orderBy("rank")


# ---------------------------------------------------------------------------
# Gaps and islands: per-user activity streaks
# ---------------------------------------------------------------------------

# Gaps and islands: each user's runs of consecutive active days (day number
# minus row number is constant within a run), with the longest run's start.
sql_query(
    "q_zb_gaps_islands",
    """
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
      FROM events WHERE user_id IS NOT NULL),
    tagged AS (
      SELECT user_id, d,
             CAST(d - DATE '2024-01-01' AS BIGINT)
               - row_number() OVER (PARTITION BY user_id ORDER BY d) AS grp
      FROM days),
    islands AS (
      SELECT user_id, grp, CAST(count(*) AS BIGINT) AS len, min(d) AS start_d
      FROM tagged GROUP BY user_id, grp),
    marked AS (
      SELECT user_id, len, start_d,
             max(len) OVER (PARTITION BY user_id) AS mx
      FROM islands)
    SELECT user_id,
           CAST(SUM(len) AS BIGINT) AS active_days,
           CAST(count(*) AS BIGINT) AS n_streaks,
           CAST(max(len) AS BIGINT) AS longest_streak,
           min(CASE WHEN len = mx THEN start_d END) AS longest_start
    FROM marked GROUP BY user_id ORDER BY user_id
    """,
)


# ---------------------------------------------------------------------------
# CUSUM change-point detection (exact integer domain)
# ---------------------------------------------------------------------------

# CUSUM change point per event type (Page 1954), in the exact integer domain:
# deviations are scaled by tot_n so the argmax is an integer comparison.
sql_query(
    "q_zc_cusum",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(count(*) AS BIGINT) AS n,
             SUM(CAST(round(value * 100) AS BIGINT)) AS cents
      FROM events GROUP BY event_type, CAST(ts AS DATE)),
    tot AS (
      SELECT event_type, d, n, cents,
             SUM(n) OVER (PARTITION BY event_type) AS tot_n,
             SUM(cents) OVER (PARTITION BY event_type) AS tot_cents
      FROM daily),
    dev AS (
      SELECT event_type, d, n, tot_n, tot_cents,
             CAST(cents AS DECIMAL(38,0)) * tot_n - CAST(n AS DECIMAL(38,0)) * tot_cents
               AS sdev
      FROM tot),
    cus AS (
      SELECT event_type, d, tot_n,
             SUM(sdev) OVER (PARTITION BY event_type ORDER BY d
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cusum_scaled
      FROM dev),
    pick AS (
      SELECT event_type, d, tot_n, cusum_scaled,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY abs(cusum_scaled) DESC, d) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n_days
      FROM cus)
    SELECT event_type, d AS change_day, CAST(n_days AS BIGINT) AS n_days,
           round(CAST(cusum_scaled AS DOUBLE) / (100.0 * tot_n), 6)
             AS max_abs_cusum
    FROM pick WHERE rn = 1 ORDER BY event_type
    """,
)


# ---------------------------------------------------------------------------
# Conversion attribution (last marketing touch within a lookback window)
# ---------------------------------------------------------------------------

#: Touch events eligible for attribution credit, and the lookback window.
ATTR_TOUCH_TYPES = ("click", "view")
ATTR_LOOKBACK_DAYS = 7


#: Shared with the streaming twin (q_stream_attribution) — the stateful
#: operator over the zero-late replay must reproduce this batch result
#: row-for-row, so both entries check against the identical oracle text.
ATTR_ORACLE = f"""
    WITH ev AS (
      SELECT event_id, user_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us
      FROM events WHERE user_id IS NOT NULL),
    tagged AS (
      SELECT event_id, user_id, event_type, us,
             last_value(CASE WHEN event_type IN {tuple(ATTR_TOUCH_TYPES)}
                             THEN us END IGNORE NULLS)
               OVER w AS touch_us,
             last_value(CASE WHEN event_type IN {tuple(ATTR_TOUCH_TYPES)}
                             THEN event_type END IGNORE NULLS)
               OVER w AS touch_type,
             last_value(CASE WHEN event_type IN {tuple(ATTR_TOUCH_TYPES)}
                             THEN event_id END IGNORE NULLS)
               OVER w AS touch_id
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
    SELECT event_id, user_id,
           CASE WHEN us - touch_us <= {ATTR_LOOKBACK_DAYS} * 86400000000
                THEN touch_type END AS attributed_type,
           CASE WHEN us - touch_us <= {ATTR_LOOKBACK_DAYS} * 86400000000
                THEN touch_id END AS touch_event_id,
           CASE WHEN us - touch_us <= {ATTR_LOOKBACK_DAYS} * 86400000000
                THEN CAST(us - touch_us AS BIGINT) END AS gap_us
    FROM tagged WHERE event_type = 'purchase' ORDER BY event_id
    """


@query("q_zd_attribution", oracle=ATTR_ORACLE)
def q_zd_attribution(spark, sf_dir):
    """Last-touch conversion attribution: each purchase is credited to the
    user's most recent click/view STRICTLY BEFORE it and within a 7-day
    lookback; purchases with no in-window touch stay unattributed (NULL).
    The marketing-analytics join expressed without a fan-out: ONE
    per-user window with `last(..., ignoreNulls)` carries the latest
    touch forward, so cost is a single sort per user regardless of how
    many touches precede each conversion (a time-range join would fan
    out touches x purchases). All arithmetic is exact epoch-microsecond
    integers — fully hash-checked, NULLs included.

    Scale shape: one window pass (the narrow running frame), no
    self-join, no state beyond the last-seen touch per user. The same
    plan shape is the streaming `transformWithState` twin's batch oracle.
    """
    ev = read_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    base = ev.select("event_id", "user_id", "event_type", us.alias("us"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_touch = F.col("event_type").isin(*ATTR_TOUCH_TYPES)
    tagged = base.select(
        "event_id", "user_id", "event_type", "us",
        F.last(F.when(is_touch, F.col("us")), ignorenulls=True).over(w).alias("touch_us"),
        F.last(F.when(is_touch, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("touch_type"),
        F.last(F.when(is_touch, F.col("event_id")), ignorenulls=True)
        .over(w)
        .alias("touch_id"),
    )
    in_window = (F.col("us") - F.col("touch_us")) <= (
        ATTR_LOOKBACK_DAYS * 86_400_000_000
    )
    return (
        tagged.filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.when(in_window, F.col("touch_type")).alias("attributed_type"),
            F.when(in_window, F.col("touch_id")).alias("touch_event_id"),
            F.when(in_window, (F.col("us") - F.col("touch_us")).cast("bigint")).alias(
                "gap_us"
            ),
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# Grid-blocked spatial join (radius join via cell blocking + haversine verify)
# ---------------------------------------------------------------------------

#: Radius (km), cell edge (degrees), and the latitude band the blocking
#: geometry is PROVEN for: at |lat| <= 60, one degree of longitude is
#: >= 111.32*cos(60°) = 55.66 km, so an 80 km pair spans <= 1.44° of
#: longitude and <= 0.72° of latitude — both under one 2° cell edge, hence
#: the 3x3 neighborhood always covers the radius. Longitude cells wrap at
#: the antimeridian (index mod 180).
GEO_JOIN_RADIUS_KM = 80.0
GEO_JOIN_CELL_DEG = 2
GEO_JOIN_MAX_LAT = 60.0

#: Deterministic synthetic coordinates (fixtures carry no geo columns);
#: customer exprs shared with q_ys_haversine_knn's recipe, supplier exprs
#: use different multipliers so the two point sets are unrelated.
_GJ_C_LAT = "CAST(((c_custkey * 7919) % 17000) / 100.0 - 85.0 AS DOUBLE)"
_GJ_C_LON = "CAST(((c_custkey * 104729) % 36000) / 100.0 - 180.0 AS DOUBLE)"
_GJ_S_LAT = "CAST(((s_suppkey * 4391) % 12000) / 100.0 - 60.0 AS DOUBLE)"
_GJ_S_LON = "CAST(((s_suppkey * 15227) % 36000) / 100.0 - 180.0 AS DOUBLE)"


def _hav_km(lat_a: str, lon_a: str, lat_b: str, lon_b: str) -> str:
    """Haversine distance (km), rounded to 6dp — identical text on both
    engines, and the ROUNDED value is also the join predicate so the
    boundary decision is engine-identical."""
    return (
        f"round(2.0 * 6371.0 * asin(sqrt("
        f"pow(sin(radians(({lat_b}) - ({lat_a})) / 2), 2)"
        f" + cos(radians({lat_a})) * cos(radians({lat_b}))"
        f" * pow(sin(radians(({lon_b}) - ({lon_a})) / 2), 2))), 6)"
    )


@query(
    "q_ze_geo_blocked_join",
    oracle=f"""
    WITH c AS (
      SELECT c_custkey, {_GJ_C_LAT} AS c_lat, {_GJ_C_LON} AS c_lon
      FROM customer
      WHERE abs({_GJ_C_LAT}) <= {GEO_JOIN_MAX_LAT}),
    s AS (
      SELECT s_suppkey, {_GJ_S_LAT} AS s_lat, {_GJ_S_LON} AS s_lon
      FROM supplier)
    SELECT s_suppkey, c_custkey,
           {_hav_km("s_lat", "s_lon", "c_lat", "c_lon")} AS dist_km
    FROM s CROSS JOIN c
    WHERE {_hav_km("s_lat", "s_lon", "c_lat", "c_lon")} <= {GEO_JOIN_RADIUS_KM}
    ORDER BY s_suppkey, c_custkey
    """,
)
def q_ze_geo_blocked_join(spark, sf_dir):
    """Radius (within-distance) spatial join, grid-blocked: find every
    (supplier, customer) pair within 80 km. Candidates come from an
    EQUI-join on 2°x2° grid cells — the supplier side fans out to its 3x3
    cell neighborhood (x9, on the small side only; longitude wraps at the
    antimeridian), the customer side maps to its home cell — and the
    exact haversine verifies. The cell geometry provably covers the
    radius for |lat| <= 60 (see GEO_JOIN_* notes), so the blocked join
    equals the quadratic oracle pair-for-pair: block-then-verify with a
    COVERAGE PROOF, the same discipline as the MinHash band join and the
    PPJoin prefix filter.

    Scale shape: no cross join anywhere in the Spark plan — candidate
    generation is a hash join on int cell keys; the x9 fan-out rides the
    bounded dim side. Cell population skew is data skew in the usual
    sense (AQE skew-join handles hot cells). The verify is pure codegen
    trig.
    """
    cell = GEO_JOIN_CELL_DEG
    c = (
        read_table(spark, sf_dir, "customer")
        .selectExpr("c_custkey", f"{_GJ_C_LAT} AS c_lat", f"{_GJ_C_LON} AS c_lon")
        .filter(F.expr(f"abs(c_lat) <= {GEO_JOIN_MAX_LAT}"))
        .selectExpr(
            "c_custkey", "c_lat", "c_lon",
            f"CAST(floor((c_lon + 180.0) / {cell}) AS INT) % {360 // cell} AS cx",
            f"CAST(floor((c_lat + 90.0) / {cell}) AS INT) AS cy",
        )
    )
    s = (
        read_table(spark, sf_dir, "supplier")
        .selectExpr("s_suppkey", f"{_GJ_S_LAT} AS s_lat", f"{_GJ_S_LON} AS s_lon")
        .selectExpr(
            "s_suppkey", "s_lat", "s_lon",
            f"CAST(floor((s_lon + 180.0) / {cell}) AS INT) AS sx0",
            f"CAST(floor((s_lat + 90.0) / {cell}) AS INT) AS sy0",
        )
        .selectExpr(
            "s_suppkey", "s_lat", "s_lon",
            "explode(array(-1, 0, 1)) AS dx",
            "sy0", "sx0",
        )
        .selectExpr(
            "s_suppkey", "s_lat", "s_lon",
            f"((sx0 + dx) % {360 // cell} + {360 // cell}) % {360 // cell} AS cx",
            "explode(array(sy0 - 1, sy0, sy0 + 1)) AS cy",
        )
    )
    dist = F.expr(_hav_km("s_lat", "s_lon", "c_lat", "c_lon"))
    return (
        s.join(c, ["cx", "cy"])
        .select("s_suppkey", "c_custkey", dist.alias("dist_km"))
        .filter(F.col("dist_km") <= GEO_JOIN_RADIUS_KM)
        .orderBy("s_suppkey", "c_custkey")
    )


# ---------------------------------------------------------------------------
# Int8 embedding quantization audit
# ---------------------------------------------------------------------------

#: Symmetric int8 range. Quantization uses floor(x/scale + 0.5) — an
#: explicit half-up rule with IDENTICAL semantics on both engines (plain
#: round() is half-up in Spark but banker's in other engines — designed
#: out, same hazard class as q_y5's per-row float threshold finding).
INT8_QMAX = 127


@query(
    "q_zf_int8_quant",
    oracle=f"""
    WITH base AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xs
      FROM embeddings),
    scaled AS (
      SELECT vec_id, xs,
             list_max(list_transform(xs, x -> abs(x))) / {INT8_QMAX}.0 AS scale
      FROM base),
    err AS (
      SELECT vec_id, scale,
             list_transform(xs, x ->
               x - greatest(-{INT8_QMAX}.0, least({INT8_QMAX}.0,
                     floor(x / scale + 0.5))) * scale) AS e,
             len(list_filter(xs, x ->
               abs(floor(x / scale + 0.5)) > {INT8_QMAX})) AS n_clipped
      FROM scaled)
    SELECT vec_id, round(scale, 6) AS scale,
           CAST(n_clipped AS BIGINT) AS n_clipped,
           round(list_max(list_transform(e, v -> abs(v))), 6) AS max_abs_err,
           round(list_reduce(list_transform(e, v -> v * v),
                             (a, b) -> a + b), 6) AS sse
    FROM err ORDER BY vec_id
    """,
)
def q_zf_int8_quant(spark, sf_dir):
    """Symmetric per-vector int8 quantization audit for the embedding
    column — the storage/serving compression step of a 100 TB vector
    pipeline (scale = max|x|/127, q = clamp(floor(x/scale + 0.5))):
    reports per-vector scale, clipped-element count, max absolute
    reconstruction error (order-free max), and SSE via a SEQUENTIAL
    in-row fold (Spark `aggregate` and DuckDB `list_reduce` both fold
    left-to-right over the element order, and the 0.0 seed is
    IEEE-neutral, so the double is bit-identical) — the whole audit is
    hash-checked. Complements PQ (q_ns_ann_ivfpq): PQ compresses for ANN
    recall, int8 for exact-layout serving.

    Scale shape: map-only — every metric is an in-row higher-order
    function over the array column; no shuffle, no UDF, no explode (the
    64-wide fan-out explode-based variants pay is designed out).
    """
    emb = read_table(spark, sf_dir, "embeddings")
    xs = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = emb.select("vec_id", xs.alias("xs"))
    scaled = base.select(
        "vec_id", "xs",
        (
            F.array_max(F.transform("xs", lambda x: F.abs(x))) / float(INT8_QMAX)
        ).alias("scale"),
    )
    q = lambda x: F.floor(x / F.col("scale") + 0.5)  # noqa: E731
    clamp = lambda x: F.greatest(  # noqa: E731
        F.lit(-float(INT8_QMAX)), F.least(F.lit(float(INT8_QMAX)), q(x))
    )
    err = scaled.select(
        "vec_id", "scale",
        F.transform("xs", lambda x: x - clamp(x) * F.col("scale")).alias("e"),
        F.size(
            F.filter("xs", lambda x: F.abs(q(x)) > INT8_QMAX)
        ).cast("bigint").alias("n_clipped"),
    )
    return (
        err.select(
            "vec_id",
            F.round("scale", 6).alias("scale"),
            "n_clipped",
            F.round(
                F.array_max(F.transform("e", lambda v: F.abs(v))), 6
            ).alias("max_abs_err"),
            F.round(
                F.aggregate(
                    F.transform("e", lambda v: v * v),
                    F.lit(0.0),
                    lambda a, b: a + b,
                ),
                6,
            ).alias("sse"),
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# Item-item collaborative filtering (neighborhood CF)
# ---------------------------------------------------------------------------

#: Basket cap: users with more interactions are dropped before the pair
#: fan-out (power users contribute O(basket²) pairs and almost no
#: signal — the standard neighborhood-CF guard; cf. the same cap in
#: Amazon's item-item paper, Linden et al. 2003, public).
ITEMCF_MAX_BASKET = 50
ITEMCF_MIN_COOC = 2
ITEMCF_TOPK = 5

#: Shared-text cosine over exact integer co-occurrence / item counts.
_ICF_COS = (
    "round(CAST(cooc AS DOUBLE)"
    " / sqrt(CAST(n_i AS DOUBLE) * CAST(n_j AS DOUBLE)), 6)"
)


# Item-item collaborative filtering: top-ITEMCF_TOPK cosine neighbours from
# binary co-occurrence. Baskets over ITEMCF_MAX_BASKET items are dropped as
# noise; the cosine is rounded before the rank so both engines rank alike.
sql_query(
    "q_bf_itemcf",
    f"""
    WITH ui AS (
      SELECT DISTINCT o_custkey AS u, l_partkey AS i
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
    ok_users AS (
      SELECT u FROM ui GROUP BY u HAVING count(*) <= {ITEMCF_MAX_BASKET}),
    uif AS (SELECT ui.u, ui.i FROM ui JOIN ok_users USING (u)),
    item_n AS (SELECT i, CAST(count(*) AS BIGINT) AS n FROM uif GROUP BY i),
    pairs AS (
      SELECT a.i AS item_i, b.i AS item_j, CAST(count(*) AS BIGINT) AS cooc
      FROM uif a JOIN uif b ON b.u = a.u AND b.i <> a.i
      GROUP BY a.i, b.i HAVING count(*) >= {ITEMCF_MIN_COOC}),
    scored AS (
      SELECT item_i, item_j, cooc, ni.n AS n_i, nj.n AS n_j,
             {_ICF_COS} AS cosine
      FROM pairs JOIN item_n ni ON ni.i = pairs.item_i
                 JOIN item_n nj ON nj.i = pairs.item_j),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY item_i
                                   ORDER BY cosine DESC, item_j) AS rnk
      FROM scored)
    SELECT item_i, CAST(rnk AS BIGINT) AS rnk, item_j, cooc, cosine
    FROM ranked WHERE rnk <= {ITEMCF_TOPK}
    ORDER BY item_i, rnk
    """,
)


# ---------------------------------------------------------------------------
# Dirichlet-smoothed query-likelihood retrieval (language-model IR)
# ---------------------------------------------------------------------------

#: Dirichlet smoothing mass (Zhai & Lafferty, SIGIR 2001 — public;
#: mu ~ average doc length is the classic choice, 2000 the TREC habit —
#: the fixture's short docs argue for the smaller setting).
QL_MU = 50
QL_TERMS = BM25_TERMS
QL_TOPK = 15

#: Fixed-order per-doc log-likelihood: every doc scores EVERY query term
#: (absent terms fall back to the smoothed background cf/|C| — that's
#: the point of the language model; BM25 skips them), summed in written
#: term order so the doubles accumulate identically on both engines.
_QL_SCORE = " + ".join(
    f"ln((COALESCE(tf_{t}, 0) + {QL_MU}.0 * (CAST(cf_{t} AS DOUBLE)"
    f" / CAST(ctot AS DOUBLE))) / (CAST(dl AS DOUBLE) + {QL_MU}.0))"
    for t in QL_TERMS
)


@query(
    "q_c5_dirichlet_ql",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
                         x -> x <> '') AS tk
      FROM documents),
    dl AS (SELECT doc_id, len(tk) AS dl FROM toks),
    flat AS (SELECT doc_id, unnest(tk) AS term FROM toks),
    ctot_t AS (SELECT CAST(count(*) AS BIGINT) AS ctot FROM flat),
    cf AS (
      SELECT {", ".join(
        f"CAST(sum(CASE WHEN term = '{t}' THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS cf_{t}" for t in QL_TERMS)}
      FROM flat),
    tf AS (
      SELECT doc_id,
             {", ".join(
        f"CAST(sum(CASE WHEN term = '{t}' THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS tf_{t}" for t in QL_TERMS)}
      FROM flat WHERE term IN {tuple(QL_TERMS)} GROUP BY doc_id),
    scored AS (
      SELECT dl.doc_id, {_QL_SCORE} AS score
      FROM dl LEFT JOIN tf ON dl.doc_id = tf.doc_id
      CROSS JOIN cf CROSS JOIN ctot_t),
    ranked AS (
      SELECT doc_id, score,
             row_number() OVER (ORDER BY score DESC, doc_id) AS rank
      FROM scored)
    SELECT CAST(rank AS INT) AS rank, doc_id, round(score, 6) AS log_ql
    FROM ranked WHERE rank <= {QL_TOPK} ORDER BY rank
    """,
)
def q_c5_dirichlet_ql(spark, sf_dir):
    """DIRICHLET-SMOOTHED QUERY LIKELIHOOD retrieval (Zhai & Lafferty,
    SIGIR 2001 — public; the language-model scorer that, with BM25
    (q_za) and TF-IDF (q_x5), completes the classic ranking triad):
    score(q,d) = sum_t ln((tf + mu*cf_t/|C|) / (dl + mu)). Unlike BM25,
    EVERY document scores every query term — absent terms contribute the
    smoothed background mass, so short no-match documents rank above
    long ones on background alone; the full ranking (not just matching
    docs) is hash-checked. Per-doc totals add in fixed written term
    order (the q_za COALESCE-chain contract), never shuffle order.

    Scale shape: one tokenize pass feeds dl / corpus totals / per-doc
    query-term counts — all map-side-combinable; cf and |C| collapse to
    ONE broadcast row; scoring is a map-side expression over the dl
    frame left-joined with the (tiny) matching-doc tf pivot; top-k is
    TakeOrderedAndProject. 100 TB = one scan + one doc-keyed join.
    """
    d = spread(read_table(spark, sf_dir, "documents")).select("doc_id", "text")
    toks = d.select("doc_id", TXT.tokens("text").alias("tk"))
    dl = toks.select("doc_id", F.size("tk").alias("dl"))
    flat = toks.select("doc_id", F.explode("tk").alias("term"))
    ctot = flat.agg(F.count("*").cast("bigint").alias("ctot"))
    cf = flat.agg(
        *[
            F.sum(F.when(F.col("term") == t, 1).otherwise(0))
            .cast("bigint")
            .alias(f"cf_{t}")
            for t in QL_TERMS
        ]
    )
    tf = (
        flat.filter(F.col("term").isin(*QL_TERMS))
        .groupBy("doc_id")
        .agg(
            *[
                F.sum(F.when(F.col("term") == t, 1).otherwise(0))
                .cast("bigint")
                .alias(f"tf_{t}")
                for t in QL_TERMS
            ]
        )
        .withColumnRenamed("doc_id", "tf_doc_id")
    )
    scored = (
        dl.join(tf, dl.doc_id == F.col("tf_doc_id"), "left")
        .crossJoin(F.broadcast(cf))
        .crossJoin(F.broadcast(ctot))
        .select("doc_id", F.expr(_QL_SCORE).alias("score"))
    )
    topk = scored.orderBy(F.desc("score"), "doc_id").limit(QL_TOPK)
    w = Window.orderBy(F.desc("score"), "doc_id")
    return topk.select(
        F.row_number().over(w).cast("int").alias("rank"),
        "doc_id",
        F.round("score", 6).alias("log_ql"),
    ).orderBy("rank")


# ---------------------------------------------------------------------------
# Dunning G² log-likelihood collocations (adjacent bigrams)
# ---------------------------------------------------------------------------

#: Report floor — bigrams this rare have unstable G² and bloat output.
_G2_MIN_COUNT = 5

#: One 0·ln0-guarded term of the log-likelihood sum: k ln(kN / (r c)).
def _g2_term(k: str, r: str, c: str) -> str:
    return (
        f"CASE WHEN ({k}) > 0 THEN CAST({k} AS DOUBLE)"
        f" * ln(CAST({k} AS DOUBLE) * CAST(nn AS DOUBLE)"
        f" / (CAST({r} AS DOUBLE) * CAST({c} AS DOUBLE))) ELSE 0.0 END"
    )


#: The four contingency cells from bigram/margin counts, in fixed order:
#: (w1,w2), (w1,¬w2), (¬w1,w2), (¬w1,¬w2).
_G2_EXPR = (
    "2.0 * ("
    + " + ".join(
        [
            _g2_term("c12", "c1", "c2"),
            _g2_term("c1 - c12", "c1", "nn - c2"),
            _g2_term("c2 - c12", "nn - c1", "c2"),
            _g2_term("nn - c1 - c2 + c12", "nn - c1", "nn - c2"),
        ]
    )
    + ")"
)


@query(
    "q_ce_g2_collocations",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
                         x -> x <> '') AS t
      FROM documents),
    pos AS (
      SELECT doc_id, unnest(t) AS tok,
             generate_subscripts(t, 1) AS p
      FROM toks),
    bg AS (
      SELECT a.tok AS w1, b.tok AS w2, CAST(count(*) AS BIGINT) AS c12
      FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
      GROUP BY 1, 2),
    lm AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM bg GROUP BY w1),
    rm AS (SELECT w2, CAST(sum(c12) AS BIGINT) AS c2 FROM bg GROUP BY w2),
    tot AS (SELECT CAST(sum(c12) AS BIGINT) AS nn FROM bg)
    SELECT bg.w1, bg.w2, bg.c12, lm.c1, rm.c2,
           round({_G2_EXPR}, 6) AS g2
    FROM bg JOIN lm USING (w1) JOIN rm USING (w2) CROSS JOIN tot
    WHERE bg.c12 >= {_G2_MIN_COUNT}
    ORDER BY bg.w1, bg.w2
    """,
)
def q_ce_g2_collocations(spark, sf_dir):
    """DUNNING G² LOG-LIKELIHOOD COLLOCATIONS over adjacent bigrams
    (Dunning 1993, "Accurate methods for the statistics of surprise and
    coincidence" — the collocation test that, unlike q_y3's PMI, stays
    calibrated for rare counts): the 2x2 contingency table per bigram is
    built from BIGRAM-EVENT margins (c1 = bigrams starting with w1, c2 =
    bigrams ending with w2, N = all bigrams — the NLTK
    BigramCollocationFinder convention, self-consistent across doc
    boundaries), and G² = 2 Σ k ln(kN/(rc)) over the four cells with the
    0·ln0 CASE guard (q_bd contract), every term one shared-text
    expression on exact BIGINT counts. Output ordered by the token pair,
    never by the float (q_y3 contract).

    Scale shape: bigram generation is the (doc_id, position) equi-join
    on the exploded token table — no theta join; bigram and margin
    counts are map-side-combinable digest-keyed aggregates; the scalar N
    broadcasts into the final projection. The report-floor filter prunes
    the long tail before the margin joins.
    """
    d = spread(read_table(spark, sf_dir, "documents")).select("doc_id", "text")
    pos = d.select(
        "doc_id", F.posexplode(TXT.tokens("text")).alias("p0", "tok")
    ).select("doc_id", (F.col("p0") + 1).alias("p"), "tok")
    right = pos.select(
        "doc_id", (F.col("p") - 1).alias("p"), F.col("tok").alias("w2")
    )
    bg = (
        pos.withColumnRenamed("tok", "w1")
        .join(right, ["doc_id", "p"])
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("bigint").alias("c12"))
    )
    lm = bg.groupBy("w1").agg(F.sum("c12").cast("bigint").alias("c1"))
    rm = bg.groupBy("w2").agg(F.sum("c12").cast("bigint").alias("c2"))
    tot = bg.agg(F.sum("c12").cast("bigint").alias("nn"))
    return (
        bg.filter(F.col("c12") >= _G2_MIN_COUNT)
        .join(lm, "w1")
        .join(rm, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "c12",
            "c1",
            "c2",
            F.round(F.expr(_G2_EXPR), 6).alias("g2"),
        )
        .orderBy("w1", "w2")
    )


# ---------------------------------------------------------------------------
# Huffman code construction (canonical, character-level)
# ---------------------------------------------------------------------------

#: Hard cap on the collected alphabet — the driver-side tree build is
#: sanctioned ONLY because the alphabet is bounded (quantizer-fit
#: contract); blowing past this means the symbol definition is wrong.
HUFF_MAX_ALPHABET = 4096


def _huffman_lengths(freqs: list[tuple[str, int]]) -> dict[str, int]:
    """Optimal prefix-code lengths (Huffman 1952). Deterministic: leaves
    enter the heap in symbol order, merges tie-break by insertion serial.
    Any tie-break yields the same OPTIMAL average length (the classic
    exchange argument); determinism just pins one representative."""
    import heapq

    if not freqs:
        return {}
    if len(freqs) == 1:
        return {freqs[0][0]: 1}
    heap: list[tuple[int, int, tuple[str, ...]]] = []
    for i, (sym, c) in enumerate(sorted(freqs)):
        heapq.heappush(heap, (c, i, (sym,)))
    serial = len(freqs)
    depth: dict[str, int] = {}
    while len(heap) > 1:
        c1, _, s1 = heapq.heappop(heap)
        c2, _, s2 = heapq.heappop(heap)
        for s in s1 + s2:
            depth[s] = depth.get(s, 0) + 1
        heapq.heappush(heap, (c1 + c2, serial, s1 + s2))
        serial += 1
    return depth


def canonical_codes(lengths: dict[str, int]) -> dict[str, str]:
    """Canonical Huffman assignment (RFC 1951 §3.2.2 style): symbols
    sorted by (length, symbol) get consecutive codes, left-padded as the
    length steps up — decode tables need only the length histogram."""
    code = 0
    prev_len = 0
    out: dict[str, str] = {}
    for sym, ln in sorted(lengths.items(), key=lambda kv: (kv[1], kv[0])):
        code <<= ln - prev_len
        out[sym] = format(code, f"0{ln}b")
        code += 1
        prev_len = ln
    return out


@query("q_ci_huffman")  # driver tree build on bounded alphabet -> rows-only
def q_ci_huffman(spark, sf_dir):
    """CANONICAL HUFFMAN CODE for the corpus character distribution
    (Huffman 1952; canonical form per DEFLATE/RFC 1951) — the
    entropy-coding primitive behind every compression stage a training-
    data pipeline ships, and a direct readout of corpus compressibility
    next to q_ns_compression_quality's zlib ratio: per-character counts
    feed an optimal prefix code; output is (char, count, code_len,
    code) plus each symbol's exact encoded contribution.

    Scale shape: character counting is explode + ONE map-side-combinable
    aggregate — the exploded rows collapse to alphabet grain BEFORE any
    shuffle (partial aggregation), so the exchange carries ~100 rows
    however big the corpus. The tree build runs driver-side on the
    ALPHABET-BOUNDED frequency table (quantizer-fit contract,
    HUFF_MAX_ALPHABET guard) — O(|A| log |A|), data-size-independent —
    and rejoins as a broadcast literal frame. Rows-only by design (tree
    construction is not SQL); tests pin the Kraft equality, the
    Shannon entropy sandwich H <= avg_len < H+1, prefix-freeness, and
    optimal average length vs an independent implementation
    (tests/test_mining_ops.py).
    """
    d = spread(read_table(spark, sf_dir, "documents")).select("doc_id", "text")
    freq = (
        d.select(F.explode(F.split(F.col("text"), "")).alias("ch"))
        .filter(F.col("ch") != "")
        .groupBy("ch")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    rows = freq.collect()
    if len(rows) > HUFF_MAX_ALPHABET:
        raise RuntimeError(
            f"huffman: alphabet {len(rows)} exceeds {HUFF_MAX_ALPHABET}; "
            "symbol definition is not alphabet-bounded"
        )
    lengths = _huffman_lengths([(r.ch, r.cnt) for r in rows])
    codes = canonical_codes(lengths)
    code_df = local_frame(
        spark,
        [(s, lengths[s], codes[s]) for s in sorted(lengths)],
        "ch string, code_len long, code string",
    )
    return (
        freq.join(F.broadcast(code_df), "ch")
        .select(
            "ch",
            "cnt",
            "code_len",
            "code",
            (F.col("cnt") * F.col("code_len")).cast("bigint").alias("bits"),
        )
        .orderBy("ch")
    )
