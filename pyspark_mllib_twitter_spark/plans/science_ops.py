"""Correlation, graph-structure, corpus-law, and evaluation analytics
(round 7, batches 4-5): Spearman rank correlation, local clustering
coefficients, common-neighbor / Adamic-Adar link prediction, a Zipf-law
fit over the corpus token frequencies, pairwise Jensen-Shannon corpus
divergence, train/test n-gram novelty (memorization audit), lagged
cross-correlation of event series, a counting-only multinomial Naive
Bayes classifier with its confusion matrix, and per-class
precision/recall/F1 evaluation of a majority baseline.

Design rules carried from the rest of the engine (mining_ops /
inference_ops):

- **Cross-engine float discipline.** Everything the oracle hashes is
  exact integer/DECIMAL arithmetic (doubled tie-averaged ranks,
  quantized log units, wedge counts) until a final shared-text DOUBLE
  expression both engines evaluate on identical operands — IEEE
  multiply/divide/sqrt/ln on identical inputs with identical expression
  text is bit-deterministic.
- **Quantized-log sums.** Where a statistic needs a SUM of logarithms
  (Adamic-Adar, the Zipf OLS moments), doubles are never summed —
  per-row ``ln`` outputs are quantized to integer nano/pico units
  (``CAST(round(ln(x) * 1e9) AS BIGINT)``), summed exactly as
  DECIMAL(38,0), and converted back to a DOUBLE once, in shared text.
  Double summation is order-dependent across partitionings; integer
  summation is not.
- **One-pass mergeable aggregation.** Rank moments, degree counts, and
  token frequencies are all map-side combinable; nothing sorts the
  corpus globally (ranks are per-group windows over group-hash
  partitions) or collects data to the driver.

Reference scope: the reference (COMP5349_2.py:1-211) has none of this
surface; these extend the engine per the north-star mandate
(training-data pipeline + warehouse analytics at 100 TB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators.iterate import iterate
from ..sources import local_frame, read_table
from .registry import query, sql_query


# ---------------------------------------------------------------------------
# Spearman rank correlation (tie-averaged, exact integer rank moments)
# ---------------------------------------------------------------------------

#: Shared final arithmetic for a Pearson correlation over exact integer
#: moment sums (n, Sx, Sy, Sxy, Sxx, Syy) — both engines evaluate this
#: exact text on identical DECIMAL inputs, so the DOUBLE result is
#: bit-identical. Used with doubled tie-averaged ranks (Spearman) and
#: quantized log coordinates (Zipf).
def _pearson_sql(n: str, sx: str, sy: str, sxy: str, sxx: str, syy: str) -> str:
    num = f"(CAST({n} AS DOUBLE) * CAST({sxy} AS DOUBLE) - CAST({sx} AS DOUBLE) * CAST({sy} AS DOUBLE))"
    dx = f"(CAST({n} AS DOUBLE) * CAST({sxx} AS DOUBLE) - CAST({sx} AS DOUBLE) * CAST({sx} AS DOUBLE))"
    dy = f"(CAST({n} AS DOUBLE) * CAST({syy} AS DOUBLE) - CAST({sy} AS DOUBLE) * CAST({sy} AS DOUBLE))"
    return f"({num} / (sqrt({dx}) * sqrt({dy})))"


_SPEAR_RHO = _pearson_sql("n", "su", "sv", "suv", "suu", "svv")


# Spearman correlation per return flag over tie-averaged ranks, kept exact by
# doubling them, so all five moment sums are DECIMAL(38,0).
sql_query(
    "q_zr_spearman",
    f"""
    WITH r AS (
      SELECT l_returnflag AS grp,
             -- doubled tie-averaged rank: 2*avg_rank = 2*rank + ties - 1,
             -- an exact integer even when the average rank is fractional.
             2 * rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
               + count(*) OVER (PARTITION BY l_returnflag, l_quantity) - 1 AS u,
             2 * rank() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice)
               + count(*) OVER (PARTITION BY l_returnflag, l_extendedprice) - 1 AS v
      FROM lineitem),
    m AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n,
             SUM(CAST(u AS DECIMAL(38,0))) AS su,
             SUM(CAST(v AS DECIMAL(38,0))) AS sv,
             SUM(CAST(u AS DECIMAL(38,0)) * v) AS suv,
             SUM(CAST(u AS DECIMAL(38,0)) * u) AS suu,
             SUM(CAST(v AS DECIMAL(38,0)) * v) AS svv
      FROM r GROUP BY grp)
    SELECT grp, n, round({_SPEAR_RHO}, 6) AS rho
    FROM m ORDER BY grp
    """,
)


# ---------------------------------------------------------------------------
# Local clustering coefficient (triangles / wedges per node)
# ---------------------------------------------------------------------------

_LCC_MOD = 100

#: Shared final arithmetic: 2*tri / (deg*(deg-1)) on exact integers.
_LCC_SQL = (
    "(CASE WHEN deg >= 2 THEN round(2.0 * CAST(n_tri AS DOUBLE)"
    " / (CAST(deg AS DOUBLE) * (CAST(deg AS DOUBLE) - 1.0)), 6)"
    " ELSE 0.0 END)"
)


# Local clustering coefficient 2*tri / (deg*(deg-1)) per node of the folded
# supplier -> part graph; nodes in no triangle get 0 through an outer join.
sql_query(
    "q_zs_clustering_coef",
    f"""
    WITH raw AS (
      SELECT l_suppkey % {_LCC_MOD} AS a, l_partkey % {_LCC_MOD} AS b
      FROM lineitem WHERE l_linenumber = 2
    ), e AS (
      SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
      FROM raw WHERE a <> b
    ), deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
        SELECT u AS node FROM e UNION ALL SELECT v FROM e) ends GROUP BY node
    ), tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e e1
      JOIN e e2 ON e2.u = e1.v
      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    ), hits AS (
      SELECT a AS node FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    ), tcnt AS (
      SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM hits GROUP BY node)
    SELECT CAST(d.node AS BIGINT) AS node, d.deg,
           CAST(coalesce(t.n_tri, 0) AS BIGINT) AS n_tri,
           {_LCC_SQL} AS lcc
    FROM deg d LEFT JOIN tcnt t USING (node)
    ORDER BY node
    """,
)


# ---------------------------------------------------------------------------
# Link prediction: common neighbors + Adamic-Adar (quantized-log exact)
# ---------------------------------------------------------------------------

_LP_MOD = 100
_LP_TOPK = 50

#: Adamic-Adar contribution of one shared neighbor with degree ``deg``,
#: quantized to integer picounits so the per-pair SUM is exact (double
#: sums are partition-order-dependent; integer sums are not). A wedge
#: center always has deg >= 2, so ln(deg) >= ln 2 > 0.
_AA_Q = "CAST(round(1000000000000.0 / ln(CAST(deg AS DOUBLE)), 0) AS BIGINT)"


# Link prediction on the folded supplier -> part graph: common neighbours and
# Adamic-Adar per non-edge, top 50. AA is summed in integer picounits and the
# tie-break chain is total, so the LIMIT is deterministic.
sql_query(
    "q_zt_link_predict",
    f"""
    WITH raw AS (
      SELECT l_suppkey % {_LP_MOD} AS a, l_partkey % {_LP_MOD} AS b
      FROM lineitem WHERE l_linenumber = 1
    ), e AS (
      SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
      FROM raw WHERE a <> b
    ), adj AS (
      SELECT u AS ctr, v AS nbr FROM e UNION ALL SELECT v, u FROM e
    ), deg AS (
      SELECT ctr AS node, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY ctr
    ), wedge AS (
      SELECT a1.nbr AS a, a2.nbr AS b, d.deg
      FROM adj a1 JOIN adj a2 ON a1.ctr = a2.ctr AND a1.nbr < a2.nbr
      JOIN deg d ON d.node = a1.ctr
    ), cand AS (
      SELECT w.a, w.b,
             CAST(count(*) AS BIGINT) AS cn,
             CAST(SUM({_AA_Q}) AS DECIMAL(38,0)) AS aa_q
      FROM wedge w
      WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.u = w.a AND e.v = w.b)
      GROUP BY w.a, w.b)
    SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b, cn,
           round(CAST(aa_q AS DOUBLE) / 1000000000000.0, 6) AS adamic_adar
    FROM cand
    ORDER BY cn DESC, aa_q DESC, a, b
    LIMIT {_LP_TOPK}
    """,
)


# ---------------------------------------------------------------------------
# Zipf-law fit over corpus token frequencies (quantized log-log OLS)
# ---------------------------------------------------------------------------

_ZIPF_TOP = 200

#: Quantized natural-log coordinate in integer nanounits — exact to sum.
def _logq(x: str) -> str:
    return f"CAST(round(ln(CAST({x} AS DOUBLE)) * 1000000000.0, 0) AS BIGINT)"


_ZIPF_SLOPE = (
    "((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))"
)
_ZIPF_R2 = (
    "(((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))"
    " / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    " * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))))"
)
# intercept in y-units: (Sy - slope*Sx) / n, de-quantized once.
_ZIPF_ICEPT = (
    f"((CAST(sy AS DOUBLE) - {_ZIPF_SLOPE} * CAST(sx AS DOUBLE))"
    " / CAST(n AS DOUBLE) / 1000000000.0)"
)


@query(
    "q_zu_zipf",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
      FROM documents
    ), freq AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY tok
    ), ranked AS (
      SELECT tok, c, row_number() OVER (ORDER BY c DESC, tok) AS rnk
      FROM freq
    ), pts AS (
      SELECT {_logq('rnk')} AS qx, {_logq('c')} AS qy
      FROM ranked WHERE rnk <= {_ZIPF_TOP}
    ), m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             SUM(CAST(qx AS DECIMAL(38,0))) AS sx,
             SUM(CAST(qy AS DECIMAL(38,0))) AS sy,
             SUM(CAST(qx AS DECIMAL(38,0)) * qy) AS sxy,
             SUM(CAST(qx AS DECIMAL(38,0)) * qx) AS sxx,
             SUM(CAST(qy AS DECIMAL(38,0)) * qy) AS syy
      FROM pts)
    SELECT n, round({_ZIPF_SLOPE}, 6) AS slope,
           round({_ZIPF_ICEPT}, 6) AS intercept,
           round({_ZIPF_R2}, 6) AS r2
    FROM m
    """,
)
def q_zu_zipf(spark, sf_dir):
    """Zipf's-law fit over the corpus: OLS of ln(frequency) on ln(rank)
    for the top-200 tokens — slope near -1 is the classical signature of
    natural language (Zipf 1949, public), and a corpus whose slope
    drifts far from it is a quality red flag (boilerplate, spam, or
    template text), making this a standard training-data diagnostic next
    to the vocabulary-coverage curve (q_ym) and entropy (q_yl).

    Exactness: rank and frequency are integers, so ``ln`` of them is
    bit-identical across engines; each log coordinate is quantized to
    integer nanounits and the five OLS moments are exact DECIMAL sums —
    the quantization scales x and y by the same 1e9, which cancels in
    the slope and r² and is divided back out of the intercept in shared
    text.

    Scale shape: token frequencies are one explode + combinable count
    (the same shuffle as q_xw's inverted index, digest-width keys); the
    global top-200 rank is a rank-limit over the vocabulary table (tiny
    relative to the corpus — vocabulary grows ~ Heaps' law, sublinear);
    the OLS reduction runs over 200 rows.
    """
    docs = read_table(spark, sf_dir, "documents").select("text")
    tok = docs.select(
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), F.lit(0))
        ).alias("tok")
    )
    freq = tok.groupBy("tok").agg(F.count("*").cast("bigint").alias("c"))
    # Distributed top-k FIRST (TakeOrderedAndProject — per-partition heads
    # merged, never a single-partition shuffle of the whole vocabulary),
    # THEN the rank index over the 200 survivors only.
    top = freq.orderBy(F.col("c").desc(), F.col("tok")).limit(_ZIPF_TOP)
    ranked = top.select(
        "tok",
        "c",
        F.row_number().over(Window.orderBy(F.col("c").desc(), F.col("tok"))).alias(
            "rnk"
        ),
    )
    pts = ranked.selectExpr(f"{_logq('rnk')} AS qx", f"{_logq('c')} AS qy")
    m = pts.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("qx").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("qy").cast("decimal(38,0)")).alias("sy"),
        F.sum(F.col("qx").cast("decimal(38,0)") * F.col("qy")).alias("sxy"),
        F.sum(F.col("qx").cast("decimal(38,0)") * F.col("qx")).alias("sxx"),
        F.sum(F.col("qy").cast("decimal(38,0)") * F.col("qy")).alias("syy"),
    )
    return m.selectExpr(
        "n",
        f"round({_ZIPF_SLOPE}, 6) AS slope",
        f"round({_ZIPF_ICEPT}, 6) AS intercept",
        f"round({_ZIPF_R2}, 6) AS r2",
    )


# ---------------------------------------------------------------------------
# Pairwise Jensen-Shannon divergence between language sub-corpora
# ---------------------------------------------------------------------------

_JSD_TOP = 300

#: Per-token JSD contribution p*ln(2p/(p+q)) + q*ln(2q/(p+q)) on count
#: ratios (ca/na, cb/nb), quantized to integer femto-units so the sum is
#: exact. Individual terms can be negative (when p < q); the TOTAL is
#: >= 0 analytically, and the final sqrt clamps at 0 like q_yl's KL.
_JSD_P = "(CAST(ca AS DOUBLE) / CAST(na AS DOUBLE))"
_JSD_Q = "(CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))"
_JSD_TERM = (
    f"(CASE WHEN ca > 0 THEN {_JSD_P} * ln(2.0 * {_JSD_P} / ({_JSD_P} + {_JSD_Q})) ELSE 0.0 END"
    f" + CASE WHEN cb > 0 THEN {_JSD_Q} * ln(2.0 * {_JSD_Q} / ({_JSD_P} + {_JSD_Q})) ELSE 0.0 END)"
)
_JSD_TERM_Q = f"CAST(round({_JSD_TERM} * 1000000000000000.0, 0) AS BIGINT)"
_JSD_VAL = "greatest(0.0, CAST(sq AS DOUBLE) / 2.0 / 1000000000000000.0)"
_JSD_OUT = (
    f"round({_JSD_VAL}, 6) AS jsd",
    f"round(sqrt({_JSD_VAL} / ln(2.0)), 6) AS jsd_distance",
)


@query(
    "q_zv_js_divergence",
    oracle=f"""
    WITH tok AS (
      SELECT lang, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
      FROM documents),
    cnt AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY lang, tok),
    vocab AS (
      SELECT tok FROM (
        SELECT tok, sum(c) AS tot FROM cnt GROUP BY tok
        ORDER BY tot DESC, tok LIMIT {_JSD_TOP}) v),
    langs AS (SELECT DISTINCT lang FROM documents),
    grid AS (
      SELECT l.lang, v.tok, coalesce(c.c, 0) AS c
      FROM langs l CROSS JOIN vocab v
      LEFT JOIN cnt c ON c.lang = l.lang AND c.tok = v.tok),
    tot AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n FROM grid GROUP BY lang),
    pairs AS (
      SELECT g1.lang AS lang_a, g2.lang AS lang_b,
             g1.c AS ca, g2.c AS cb, t1.n AS na, t2.n AS nb
      FROM grid g1
      JOIN grid g2 ON g1.tok = g2.tok AND g1.lang < g2.lang
      JOIN tot t1 ON t1.lang = g1.lang
      JOIN tot t2 ON t2.lang = g2.lang),
    agg AS (
      SELECT lang_a, lang_b, max(na) AS n_tok_a, max(nb) AS n_tok_b,
             SUM(CAST({_JSD_TERM_Q} AS DECIMAL(38,0))) AS sq
      FROM pairs GROUP BY lang_a, lang_b)
    SELECT lang_a, lang_b, n_tok_a, n_tok_b, {_JSD_OUT[0]}, {_JSD_OUT[1]}
    FROM agg ORDER BY lang_a, lang_b
    """,
)
def q_zv_js_divergence(spark, sf_dir):
    """Pairwise Jensen-Shannon divergence between the language
    sub-corpora over the global top-300 token vocabulary — the bounded,
    symmetric distribution distance (Lin 1991, public) that corpus-mixing
    pipelines use to quantify how far two sources' token distributions
    sit apart; ``sqrt(JSD/ln 2)`` is the [0,1] JS distance. Every
    per-token contribution is computed in shared-text DOUBLE from exact
    integer counts, quantized to femto-units, and summed exactly — the
    same no-double-sums discipline as the Zipf fit.

    Scale shape: per-(lang, token) counts are one combinable aggregate;
    the vocabulary restriction is a distributed top-k (vocabulary is
    Heaps-sublinear in corpus size); the lang x vocab grid is |C|*|V|
    rows — tiny next to the corpus — and the pair join runs on that
    grid, never on raw tokens.
    """
    docs = read_table(spark, sf_dir, "documents").select("lang", "text")
    tok = docs.select(
        "lang",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), F.lit(0))
        ).alias("tok"),
    )
    cnt = tok.groupBy("lang", "tok").agg(F.count("*").cast("bigint").alias("c"))
    vocab = (
        cnt.groupBy("tok")
        .agg(F.sum("c").alias("tot"))
        .orderBy(F.col("tot").desc(), F.col("tok"))
        .limit(_JSD_TOP)
        .select("tok")
    )
    langs = docs.select("lang").distinct()
    grid = (
        langs.crossJoin(F.broadcast(vocab))
        .join(cnt, ["lang", "tok"], "left")
        .select("lang", "tok", F.coalesce("c", F.lit(0)).alias("c"))
    )
    tot = grid.groupBy("lang").agg(F.sum("c").cast("bigint").alias("n"))
    g1 = grid.select(
        F.col("lang").alias("lang_a"), "tok", F.col("c").alias("ca")
    )
    g2 = grid.select(
        F.col("lang").alias("lang_b"), "tok", F.col("c").alias("cb")
    )
    pairs = (
        g1.join(g2, "tok")
        .filter(F.col("lang_a") < F.col("lang_b"))
        .join(
            F.broadcast(tot.select(F.col("lang").alias("lang_a"), F.col("n").alias("na"))),
            "lang_a",
        )
        .join(
            F.broadcast(tot.select(F.col("lang").alias("lang_b"), F.col("n").alias("nb"))),
            "lang_b",
        )
    )
    agg = pairs.groupBy("lang_a", "lang_b").agg(
        F.max("na").alias("n_tok_a"),
        F.max("nb").alias("n_tok_b"),
        F.sum(F.expr(_JSD_TERM_Q).cast("decimal(38,0)")).alias("sq"),
    )
    return agg.selectExpr(
        "lang_a", "lang_b", "n_tok_a", "n_tok_b", _JSD_OUT[0], _JSD_OUT[1]
    ).orderBy("lang_a", "lang_b")


# ---------------------------------------------------------------------------
# Train/test n-gram novelty (memorization / leakage audit)
# ---------------------------------------------------------------------------

#: DuckDB word-trigram generator (1-based list indexing; range(1, m)
#: is empty when m <= 1, so short docs yield no grams). The Spark side
#: deliberately does NOT mirror this as an array transform: a lambda
#: that references the token array k times gets the upstream
#: regexp_extract_all INLINED k times by projection collapse, so the
#: tokenizer re-runs per element_at — measured 19s for 260k trigrams at
#: sf0.1. posexplode + two lead() windows build the identical gram
#: multiset with the regex evaluated exactly once per document.
_TRI_DUCK = (
    "list_transform(range(1, len(toks) - 1),"
    " i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])"
)

#: q_xa's engine-portable split nibble: last hex char of md5(doc_id).
_SPLIT_TRAIN = "substring(md5(CAST(doc_id AS STRING)), 32, 1) NOT IN ('d', 'e', 'f')"
_SPLIT_TRAIN_DUCK = "substring(md5(doc_id::VARCHAR), 32, 1) NOT IN ('d', 'e', 'f')"


@query(
    "q_zw_ngram_novelty",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, lang,
             regexp_extract_all(lower(text), '[a-z]+') AS toks,
             {_SPLIT_TRAIN_DUCK} AS is_train
      FROM documents),
    train_g AS (
      SELECT DISTINCT md5(g) AS gh
      FROM (SELECT unnest({_TRI_DUCK}) AS g FROM base WHERE is_train) t),
    test_g AS (
      SELECT lang, md5(g) AS gh
      FROM (SELECT lang, unnest({_TRI_DUCK}) AS g FROM base WHERE NOT is_train) t)
    SELECT s.lang,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN tr.gh IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unseen,
           round(CAST(sum(CASE WHEN tr.gh IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS novelty
    FROM test_g s LEFT JOIN train_g tr USING (gh)
    GROUP BY s.lang ORDER BY s.lang
    """,
)
def q_zw_ngram_novelty(spark, sf_dir):
    """Held-out n-gram novelty — the memorization/leakage audit a
    training pipeline runs before trusting an eval set: what fraction of
    the TEST split's word trigrams never occur in the TRAIN split
    (cf. the n-gram overlap audits in public LM-benchmark methodology,
    e.g. the GPT-2/GPT-3 papers' 8-gram decontamination — public). Low
    novelty means the eval set is effectively memorizable from train.
    Uses q_xa's engine-portable md5-nibble split, so the assignment
    itself is oracle-checkable.

    Scale shape: trigrams never shuffle as text — everything downstream
    of the tokenizer is keyed on md5(gram) digests (16-byte keys; same
    discipline as the dedup family). The expensive subtree (regex
    tokenize + trigram explode + md5) is traversed ONCE: a single
    (digest, lang) aggregate carries train/test counts side by side, the
    train-visibility probe is one window over the already-aggregated
    digest frame (a train/test-split join of two branches would
    re-execute the tokenizer subtree per branch — measured 87s vs ~11s
    at sf0.1), and per-language rates are one small aggregate. At 100 TB
    you'd bucket the train digest index once and reuse it across eval
    sets (q_xg's recipe).
    """
    tokpos = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.expr(_SPLIT_TRAIN).alias("is_train"),
        F.posexplode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), F.lit(0))
        ).alias("pos", "tok"),
    )
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    gram = F.concat_ws(
        " ", "tok", F.lead("tok", 1).over(wdoc), F.lead("tok", 2).over(wdoc)
    )
    exploded = (
        tokpos.select(
            "lang",
            "is_train",
            F.lead("tok", 2).over(wdoc).isNotNull().alias("full"),
            gram.alias("g"),
        )
        .filter("full")
        .select("lang", "is_train", F.md5("g").alias("gh"))
    )
    stats = exploded.groupBy("gh", "lang").agg(
        F.sum(F.when(F.col("is_train"), 1).otherwise(0)).alias("n_tr"),
        F.sum(F.when(F.col("is_train"), 0).otherwise(1)).alias("n_te"),
    )
    tot_tr = F.sum("n_tr").over(Window.partitionBy("gh"))
    return (
        stats.withColumn("gram_in_train", tot_tr > 0)
        .filter(F.col("n_te") > 0)
        .groupBy("lang")
        .agg(
            F.sum("n_te").cast("bigint").alias("n_grams"),
            F.sum(F.when(F.col("gram_in_train"), 0).otherwise(F.col("n_te")))
            .cast("bigint")
            .alias("n_unseen"),
        )
        .selectExpr(
            "lang",
            "n_grams",
            "n_unseen",
            "round(CAST(n_unseen AS DOUBLE) / n_grams, 6) AS novelty",
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Lagged cross-correlation between two event series
# ---------------------------------------------------------------------------

_XC_A, _XC_B = "click", "purchase"
_XC_MAXLAG = 3

_XC_RHO = _pearson_sql("n", "sa", "sb", "sab", "saa", "sbb")


@query(
    "q_zx_crosscorr",
    oracle=f"""
    WITH daily AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
             CAST(sum(CASE WHEN event_type = '{_XC_A}' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
             CAST(sum(CASE WHEN event_type = '{_XC_B}' THEN 1 ELSE 0 END) AS BIGINT) AS cb
      FROM events GROUP BY 1),
    lags AS (SELECT unnest(range(-{_XC_MAXLAG}, {_XC_MAXLAG} + 1)) AS lag),
    paired AS (
      SELECT l.lag, d1.ca AS a, d2.cb AS b
      FROM lags l
      JOIN daily d1 ON TRUE
      JOIN daily d2 ON d2.day = d1.day + l.lag),
    m AS (
      SELECT lag, CAST(count(*) AS BIGINT) AS n,
             SUM(CAST(a AS DECIMAL(38,0))) AS sa,
             SUM(CAST(b AS DECIMAL(38,0))) AS sb,
             SUM(CAST(a AS DECIMAL(38,0)) * b) AS sab,
             SUM(CAST(a AS DECIMAL(38,0)) * a) AS saa,
             SUM(CAST(b AS DECIMAL(38,0)) * b) AS sbb
      FROM paired GROUP BY lag)
    SELECT CAST(lag AS BIGINT) AS lag, n AS n_days, round({_XC_RHO}, 6) AS rho
    FROM m ORDER BY lag
    """,
)
def q_zx_crosscorr(spark, sf_dir):
    """Lagged cross-correlation between the daily 'click' and 'purchase'
    event series: Pearson correlation of count(click) on day d with
    count(purchase) on day d+lag for lags -3..+3 — the lead/lag
    diagnostic behind "do clicks predict purchases, and by how many
    days?" (the classical time-series cross-correlation function). Days
    are epoch-day INTEGERS on both engines (no timezone arithmetic can
    drift), counts are integers, the six moment sums are exact DECIMAL,
    and rho is one shared-text expression — the same exactness recipe
    as q_zr.

    Scale shape: the daily rollup is one combinable aggregate that
    shrinks the corpus to one row per day; everything after (the 7-lag
    self-join, the moment reduction) runs on the day-count table, which
    is ~4 orders of magnitude smaller than events at any SF.
    """
    ev = read_table(spark, sf_dir, "events").select("ts", "event_type")
    daily = (
        ev.groupBy(
            F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")).alias(
                "day"
            )
        )
        .agg(
            F.sum(F.when(F.col("event_type") == _XC_A, 1).otherwise(0))
            .cast("bigint")
            .alias("ca"),
            F.sum(F.when(F.col("event_type") == _XC_B, 1).otherwise(0))
            .cast("bigint")
            .alias("cb"),
        )
    )
    lags = spark.range(-_XC_MAXLAG, _XC_MAXLAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    d1 = daily.select("day", F.col("ca").alias("a"))
    d2 = daily.select(F.col("day").alias("day_b"), F.col("cb").alias("b"))
    paired = (
        F.broadcast(lags)
        .crossJoin(d1)
        .join(d2, F.col("day_b") == F.col("day") + F.col("lag"))
    )
    m = paired.groupBy("lag").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("a").cast("decimal(38,0)")).alias("sa"),
        F.sum(F.col("b").cast("decimal(38,0)")).alias("sb"),
        F.sum(F.col("a").cast("decimal(38,0)") * F.col("b")).alias("sab"),
        F.sum(F.col("a").cast("decimal(38,0)") * F.col("a")).alias("saa"),
        F.sum(F.col("b").cast("decimal(38,0)") * F.col("b")).alias("sbb"),
    )
    return m.selectExpr(
        "CAST(lag AS BIGINT) AS lag", "n AS n_days", f"round({_XC_RHO}, 6) AS rho"
    ).orderBy("lag")


# ---------------------------------------------------------------------------
# Multinomial Naive Bayes (counting-only, quantized-log exact argmax)
# ---------------------------------------------------------------------------

#: Laplace-smoothed log-likelihood of one vocab token under one class,
#: quantized to integer nano-units (exact to sum). Inputs are integers.
_NB_LP_Q = (
    "CAST(round(ln(CAST(cwc + 1 AS DOUBLE) / CAST(tokc + vsize AS DOUBLE))"
    " * 1000000000.0, 0) AS BIGINT)"
)
#: Class prior ln(Nc/N), same quantization.
_NB_PRIOR_Q = (
    "CAST(round(ln(CAST(nc AS DOUBLE) / CAST(ntot AS DOUBLE))"
    " * 1000000000.0, 0) AS BIGINT)"
)


@query(
    "q_zy_naive_bayes",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, lang,
             regexp_extract_all(lower(text), '[a-z]+') AS toks,
             {_SPLIT_TRAIN_DUCK} AS is_train
      FROM documents),
    train_tok AS (
      SELECT lang, unnest(toks) AS tok FROM base WHERE is_train),
    cwc AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS cwc
            FROM train_tok GROUP BY lang, tok),
    tokc AS (SELECT lang, CAST(count(*) AS BIGINT) AS tokc
             FROM train_tok GROUP BY lang),
    vocab AS (SELECT DISTINCT tok FROM train_tok),
    vs AS (SELECT CAST(count(*) AS BIGINT) AS vsize FROM vocab),
    langs AS (SELECT DISTINCT lang FROM base WHERE is_train),
    prior AS (
      SELECT t.lang, {_NB_PRIOR_Q} AS prior_q
      FROM (SELECT lang, count(*) AS nc FROM base WHERE is_train GROUP BY lang) t
      CROSS JOIN (SELECT count(*) AS ntot FROM base WHERE is_train) tt),
    grid AS (
      SELECT lang, tok, {_NB_LP_Q} AS lp_q FROM (
        SELECT l.lang, v.tok, coalesce(c.cwc, 0) AS cwc, tc.tokc, vs.vsize
        FROM langs l CROSS JOIN vocab v
        LEFT JOIN cwc c ON c.lang = l.lang AND c.tok = v.tok
        JOIN tokc tc ON tc.lang = l.lang
        CROSS JOIN vs) g),
    test_tok AS (
      SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS cnt
      FROM (SELECT doc_id, unnest(toks) AS tok FROM base WHERE NOT is_train) t
      GROUP BY doc_id, tok),
    tokscore AS (
      SELECT tt.doc_id, g.lang,
             SUM(CAST(tt.cnt * g.lp_q AS DECIMAL(38,0))) AS ts_q
      FROM test_tok tt JOIN grid g ON g.tok = tt.tok
      GROUP BY tt.doc_id, g.lang),
    scored AS (
      SELECT d.doc_id, d.lang AS actual, p.lang AS cand,
             coalesce(s.ts_q, 0) + p.prior_q AS score
      FROM (SELECT doc_id, lang FROM base WHERE NOT is_train) d
      CROSS JOIN prior p
      LEFT JOIN tokscore s ON s.doc_id = d.doc_id AND s.lang = p.lang),
    pred AS (
      SELECT doc_id, actual, cand AS predicted,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, cand) AS rn
      FROM scored)
    SELECT actual, predicted, CAST(count(*) AS BIGINT) AS n_docs
    FROM pred WHERE rn = 1
    GROUP BY actual, predicted ORDER BY actual, predicted
    """,
)
def q_zy_naive_bayes(spark, sf_dir):
    """Multinomial Naive Bayes language classifier, trained and evaluated
    entirely with counting aggregates (McCallum & Nigam 1998, public):
    Laplace-smoothed per-class token log-likelihoods from the md5-nibble
    TRAIN split, argmax scoring of the TEST split, confusion matrix out.
    Every log-probability is quantized to integer nano-units, so each
    document's class score is an EXACT integer sum — the argmax (with
    the class-name tie-break) cannot flip with partition order, which is
    what makes a trained classifier's confusion matrix hash-checkable
    across engines at all.

    Scale shape: training is two combinable aggregates over exploded
    train tokens ((class, token) counts + class totals). The scoring
    grid is |V| x |C| — vocabulary-sized, not corpus-sized (Heaps'
    law) — and joins test (doc, token) counts on the token key; docs
    with no vocab overlap fall back to priors via the outer join on the
    doc x class frame. No MLlib, no Python UDF, no driver collect.
    """
    base = (
        read_table(spark, sf_dir, "documents")
        .selectExpr(
            "doc_id",
            "lang",
            "regexp_extract_all(lower(text), '[a-z]+', 0) AS toks",
            f"{_SPLIT_TRAIN} AS is_train",
        )
    )
    train = base.filter("is_train")
    train_tok = train.select("lang", F.explode("toks").alias("tok"))
    cwc = train_tok.groupBy("lang", "tok").agg(
        F.count("*").cast("bigint").alias("cwc")
    )
    tokc = train_tok.groupBy("lang").agg(F.count("*").cast("bigint").alias("tokc"))
    vocab = train_tok.select("tok").distinct()
    vs = vocab.agg(F.count("*").cast("bigint").alias("vsize"))
    langs = train.select("lang").distinct()
    prior = (
        train.groupBy("lang")
        .agg(F.count("*").alias("nc"))
        .crossJoin(F.broadcast(train.agg(F.count("*").alias("ntot"))))
        .selectExpr("lang", f"{_NB_PRIOR_Q} AS prior_q")
    )
    grid = (
        langs.crossJoin(vocab)
        .join(cwc, ["lang", "tok"], "left")
        .withColumn("cwc", F.coalesce("cwc", F.lit(0)))
        .join(F.broadcast(tokc), "lang")
        .crossJoin(F.broadcast(vs))
        .selectExpr("lang", "tok", f"{_NB_LP_Q} AS lp_q")
    )
    test = base.filter("NOT is_train")
    test_tok = (
        test.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    tokscore = (
        test_tok.join(grid.withColumnRenamed("lang", "cand"), "tok")
        .groupBy("doc_id", "cand")
        .agg(F.sum((F.col("cnt") * F.col("lp_q")).cast("decimal(38,0)")).alias("ts_q"))
    )
    scored = (
        test.select("doc_id", F.col("lang").alias("actual"))
        .crossJoin(F.broadcast(prior.withColumnRenamed("lang", "cand")))
        .join(tokscore, ["doc_id", "cand"], "left")
        .select(
            "doc_id",
            "actual",
            "cand",
            (F.coalesce("ts_q", F.lit(0)) + F.col("prior_q")).alias("score"),
        )
    )
    pred = scored.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("cand"))
        ),
    ).filter(F.col("rn") == 1)
    return (
        pred.groupBy(F.col("actual"), F.col("cand").alias("predicted"))
        .agg(F.count("*").cast("bigint").alias("n_docs"))
        .orderBy("actual", "predicted")
    )


# ---------------------------------------------------------------------------
# Per-class precision / recall / F1 of a majority-class baseline
# ---------------------------------------------------------------------------

_PRF_P = "(CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) ELSE 0.0 END)"
_PRF_R = "(CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) ELSE 0.0 END)"
_PRF_F1 = (
    f"(CASE WHEN {_PRF_P} + {_PRF_R} > 0.0"
    f" THEN 2.0 * {_PRF_P} * {_PRF_R} / ({_PRF_P} + {_PRF_R}) ELSE 0.0 END)"
)


# Per-class precision, recall and F1 of the majority-language-per-source
# baseline on the md5 test split.
sql_query(
    "q_zz_eval_prf",
    f"""
    WITH base AS (
      SELECT doc_id, lang, source, {_SPLIT_TRAIN} AS is_train
      FROM documents),
    maj AS (
      SELECT source, lang AS predicted
      FROM (
        SELECT source, lang, count(*) AS n,
               row_number() OVER (PARTITION BY source
                                  ORDER BY count(*) DESC, lang) AS rn
        FROM base WHERE is_train GROUP BY source, lang) t
      WHERE rn = 1),
    conf AS (
      SELECT b.lang AS actual, m.predicted
      FROM base b JOIN maj m USING (source) WHERE NOT b.is_train),
    byactual AS (
      SELECT actual AS cls, CAST(count(*) AS BIGINT) AS n_actual,
             CAST(sum(CASE WHEN actual = predicted THEN 1 ELSE 0 END) AS BIGINT) AS tp
      FROM conf GROUP BY actual),
    bypred AS (
      SELECT predicted AS cls, CAST(count(*) AS BIGINT) AS n_pred
      FROM conf GROUP BY predicted),
    m AS (
      SELECT coalesce(a.cls, p.cls) AS cls,
             coalesce(a.tp, 0) AS tp,
             coalesce(p.n_pred, 0) - coalesce(a.tp, 0) AS fp,
             coalesce(a.n_actual, 0) - coalesce(a.tp, 0) AS fn
      FROM byactual a FULL OUTER JOIN bypred p ON a.cls = p.cls)
    SELECT cls, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn,
           round({_PRF_P}, 6) AS precision_,
           round({_PRF_R}, 6) AS recall_,
           round({_PRF_F1}, 6) AS f1
    FROM m ORDER BY cls
    """,
)


# ---------------------------------------------------------------------------
# Bollinger bands (rolling mean +/- 2 sigma, exact rolling moments)
# ---------------------------------------------------------------------------

_BB_WIN = 7  # trailing days, current day inclusive
_BB_K = 2    # band half-width in standard deviations

#: Rolling sample standard deviation from exact integer moment sums,
#: shared text; NULL until the window holds >= 2 points.
_BB_SD = (
    "(CASE WHEN nw >= 2 THEN sqrt((CAST(nw AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    " / (CAST(nw AS DOUBLE) * (CAST(nw AS DOUBLE) - 1.0))) ELSE NULL END)"
)
_BB_MEAN = "(CAST(sx AS DOUBLE) / CAST(nw AS DOUBLE) / 100.0)"
_BB_UP = f"({_BB_MEAN} + {_BB_K}.0 * {_BB_SD} / 100.0)"
_BB_LO = f"({_BB_MEAN} - {_BB_K}.0 * {_BB_SD} / 100.0)"
_BB_SIG = (
    f"(CASE WHEN {_BB_SD} IS NULL THEN 'warmup'"
    f" WHEN CAST(x AS DOUBLE) / 100.0 > {_BB_UP} THEN 'above'"
    f" WHEN CAST(x AS DOUBLE) / 100.0 < {_BB_LO} THEN 'below'"
    " ELSE 'inside' END)"
)


# Bollinger bands: trailing 7-day mean +/- 2 sample sigmas of daily event
# value from exact integer window moments; days with fewer than 2 points
# signal 'warmup'.
sql_query(
    "q_aa_bollinger",
    f"""
    WITH daily AS (
      SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY 1),
    w AS (
      SELECT day, x,
             CAST(count(*) OVER win AS BIGINT) AS nw,
             SUM(CAST(x AS DECIMAL(38,0))) OVER win AS sx,
             SUM(CAST(x AS DECIMAL(38,0)) * x) OVER win AS sxx
      FROM daily
      WINDOW win AS (ORDER BY day ROWS BETWEEN {_BB_WIN - 1} PRECEDING
                                           AND CURRENT ROW))
    SELECT CAST(day AS BIGINT) AS day,
           round(CAST(x AS DOUBLE) / 100.0, 6) AS value,
           nw AS n_window,
           round({_BB_MEAN}, 6) AS sma,
           round({_BB_UP}, 6) AS upper_band,
           round({_BB_LO}, 6) AS lower_band,
           {_BB_SIG} AS signal
    FROM w ORDER BY day
    """,
)


# ---------------------------------------------------------------------------
# Brown double exponential smoothing (level + trend + 1-step forecast)
# ---------------------------------------------------------------------------

_DES_ALPHA = 0.3
_DES_K = 16  # truncation lags, same bounded-frame design as q_yu


def _des_smooth(val_list: str) -> str:
    """Shared-shape truncated EWMA over a most-recent-first list of
    doubles: sum_j w^j x_j / sum_j w^j with w = 1 - alpha. The list is
    bounded (<= K elements) and identically ordered on both engines, so
    the in-row fold is deterministic."""
    w = 1.0 - _DES_ALPHA
    return (
        f"(list_sum(list_transform({val_list}, (x, i) -> x * pow({w}, i - 1)))"
        f" / list_sum(list_transform({val_list}, (x, i) -> pow({w}, i - 1))))"
    )


_DES_LEVEL = "(2.0 * s1 - s2)"
#: alpha/(1-alpha) pre-folded to ONE full-precision double literal: left
#: as an in-query division, Spark parses `0.3 / (1.0 - 0.3)` as DECIMAL
#: division and truncates the ratio to 6 fractional digits (0.428571),
#: silently shifting the trend by ~1e-6 relative to the oracle's double
#: arithmetic. A repr()-round-trip literal parses to the identical
#: double on both engines.
_DES_RATIO = repr(_DES_ALPHA / (1.0 - _DES_ALPHA))
_DES_TREND = f"(CAST({_DES_RATIO} AS DOUBLE) * (s1 - s2))"
_DES_FC = f"({_DES_LEVEL} + {_DES_TREND})"


@query(
    "q_ab_double_smoothing",
    oracle=f"""
    WITH s1t AS (
      SELECT user_id, ts, event_id,
             {_des_smooth(f'''list_reverse(list(value) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN {_DES_K - 1} PRECEDING AND CURRENT ROW))''')} AS s1
      FROM events WHERE user_id IS NOT NULL),
    s2t AS (
      SELECT user_id, ts, event_id, s1,
             {_des_smooth(f'''list_reverse(list(s1) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN {_DES_K - 1} PRECEDING AND CURRENT ROW))''')} AS s2,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM s1t)
    SELECT user_id,
           round({_DES_LEVEL}, 6) AS level,
           round({_DES_TREND}, 6) AS trend,
           round({_DES_FC}, 6) AS forecast_1
    FROM s2t WHERE rn = 1 ORDER BY user_id
    """,
)
def q_ab_double_smoothing(spark, sf_dir):
    """Brown's double exponential smoothing per user — the
    level-plus-trend forecaster built from two stacked EWMA passes
    (Brown 1963, public): s1 smooths the series, s2 smooths s1, then
    level = 2*s1 - s2, trend = alpha/(1-alpha)*(s1 - s2), and the
    one-step forecast is level + trend. Reported at each user's LAST
    observation (the forecasting frontier). Both passes use q_yu's
    bounded-trail truncation (K=16 lags), so the infinite recursion is
    a constant-width ROWS frame and the in-row folds are deterministic
    on both engines.

    Scale shape: two window passes with bounded frame state (never a
    user's whole series in memory), both over the SAME (user_id; ts,
    event_id) ordering — one sort, reused; the second pass adds no
    exchange. The last-row pick is a frame-free rank, and the output is
    one row per user.
    """
    ev = read_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(_DES_K - 1), 0)
    )
    decay = 1.0 - _DES_ALPHA

    def smooth(col):
        trail = F.reverse(F.collect_list(col).over(w))
        wts = F.transform(trail, lambda x, i: F.pow(F.lit(decay), i.cast("double")))
        wx = F.zip_with(trail, wts, lambda x, wt: x * wt)
        ssum = F.aggregate(wx, F.lit(0.0), lambda acc, x: acc + x)
        wsum = F.aggregate(wts, F.lit(0.0), lambda acc, x: acc + x)
        return ssum / wsum

    s1t = ev.select("user_id", "ts", "event_id", smooth("value").alias("s1"))
    s2t = s1t.select(
        "user_id",
        "ts",
        "event_id",
        "s1",
        smooth("s1").alias("s2"),
    ).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("user_id").orderBy(
                F.col("ts").desc(), F.col("event_id").desc()
            )
        ),
    )
    return (
        s2t.filter(F.col("rn") == 1)
        .selectExpr(
            "user_id",
            f"round({_DES_LEVEL}, 6) AS level",
            f"round({_DES_TREND}, 6) AS trend",
            f"round({_DES_FC}, 6) AS forecast_1",
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# One-pass correlation matrix (long form, exact quantized moments)
# ---------------------------------------------------------------------------

#: (name, quantized integer expression) — quantization factors cancel in
#: the correlation, so mixed scales are safe.
_CM_COLS = (
    ("quantity", "CAST(round(l_quantity * 100) AS BIGINT)"),
    ("price", "CAST(round(l_extendedprice * 100) AS BIGINT)"),
    ("discount", "CAST(round(l_discount * 100) AS BIGINT)"),
    ("tax", "CAST(round(l_tax * 100) AS BIGINT)"),
)


def _cm_corr(i: int, j: int) -> str:
    return _pearson_sql(
        "n", f"s{i}", f"s{j}", f"s{i}{j}", f"s{i}{i}", f"s{j}{j}"
    )


def _cm_moment_sql() -> str:
    """The single-aggregate moment list shared by both engines."""
    parts = ["CAST(count(*) AS BIGINT) AS n"]
    for i, (_, q) in enumerate(_CM_COLS):
        parts.append(f"SUM(CAST({q} AS DECIMAL(38,0))) AS s{i}")
    for i in range(len(_CM_COLS)):
        for j in range(i, len(_CM_COLS)):
            qi = _CM_COLS[i][1]
            qj = _CM_COLS[j][1]
            parts.append(
                f"SUM(CAST({qi} AS DECIMAL(38,0)) * ({qj})) AS s{i}{j}"
            )
    return ", ".join(parts)


def _cm_pairs_sql() -> str:
    """UNION ALL long-form readout of the upper triangle (i < j)."""
    selects = []
    for i in range(len(_CM_COLS)):
        for j in range(i + 1, len(_CM_COLS)):
            selects.append(
                f"SELECT '{_CM_COLS[i][0]}' AS col_x, '{_CM_COLS[j][0]}' AS col_y,"
                f" n, round({_cm_corr(i, j)}, 6) AS corr FROM m"
            )
    return " UNION ALL ".join(selects)


@query(
    "q_ac_corr_matrix",
    oracle=f"""
    WITH m AS (SELECT {_cm_moment_sql()} FROM lineitem)
    SELECT * FROM ({_cm_pairs_sql()}) pairs
    ORDER BY col_x, col_y
    """,
)
def q_ac_corr_matrix(spark, sf_dir):
    """One-pass Pearson correlation matrix over the lineitem measures
    (quantity, price, discount, tax), long-form upper triangle — the
    feature-screening primitive ahead of any modeling step (and the
    moment layout every distributed ML system computes the same way).
    ALL C(4,2) correlations come from a SINGLE aggregate over one scan:
    4 sums, 10 cross/square sums, one count — every moment an exact
    DECIMAL over quantized integers (the per-column quantization factors
    cancel in r, so mixed units are safe), then each correlation is one
    shared-text expression over the one-row moment frame.

    Scale shape: one map-side-combinable aggregate over one scan — the
    minimum possible data movement for a correlation matrix (the naive
    per-pair approach scans the table 6 times). Adding a column grows
    the moment list quadratically but the shuffle stays ONE row.
    """
    li = read_table(spark, sf_dir, "lineitem")
    m = li.selectExpr(
        *[f"{q} AS q{i}" for i, (_, q) in enumerate(_CM_COLS)]
    )
    aggs = [F.count("*").cast("bigint").alias("n")]
    for i in range(len(_CM_COLS)):
        aggs.append(F.sum(F.col(f"q{i}").cast("decimal(38,0)")).alias(f"s{i}"))
    for i in range(len(_CM_COLS)):
        for j in range(i, len(_CM_COLS)):
            aggs.append(
                F.sum(F.col(f"q{i}").cast("decimal(38,0)") * F.col(f"q{j}")).alias(
                    f"s{i}{j}"
                )
            )
    mom = m.agg(*aggs)
    # Long-form readout via ONE stack() over the one-row moment frame —
    # a UNION ALL of per-pair SELECTs would re-plan (and re-scan) the
    # aggregate subtree once per pair; stack keeps the executed plan at
    # exactly one parquet scan (asserted in tests/test_science_ops.py).
    tuples = []
    for i in range(len(_CM_COLS)):
        for j in range(i + 1, len(_CM_COLS)):
            tuples.append(
                f"'{_CM_COLS[i][0]}', '{_CM_COLS[j][0]}', n,"
                f" round({_cm_corr(i, j)}, 6)"
            )
    n_pairs = len(tuples)
    return mom.selectExpr(
        f"stack({n_pairs}, {', '.join(tuples)}) AS (col_x, col_y, n, corr)"
    ).orderBy("col_x", "col_y")


# ---------------------------------------------------------------------------
# RAKE keyword extraction (islands over the token stream)
# ---------------------------------------------------------------------------

#: RAKE's phrase delimiters: the engine's deterministic English stopword
#: fixture (functions/text.py) — deliberately small; production swaps in
#: a full list without changing the plan shape.
_RAKE_STOPS = (
    "the", "and", "of", "to", "a", "in", "is", "it", "that", "for",
)
_RAKE_TOPK = 20
_RAKE_STOP_SQL = ", ".join(f"'{w}'" for w in _RAKE_STOPS)

#: Per-word RAKE score deg(w)/freq(w) quantized to nano-units so the
#: per-phrase sum is exact.
_RAKE_WSCORE_Q = (
    "CAST(round((CAST(deg AS DOUBLE) / CAST(freq AS DOUBLE))"
    " * 1000000000.0, 0) AS BIGINT)"
)


@query(
    "q_ag_rake_keywords",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, u.pos, u.tok
      FROM (
        SELECT doc_id,
               regexp_extract_all(lower(text), '[a-z]+') AS toks
        FROM documents WHERE lang = 'en') d,
      LATERAL (
        SELECT UNNEST(generate_series(1, len(d.toks))) AS pos,
               UNNEST(d.toks) AS tok) u),
    marked AS (
      SELECT doc_id, pos, tok,
             CASE WHEN tok IN ({_RAKE_STOP_SQL}) THEN 1 ELSE 0 END AS stop,
             sum(CASE WHEN tok IN ({_RAKE_STOP_SQL}) THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS isle
      FROM tok),
    phrase_tokens AS (
      SELECT doc_id, isle, pos, tok FROM marked WHERE stop = 0),
    phrases AS (
      SELECT doc_id, isle,
             string_agg(tok, ' ' ORDER BY pos) AS phrase,
             CAST(count(*) AS BIGINT) AS plen
      FROM phrase_tokens GROUP BY doc_id, isle),
    wstats AS (
      SELECT pt.tok, CAST(count(*) AS BIGINT) AS freq,
             CAST(sum(p.plen) AS BIGINT) AS deg
      FROM phrase_tokens pt JOIN phrases p USING (doc_id, isle)
      GROUP BY pt.tok),
    pscore AS (
      SELECT p.phrase,
             SUM(CAST({_RAKE_WSCORE_Q} AS DECIMAL(38,0))) AS sq
      FROM phrase_tokens pt
      JOIN phrases p USING (doc_id, isle)
      JOIN wstats w ON w.tok = pt.tok
      GROUP BY p.doc_id, p.isle, p.phrase),
    agg AS (
      SELECT phrase, CAST(count(*) AS BIGINT) AS n_occurrences,
             max(sq) AS sq
      FROM pscore GROUP BY phrase)
    SELECT phrase, n_occurrences,
           round(CAST(sq AS DOUBLE) / 1000000000.0, 6) AS rake_score
    FROM agg
    ORDER BY sq DESC, phrase LIMIT {_RAKE_TOPK}
    """,
)
def q_ag_rake_keywords(spark, sf_dir):
    """RAKE keyword extraction (Rose, Engel, Cramer & Cowley, "Automatic
    keyword extraction from individual documents", 2010 — public) over
    the English sub-corpus: candidate phrases are maximal stopword-free
    token runs (the gaps-and-islands construction, q_zb's pattern, keyed
    by a running stopword count), each word scores degree/frequency
    (degree = summed length of phrases containing it), and a phrase
    scores the sum of its word scores. Word scores are quantized to
    nano-units so phrase sums are exact integers — the ranking cannot
    flip with partition order.

    Scale shape: one posexplode + per-doc running-sum window builds the
    islands (per-doc sorts over doc-hash partitions); word stats are one
    combinable aggregate over phrase tokens; the phrase-score join fans
    tokens to their word stats (broadcast — vocabulary-bounded) and
    re-aggregates per phrase. Top-k is a rank-limit on exact integer
    keys.
    """
    docs = read_table(spark, sf_dir, "documents").filter(F.col("lang") == "en")
    tok = docs.select(
        "doc_id",
        F.posexplode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), F.lit(0))
        ).alias("pos", "tok"),
    )
    stop = F.col("tok").isin(*_RAKE_STOPS).cast("int")
    marked = tok.select(
        "doc_id",
        "pos",
        "tok",
        stop.alias("stop"),
        F.sum(stop)
        .over(
            Window.partitionBy("doc_id")
            .orderBy("pos")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .alias("isle"),
    )
    phrase_tokens = marked.filter(F.col("stop") == 0).select(
        "doc_id", "isle", "pos", "tok"
    )
    phrases = phrase_tokens.groupBy("doc_id", "isle").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("phrase"),
        F.count("*").cast("bigint").alias("plen"),
    )
    wstats = (
        phrase_tokens.join(phrases, ["doc_id", "isle"])
        .groupBy("tok")
        .agg(
            F.count("*").cast("bigint").alias("freq"),
            F.sum("plen").cast("bigint").alias("deg"),
        )
    )
    pscore = (
        phrase_tokens.join(phrases, ["doc_id", "isle"])
        .join(F.broadcast(wstats), "tok")
        .groupBy("doc_id", "isle", "phrase")
        .agg(F.sum(F.expr(_RAKE_WSCORE_Q).cast("decimal(38,0)")).alias("sq"))
    )
    agg = pscore.groupBy("phrase").agg(
        F.count("*").cast("bigint").alias("n_occurrences"),
        F.max("sq").alias("sq"),
    )
    return (
        agg.orderBy(F.col("sq").desc(), F.col("phrase"))
        .limit(_RAKE_TOPK)
        .selectExpr(
            "phrase",
            "n_occurrences",
            "round(CAST(sq AS DOUBLE) / 1000000000.0, 6) AS rake_score",
        )
    )


# ---------------------------------------------------------------------------
# Embedding-space cosine histogram (drift/geometry audit)
# ---------------------------------------------------------------------------

_CH_BINS = 10  # over [-1, 1], width 0.2


@query(
    "q_ah_cosine_hist",
    oracle=f"""
    WITH ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    raw AS (
      SELECT a.vec_id, a.v AS va, b.v AS vb
      FROM ev a JOIN ev b ON b.vec_id = a.vec_id + 1),
    -- Mirror Spark's sequential left fold element-for-element (NOT the
    -- built-in list_cosine_similarity, whose summation order differs and
    -- can flip a bin at a 6dp rounding boundary by 1 ULP): list_reduce
    -- is a left fold, and IEEE (0.0 + x1) == x1, so the two engines add
    -- the identical doubles in the identical order.
    pairs AS (
      SELECT round(
               list_reduce(list_transform(generate_series(1, len(va)),
                                          i -> va[i] * vb[i]),
                           (acc, x) -> acc + x)
               / (sqrt(list_reduce(list_transform(va, x -> x * x),
                                   (acc, x) -> acc + x))
                  * sqrt(list_reduce(list_transform(vb, x -> x * x),
                                     (acc, x) -> acc + x))), 6) AS sim
      FROM raw),
    binned AS (
      SELECT least(CAST(floor((sim + 1.0) / 0.2) AS BIGINT),
                   {_CH_BINS - 1}) AS bin,
             CAST(round(sim * 1000000.0) AS BIGINT) AS simq
      FROM pairs)
    SELECT bin,
           round(CAST(-1.0 + 0.2 * bin AS DOUBLE), 1) AS bin_lo,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(CAST(SUM(CAST(simq AS DECIMAL(38,0))) AS DOUBLE)
                 / count(*) / 1000000.0, 6) AS mean_sim
    FROM binned GROUP BY bin ORDER BY bin
    """,
)
def q_ah_cosine_hist(spark, sf_dir):
    """Histogram of cosine similarity between consecutive embedding
    pairs — the embedding-space geometry audit (a healthy space
    concentrates mass in a narrow band; collapsed or anisotropic spaces
    shift it toward 1.0 — cf. Ethayarajh 2019 on anisotropy, public)
    and the drift check run between embedding model versions. Cosines
    are rounded to 6dp BEFORE binning (identical rounded values on both
    engines -> identical bins), and per-bin means are exact quantized
    sums.

    Scale shape: consecutive-id pairing is a self-join on vec_id+1 —
    co-partitioned, no fan-out, and at 100 TB it pairs each vector with
    its file-order neighbor in one zipped scan; the histogram is one
    combinable aggregate over 10 groups. The JVM-side zip_with dot
    product never leaves codegen.
    """
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    a = emb.select(F.col("vec_id"), F.col("v").alias("va"))
    b = emb.select((F.col("vec_id") - 1).alias("vec_id"), F.col("v").alias("vb"))
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(
            F.transform(c, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )
    pairs = a.join(b, "vec_id").select(
        F.round(dot / (norm(F.col("va")) * norm(F.col("vb"))), 6).alias("sim")
    )
    binned = pairs.selectExpr(
        f"least(CAST(floor((sim + 1.0) / 0.2) AS BIGINT), {_CH_BINS - 1}) AS bin",
        "CAST(round(sim * 1000000.0) AS BIGINT) AS simq",
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum(F.col("simq").cast("decimal(38,0)")).alias("sq"),
        )
        .selectExpr(
            "bin",
            "round(CAST(-1.0 + 0.2 * bin AS DOUBLE), 1) AS bin_lo",
            "n_pairs",
            "round(CAST(sq AS DOUBLE) / n_pairs / 1000000.0, 6) AS mean_sim",
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# Isotonic regression (distributed minimax closed form)
# ---------------------------------------------------------------------------


# Isotonic regression of daily mean value per event type by the minimax closed
# form fit_i = max_{j<=i} min_{k>=i} mean(y[j..k]) (PAVA's output as joins and
# aggregates over the day table).
sql_query(
    "q_ai_isotonic",
    """
    WITH daily AS (
      SELECT event_type,
             CAST(CAST(ts AS TIMESTAMP)::DATE - DATE '1970-01-01' AS BIGINT) AS day,
             CAST(count(*) AS BIGINT) AS w,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sy
      FROM events GROUP BY 1, 2),
    pts AS (
      SELECT event_type, day, w, sy,
             row_number() OVER (PARTITION BY event_type ORDER BY day) AS i
      FROM daily),
    ranges AS (
      SELECT j.event_type, j.i AS j, k.i AS k,
             CAST(SUM(p.sy) AS DOUBLE) / CAST(SUM(p.w) AS DOUBLE) AS mean_jk
      FROM pts j
      JOIN pts k ON k.event_type = j.event_type AND k.i >= j.i
      JOIN pts p ON p.event_type = j.event_type AND p.i BETWEEN j.i AND k.i
      GROUP BY j.event_type, j.i, k.i),
    inner_min AS (
      SELECT r.event_type, i.i, r.j, min(r.mean_jk) AS m
      FROM ranges r
      JOIN pts i ON i.event_type = r.event_type
                AND r.j <= i.i AND i.i <= r.k
      GROUP BY r.event_type, i.i, r.j),
    fit AS (
      SELECT event_type, i, max(m) AS fitted_cents
      FROM inner_min GROUP BY event_type, i)
    SELECT p.event_type, CAST(p.day AS BIGINT) AS day,
           round(CAST(p.sy AS DOUBLE) / p.w / 100.0, 6) AS raw_mean,
           round(f.fitted_cents / 100.0, 6) AS fitted
    FROM fit f JOIN pts p ON p.event_type = f.event_type AND p.i = f.i
    ORDER BY p.event_type, p.day
    """,
)


# ---------------------------------------------------------------------------
# Grid-DBSCAN (density clustering over the embedding projection)
# ---------------------------------------------------------------------------

_DB_EPS = 0.04
_DB_MINPTS = 3
#: (cx, cy) -> single int key. Collision-free iff both cell indices lie
#: in [-2048, 2047], i.e. |coord| < 2048 * eps = 81.92 at eps = 0.04 —
#: far beyond any unit-normalized embedding. Out-of-range coordinates
#: would silently alias cells, so the extraction filters to the safe
#: range on BOTH engines (shared text) rather than trusting the input.
_DB_KEY = "((cx + 2048) * 4096 + (cy + 2048))"
_DB_RANGE = "cx BETWEEN -2048 AND 2047 AND cy BETWEEN -2048 AND 2047"


@query(
    "q_ak_grid_dbscan",
    oracle=f"""
    WITH pts AS (
      SELECT * FROM (
        SELECT vec_id,
               CAST(floor(CAST(embedding[1] AS DOUBLE) / {_DB_EPS}) AS BIGINT) AS cx,
               CAST(floor(CAST(embedding[2] AS DOUBLE) / {_DB_EPS}) AS BIGINT) AS cy
        FROM embeddings)
      WHERE {_DB_RANGE}),
    cells AS (
      SELECT cx, cy, {_DB_KEY} AS cell, CAST(count(*) AS BIGINT) AS n_pts
      FROM pts GROUP BY cx, cy),
    core AS (SELECT * FROM cells WHERE n_pts >= {_DB_MINPTS}),
    adj AS (
      SELECT c1.cell AS u, c2.cell AS v
      FROM core c1 JOIN core c2
        ON c2.cx BETWEEN c1.cx - 1 AND c1.cx + 1
       AND c2.cy BETWEEN c1.cy - 1 AND c1.cy + 1),
    reach AS (
      WITH RECURSIVE r(a, b) AS (
        SELECT u, v FROM adj
        UNION
        SELECT r.a, e.v FROM r JOIN adj e ON e.u = r.b)
      SELECT a, b FROM r),
    labeled AS (
      SELECT a AS cell, min(b) AS cluster FROM reach GROUP BY a)
    SELECT l.cluster,
           CAST(count(*) AS BIGINT) AS n_cells,
           CAST(sum(c.n_pts) AS BIGINT) AS n_core_points
    FROM labeled l JOIN core c ON c.cell = l.cell
    GROUP BY l.cluster ORDER BY l.cluster
    """,
)
def q_ak_grid_dbscan(spark, sf_dir):
    """Grid-based density clustering (the GriDBSCAN / cell-DBSCAN family
    — Ester et al. 1996 for DBSCAN; grid variant per Gunawan 2013, both
    public) over the first two embedding dimensions: bucket points into
    eps-cells, mark cells with >= minPts as CORE, union adjacent
    (8-neighborhood) core cells into clusters via the engine's
    pointer-jumping connected-components operator, and report per-cluster
    cell/point totals. The cluster label is the component's minimum cell
    key — identical on both engines by construction (the oracle computes
    the same min over a recursive transitive closure).

    Scale shape: points shuffle ONCE into cell counts (combinable); all
    clustering runs on the CELL table (bounded by (range/eps)^2, not by
    point count); adjacency is a 9-offset equi-join on int cell keys
    (the geo-join discipline — no distance cross join anywhere); CC is
    O(log diameter) pointer-jumping rounds over cell-pair edges. This is
    how density clustering survives 100 TB: the corpus only ever feeds a
    grid histogram.
    """
    from ..operators.dedup import keep_one_representatives

    emb = read_table(spark, sf_dir, "embeddings")
    # element_at is 1-based like DuckDB's list indexing; Spark's SQL
    # bracket `embedding[1]` would be the SECOND element (0-based).
    pts = emb.selectExpr(
        "vec_id",
        f"CAST(floor(CAST(element_at(embedding, 1) AS DOUBLE) / {_DB_EPS}) AS BIGINT) AS cx",
        f"CAST(floor(CAST(element_at(embedding, 2) AS DOUBLE) / {_DB_EPS}) AS BIGINT) AS cy",
    ).filter(F.expr(_DB_RANGE))
    cells = pts.groupBy("cx", "cy").agg(F.count("*").cast("bigint").alias("n_pts"))
    core = cells.filter(F.col("n_pts") >= _DB_MINPTS).selectExpr(
        "cx", "cy", f"{_DB_KEY} AS cell", "n_pts"
    )
    offsets = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]
    off_df = local_frame(spark, offsets, "dx int, dy int")
    probe = (
        core.crossJoin(F.broadcast(off_df))
        .selectExpr("cell AS u", "cx + dx AS cx", "cy + dy AS cy")
    )
    adj = probe.join(
        core.selectExpr("cx", "cy", "cell AS v"), ["cx", "cy"]
    ).select("u", "v")
    labeled = keep_one_representatives(
        adj.selectExpr("u AS id_a", "v AS id_b"),
        core.select("cell"),
        id_col="cell",
    ).selectExpr("cell", "rep_id AS cluster")
    return (
        labeled.join(core, "cell")
        .groupBy("cluster")
        .agg(
            F.count("*").cast("bigint").alias("n_cells"),
            F.sum("n_pts").cast("bigint").alias("n_core_points"),
        )
        .orderBy("cluster")
    )


# ---------------------------------------------------------------------------
# SAX time-series symbolization (PAA + Gaussian breakpoints)
# ---------------------------------------------------------------------------

_SAX_SEG_DAYS = 5
#: 4-symbol alphabet breakpoints (standard normal quartiles), embedded
#: as full-precision double literals (the q_ab lesson: bare decimal
#: literals parse as DECIMAL on Spark).
_SAX_BP = "CAST(0.6744897501960817 AS DOUBLE)"
_SAX_SYM = (
    f"(CASE WHEN z < -{_SAX_BP} THEN 'a'"
    f" WHEN z < CAST(0.0 AS DOUBLE) THEN 'b'"
    f" WHEN z < {_SAX_BP} THEN 'c'"
    " ELSE 'd' END)"
)
#: z-score of a segment PAA mean against the full-series moments, all
#: from exact integer sums; rounded to 6dp BEFORE symbol binning so the
#: breakpoint comparison sees identical values on both engines.
_SAX_Z = (
    "round(((CAST(seg_sum AS DOUBLE) / CAST(seg_n AS DOUBLE))"
    " - (CAST(tot_sum AS DOUBLE) / CAST(tot_n AS DOUBLE)))"
    " / sqrt((CAST(tot_n AS DOUBLE) * CAST(tot_ss AS DOUBLE)"
    " - CAST(tot_sum AS DOUBLE) * CAST(tot_sum AS DOUBLE))"
    " / (CAST(tot_n AS DOUBLE) * (CAST(tot_n AS DOUBLE) - 1.0))), 6)"
)


# SAX symbols of each event type's daily series: 5-day segment means,
# z-normalized on exact moments and rounded to 6dp before the quartile-
# breakpoint CASE.
sql_query(
    "q_al_sax",
    f"""
    WITH daily AS (
      SELECT event_type,
             CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY 1, 2),
    idx AS (
      SELECT event_type, day, x,
             -- floor before the cast: a DOUBLE -> BIGINT cast rounds to
             -- nearest on DuckDB and truncates on Spark
             CAST(floor((row_number() OVER (PARTITION BY event_type ORDER BY day) - 1)
                        / {_SAX_SEG_DAYS}) AS BIGINT) AS seg
      FROM daily),
    segs AS (
      SELECT event_type, seg,
             CAST(count(*) AS BIGINT) AS seg_n,
             CAST(sum(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS seg_sum
      FROM idx GROUP BY event_type, seg),
    tot AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS tot_n,
             SUM(CAST(x AS DECIMAL(38,0))) AS tot_sum,
             SUM(CAST(x AS DECIMAL(38,0)) * x) AS tot_ss
      FROM idx GROUP BY event_type),
    z AS (
      SELECT s.event_type, s.seg, s.seg_n, {_SAX_Z} AS z
      FROM segs s JOIN tot USING (event_type))
    SELECT event_type, CAST(seg AS BIGINT) AS segment, seg_n AS n_days,
           z, {_SAX_SYM} AS symbol
    FROM z ORDER BY event_type, segment
    """,
)


# ---------------------------------------------------------------------------
# Rolling-origin forecast backtest (SES vs naive baseline)
# ---------------------------------------------------------------------------

_BT_K = 8       # EWMA trail length (preceding days only)
_BT_ALPHA = 0.3

#: Truncated SES forecast from the K PRECEDING days (never the current
#: one — that would leak the answer into the forecast), most-recent
#: first, q_yu's self-normalizing trail form.
_BT_W = repr(1.0 - _BT_ALPHA)


@query(
    "q_am_backtest",
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY 1, 2),
    w AS (
      SELECT event_type, day, x,
             list_reverse(list(x) OVER (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN {_BT_K} PRECEDING AND 1 PRECEDING)) AS trail,
             lag(x) OVER (PARTITION BY event_type ORDER BY day) AS prev_x
      FROM daily),
    scored AS (
      SELECT event_type,
             CAST(abs(CAST(x AS DOUBLE)
               - (list_sum(list_transform(trail, (v, i) -> v * pow({_BT_W}, i - 1)))
                  / list_sum(list_transform(trail, (v, i) -> pow({_BT_W}, i - 1)))))
               AS DOUBLE) AS err_ses,
             CAST(abs(x - prev_x) AS BIGINT) AS err_naive
      FROM w WHERE len(trail) >= 1 AND prev_x IS NOT NULL),
    q AS (
      SELECT event_type,
             CAST(round(err_ses * 1000000.0, 0) AS BIGINT) AS eq,
             err_naive
      FROM scored)
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_days_scored,
           round(CAST(SUM(CAST(eq AS DECIMAL(38,0))) AS DOUBLE)
                 / count(*) / 1000000.0 / 100.0, 6) AS mae_ses,
           round(CAST(SUM(CAST(err_naive AS DECIMAL(38,0))) AS DOUBLE)
                 / count(*) / 100.0, 6) AS mae_naive,
           round(1.0 - (CAST(SUM(CAST(eq AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0)
                 / CAST(SUM(CAST(err_naive AS DECIMAL(38,0))) AS DOUBLE), 6)
             AS skill
    FROM q GROUP BY event_type ORDER BY event_type
    """,
)
def q_am_backtest(spark, sf_dir):
    """Rolling-origin forecast backtest: one-step-ahead SES forecasts
    (q_yu's truncated-trail form over the PRECEDING days only — the
    frame ends at 1 PRECEDING, so the forecast never sees its own
    target) scored against realized daily values, with the naive
    persistence forecast (yesterday's value) as baseline and the skill
    score 1 - MAE_model/MAE_naive (Hyndman & Athanasopoulos, "Forecasting:
    Principles and Practice" — public methodology). Absolute errors are
    quantized to micro-cents and summed exactly; naive errors are
    born-integer.

    Scale shape: one combinable daily rollup, one bounded-frame window
    pass per series (per-type partitions), one grouped reduction.
    Backtesting at scale is embarrassingly parallel across series — the
    frame never holds more than K+1 values.
    """
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")).alias(
            "day"
        ),
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("x")
    )
    win = Window.partitionBy("event_type").orderBy("day").rowsBetween(-_BT_K, -1)
    trail = F.reverse(F.collect_list("x").over(win))
    prev_x = F.lag("x").over(Window.partitionBy("event_type").orderBy("day"))
    decay = 1.0 - _BT_ALPHA
    wts = F.transform(trail, lambda v, i: F.pow(F.lit(decay), i.cast("double")))
    fc = F.aggregate(
        F.zip_with(trail, wts, lambda v, wt: v * wt), F.lit(0.0), lambda a, x: a + x
    ) / F.aggregate(wts, F.lit(0.0), lambda a, x: a + x)
    w = daily.select(
        "event_type",
        "x",
        F.size(trail).alias("tlen"),
        fc.alias("fc"),
        prev_x.alias("prev_x"),
    )
    scored = w.filter((F.col("tlen") >= 1) & F.col("prev_x").isNotNull()).select(
        "event_type",
        F.expr("CAST(round(abs(CAST(x AS DOUBLE) - fc) * 1000000.0, 0) AS BIGINT)").alias(
            "eq"
        ),
        F.abs(F.col("x") - F.col("prev_x")).cast("bigint").alias("err_naive"),
    )
    return (
        scored.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_days_scored"),
            F.sum(F.col("eq").cast("decimal(38,0)")).alias("se"),
            F.sum(F.col("err_naive").cast("decimal(38,0)")).alias("sn"),
        )
        .selectExpr(
            "event_type",
            "n_days_scored",
            "round(CAST(se AS DOUBLE) / n_days_scored / 1000000.0 / 100.0, 6) AS mae_ses",
            "round(CAST(sn AS DOUBLE) / n_days_scored / 100.0, 6) AS mae_naive",
            "round(1.0 - (CAST(se AS DOUBLE) / 1000000.0) / CAST(sn AS DOUBLE), 6)"
            " AS skill",
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Readability scoring (Flesch reading ease per language corpus)
# ---------------------------------------------------------------------------

@query(
    "q_an_readability",
    oracle=f"""
    WITH d AS (
      SELECT lang,
             len(list_filter(string_split_regex(text, '[.!?]+'),
                             s -> trim(s) <> '')) AS n_sent,
             regexp_extract_all(lower(text), '[a-z]+') AS toks
      FROM documents),
    c AS (
      SELECT lang,
             CAST(greatest(n_sent, 1) AS BIGINT) AS n_sent,
             CAST(len(toks) AS BIGINT) AS n_words,
             CAST(list_sum(list_transform(toks,
                 t -> greatest(len(regexp_extract_all(t, '[aeiouy]+')), 1)))
               AS BIGINT) AS n_syll
      FROM d),
    agg AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_sent) AS BIGINT) AS sent,
             CAST(sum(n_words) AS BIGINT) AS words,
             CAST(sum(n_syll) AS BIGINT) AS syll
      FROM c WHERE n_words > 0 GROUP BY lang)
    SELECT lang, n_docs, words AS n_words,
           round(CAST(words AS DOUBLE) / CAST(sent AS DOUBLE), 6) AS words_per_sentence,
           round(CAST(syll AS DOUBLE) / CAST(words AS DOUBLE), 6) AS syllables_per_word,
           round(CAST(206.835 AS DOUBLE)
                 - CAST(1.015 AS DOUBLE) * (CAST(words AS DOUBLE) / CAST(sent AS DOUBLE))
                 - CAST(84.6 AS DOUBLE) * (CAST(syll AS DOUBLE) / CAST(words AS DOUBLE)), 6)
             AS flesch
    FROM agg ORDER BY lang
    """,
)
def q_an_readability(spark, sf_dir):
    """Flesch reading-ease per language corpus (Flesch 1948; Kincaid
    1975 — public): 206.835 - 1.015*(words/sentences) -
    84.6*(syllables/word), with sentences as [.!?]+-delimited non-blank
    segments and syllables approximated by [aeiouy]+ vowel groups
    (floor 1 per word) — the classical quality-scoring heuristic that
    complements the stopword/length-based quality score (q_ns_quality)
    in a training-data filter stack. All counts are exact integers; the
    two ratios and the Flesch formula are shared-text doubles over the
    LANGUAGE-AGGREGATED counts (never per-doc floats summed).

    Scale shape: map-only per-document counting (each regex referenced
    once — no projection-collapse re-evaluation, the q_zw lesson), one
    combinable per-language aggregate, formula on the language table.
    """
    d = read_table(spark, sf_dir, "documents").selectExpr(
        "lang",
        "size(filter(split(text, '[.!?]+'), s -> trim(s) <> '')) AS n_sent_raw",
        "regexp_extract_all(lower(text), '[a-z]+', 0) AS toks",
    )
    c = d.selectExpr(
        "lang",
        "CAST(greatest(n_sent_raw, 1) AS BIGINT) AS n_sent",
        "CAST(size(toks) AS BIGINT) AS n_words",
        "CAST(aggregate(transform(toks,"
        " t -> greatest(size(regexp_extract_all(t, '[aeiouy]+', 0)), 1)),"
        " 0L, (acc, v) -> acc + v) AS BIGINT) AS n_syll",
    )
    agg = (
        c.filter(F.col("n_words") > 0)
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_sent").cast("bigint").alias("sent"),
            F.sum("n_words").cast("bigint").alias("words"),
            F.sum("n_syll").cast("bigint").alias("syll"),
        )
    )
    return agg.selectExpr(
        "lang",
        "n_docs",
        "words AS n_words",
        "round(CAST(words AS DOUBLE) / CAST(sent AS DOUBLE), 6) AS words_per_sentence",
        "round(CAST(syll AS DOUBLE) / CAST(words AS DOUBLE), 6) AS syllables_per_word",
        "round(CAST(206.835 AS DOUBLE)"
        " - CAST(1.015 AS DOUBLE) * (CAST(words AS DOUBLE) / CAST(sent AS DOUBLE))"
        " - CAST(84.6 AS DOUBLE) * (CAST(syll AS DOUBLE) / CAST(words AS DOUBLE)), 6)"
        " AS flesch",
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# Missing-value imputation audit (deterministic mask, exact accounting)
# ---------------------------------------------------------------------------

#: Deterministic "missingness" mask so the audit is reproducible and the
#: ground truth stays known: every 7th event id is treated as missing.
_IMP_MASK = "(event_id % 7 = 0)"


# Mean vs median imputation against the true mean per event type, with every
# 7th event id masked; sums stay exact DECIMAL cents and the median is
# discrete.
sql_query(
    "q_ao_impute",
    f"""
    WITH base AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents,
             CASE WHEN {_IMP_MASK} THEN 1 ELSE 0 END AS miss
      FROM events),
    obs AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_obs,
             SUM(CAST(cents AS DECIMAL(38,0))) AS s_obs,
             CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY cents) AS BIGINT)
               AS med_obs
      FROM base WHERE miss = 0 GROUP BY event_type),
    tot AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(miss) AS BIGINT) AS n_missing,
             SUM(CAST(cents AS DECIMAL(38,0))) AS s_true
      FROM base GROUP BY event_type)
    SELECT t.event_type, t.n, t.n_missing,
           round(CAST(o.s_obs AS DOUBLE) / o.n_obs / 100.0, 6) AS mean_observed,
           round(CAST(o.med_obs AS DOUBLE) / 100.0, 6) AS median_observed,
           round((CAST(o.s_obs AS DOUBLE) + CAST(t.n_missing AS DOUBLE)
                  * (CAST(o.s_obs AS DOUBLE) / o.n_obs)) / t.n / 100.0, 6)
             AS mean_after_mean_impute,
           round((CAST(o.s_obs AS DOUBLE) + CAST(t.n_missing AS DOUBLE) * o.med_obs)
                 / t.n / 100.0, 6) AS mean_after_median_impute,
           round(CAST(t.s_true AS DOUBLE) / t.n / 100.0, 6) AS mean_true
    FROM tot t JOIN obs o USING (event_type)
    ORDER BY t.event_type
    """,
)


# ---------------------------------------------------------------------------
# Differentially-private-style noisy count release (deterministic Laplace)
# ---------------------------------------------------------------------------

_DP_EPS = "CAST(1.0 AS DOUBLE)"

#: md5-seeded uniform in (0,1) per released key — exact dyadic rational,
#: identical on both engines (the Poisson-bootstrap idiom).
_DP_U_SPARK = (
    "((CAST(conv(substring(md5(concat('dp:', event_type)), 1, 8), 16, 10)"
    " AS BIGINT) + 1) / 4294967297.0)"
)
_DP_U_DUCK = (
    "((('0x' || substr(md5('dp:' || event_type), 1, 8))::BIGINT + 1)"
    " / 4294967297.0)"
)


def _dp_laplace(u: str) -> str:
    """Inverse-CDF Laplace(sensitivity/eps) draw from a uniform, shared
    text: -b * sign(u - 0.5) * ln(1 - 2*abs(u - 0.5))."""
    return (
        f"(-(1.0 / {_DP_EPS}) * sign({u} - 0.5)"
        f" * ln(1.0 - 2.0 * abs({u} - 0.5)))"
    )


@query(
    "q_ap_dp_counts",
    oracle=f"""
    WITH c AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM events
      GROUP BY event_type)
    SELECT event_type,
           round(CAST(n AS DOUBLE) + {_dp_laplace(_DP_U_DUCK)}, 6) AS noisy_count,
           {_DP_EPS} AS epsilon
    FROM c ORDER BY event_type
    """,
)
def q_ap_dp_counts(spark, sf_dir):
    """Differentially-private-STYLE noisy count release: per-key counts
    plus Laplace(1/epsilon) noise via the inverse CDF (Dwork, McSherry,
    Nissim & Smith 2006 — public; sensitivity 1 for a count). The noise
    here is PSEUDO-random — seeded from md5 of the released key, the
    engine's portable-hash idiom — which makes the mechanism itself
    oracle-checkable and replay-deterministic; a production release
    swaps the md5 uniform for a CSPRNG draw without touching the plan
    (and must, for the privacy guarantee to hold — a key-seeded draw is
    NOT private, it is a testable mechanism demo).

    Scale shape: one combinable count; the noise is a map expression on
    the released (small) frame. True counts never leave the query.
    """
    ev = read_table(spark, sf_dir, "events")
    c = ev.groupBy("event_type").agg(F.count("*").cast("bigint").alias("n"))
    return c.selectExpr(
        "event_type",
        f"round(CAST(n AS DOUBLE) + {_dp_laplace(_DP_U_SPARK)}, 6) AS noisy_count",
        f"{_DP_EPS} AS epsilon",
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Session path prefixes (top user journeys)
# ---------------------------------------------------------------------------

_PATH_LEN = 3
_PATH_TOPK = 15


@query(
    "q_aq_path_prefixes",
    oracle=f"""
    WITH seq AS (
      SELECT user_id,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
             event_type,
             row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                ORDER BY ts, event_id) AS rn
      FROM events WHERE user_id IS NOT NULL),
    paths AS (
      SELECT user_id, day,
             string_agg(event_type, '>' ORDER BY rn) AS path,
             CAST(count(*) AS BIGINT) AS plen
      FROM seq WHERE rn <= {_PATH_LEN}
      GROUP BY user_id, day)
    SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
    FROM paths WHERE plen = {_PATH_LEN}
    GROUP BY path
    ORDER BY n_sessions DESC, path
    LIMIT {_PATH_TOPK}
    """,
)
def q_aq_path_prefixes(spark, sf_dir):
    """Top user-journey prefixes: the first 3 event types of each
    (user, day) session concatenated into a path string, ranked by
    session count — the Sankey/flow readout product analytics builds on
    top of the funnel (q_xn) and sequential-pattern (q_zl) entries.
    Paths are assembled in exact (ts, event_id) order on both engines,
    so the string keys — and therefore the ranking — are engine-portable.

    Scale shape: one per-session window rank (user-day hash partitions),
    one ordered-collect per session bounded at 3 elements, one
    combinable path count, rank-limit top-k. The path alphabet keeps
    keys narrow; at 100 TB the session key is whatever sessionization
    (q_w5) emits.
    """
    ev = read_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    seq = ev.select(
        "user_id",
        F.col("ts").cast("date").alias("d"),
        "event_type",
        F.row_number()
        .over(
            Window.partitionBy("user_id", F.col("ts").cast("date")).orderBy(
                "ts", "event_id"
            )
        )
        .alias("rn"),
    ).filter(F.col("rn") <= _PATH_LEN)
    paths = seq.groupBy("user_id", "d").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path"),
        F.count("*").cast("bigint").alias("plen"),
    )
    return (
        paths.filter(F.col("plen") == _PATH_LEN)
        .groupBy("path")
        .agg(F.count("*").cast("bigint").alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), F.col("path"))
        .limit(_PATH_TOPK)
    )


# ---------------------------------------------------------------------------
# MMR diversity re-ranking (retrieval post-processing)
# ---------------------------------------------------------------------------

_MMR_LAMBDA = 0.5
_MMR_CANDS = 20
_MMR_PICKS = 5


@query("q_ar_mmr_rerank", oracle=None)  # greedy argmax over floats: golden-tested
def q_ar_mmr_rerank(spark, sf_dir):
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR 1998 — public) of each query's top-20 cosine candidates:
    greedily pick 5 results maximizing
    ``lambda * rel(c) - (1 - lambda) * max_{s in picked} sim(c, s)`` —
    the diversity-aware post-processing step RAG retrieval stacks run
    after ANN. Rows-only by design (a greedy argmax over float scores
    has no SQL twin); tests/test_science_ops.py re-runs the exact greedy
    loop in pure Python over the same candidates and requires identical
    picks (ties break on neighbor id, making the trajectory total).

    Scale shape: candidate generation reuses the engine's top-k
    machinery (per-query candidate sets are SMALL by construction —
    that is the point of re-ranking after retrieval); the greedy loop
    runs per query group inside one Arrow-batched applyInPandas over
    (candidate_count x dim) matrices — never across groups, never on
    the corpus.
    """
    import numpy as np
    import pandas as pd

    from ..operators import similarity

    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cands = similarity.brute_force_top_k(
        corpus=read_table(spark, sf_dir, "embeddings"),
        queries=read_table(spark, sf_dir, "embeddings").filter(
            F.col("vec_id") < 10
        ),
        k=_MMR_CANDS,
    ).select("query_id", "neighbor_id", "sim")
    with_vecs = cands.join(
        emb.select(F.col("vec_id").alias("neighbor_id"), "v"), "neighbor_id"
    )

    out_schema = (
        "query_id long, mmr_rank int, neighbor_id long, relevance double,"
        " mmr_score double"
    )

    def rerank(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("neighbor_id").reset_index(drop=True)
        V = np.stack(pdf["v"].to_numpy())
        V = V / np.linalg.norm(V, axis=1, keepdims=True)
        rel = pdf["sim"].to_numpy()
        ids = pdf["neighbor_id"].to_numpy()
        picked: list[int] = []
        rows = []
        for rank in range(1, min(_MMR_PICKS, len(pdf)) + 1):
            best_i, best_score = None, None
            for i in range(len(pdf)):
                if i in picked:
                    continue
                div = max((float(V[i] @ V[j]) for j in picked), default=0.0)
                score = _MMR_LAMBDA * float(rel[i]) - (1 - _MMR_LAMBDA) * div
                # Strict > with ascending-neighbor_id iteration means
                # ties resolve first-wins = lowest neighbor_id.
                if best_score is None or score > best_score:
                    best_i, best_score = i, score
            picked.append(best_i)
            rows.append(
                (
                    int(pdf["query_id"].iloc[0]),
                    rank,
                    int(ids[best_i]),
                    round(float(rel[best_i]), 6),
                    round(float(best_score), 6),
                )
            )
        return pd.DataFrame(
            rows,
            columns=["query_id", "mmr_rank", "neighbor_id", "relevance", "mmr_score"],
        )

    return (
        with_vecs.groupBy("query_id")
        .applyInPandas(rerank, schema=out_schema)
        .orderBy("query_id", "mmr_rank")
    )


# ---------------------------------------------------------------------------
# Haar wavelet decomposition (unnormalized, exact integer coefficients)
# ---------------------------------------------------------------------------

#: Days consumed by the transform (a power of two; the fixture spans 30
#: days, so the first 16 per series are decomposed — deterministic via
#: row_number over the day order).
HAAR_N = 16


@query(
    "q_ax_haar_wavelet",
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2),
    idx AS (
      SELECT event_type, cents,
             row_number() OVER (PARTITION BY event_type ORDER BY day) AS i
      FROM daily QUALIFY i <= {HAAR_N}),
    l1 AS (
      SELECT event_type, (i - 1) // 2 AS k,
             CAST(sum(cents) AS BIGINT) AS a1,
             CAST(sum(CASE WHEN (i - 1) % 2 = 0 THEN cents
                           ELSE -cents END) AS BIGINT) AS d1
      FROM idx GROUP BY event_type, (i - 1) // 2),
    l2 AS (
      SELECT event_type, k // 2 AS k,
             CAST(sum(a1) AS BIGINT) AS a2,
             CAST(sum(CASE WHEN k % 2 = 0 THEN a1 ELSE -a1 END) AS BIGINT) AS d2
      FROM l1 GROUP BY event_type, k // 2)
    SELECT event_type, level, kind, CAST(k AS BIGINT) AS k, coeff FROM (
      SELECT event_type, 1 AS level, 'detail' AS kind, k, d1 AS coeff FROM l1
      UNION ALL
      SELECT event_type, 2, 'detail', k, d2 FROM l2
      UNION ALL
      SELECT event_type, 2, 'approx', k, a2 FROM l2)
    ORDER BY event_type, level, kind, k
    """,
)
def q_ax_haar_wavelet(spark, sf_dir):
    """Two-level UNNORMALIZED Haar wavelet decomposition (Haar 1910;
    Chan & Fu ICDE 1999 for the time-series use — public) of each
    event-type's daily-cents series: level-1 pairs adjacent days into
    sum (approx) and difference (detail) coefficients; level 2 repeats
    on the level-1 approximations. Skipping the 1/2 normalization keeps
    EVERY coefficient an exact BIGINT — zero float anywhere, the whole
    output hash-checked. The energy-compaction view feeding wavelet
    compression / multi-resolution anomaly detection.

    Scale shape: the corpus collapses to a daily aggregate (one
    combinable shuffle); each level is a groupBy on an integer pair
    index over the calendar-bounded daily table — O(log n) levels of
    O(days) work, never touching the raw corpus again. The per-series
    row_number window runs on days-per-series partitions.

    Reference scope: ∅ — north-star time-series surface (complements
    SAX symbolization and M4 downsampling).
    """
    ev = read_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "event_type",
            F.datediff(
                F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
            ).alias("day"),
        )
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    w = Window.partitionBy("event_type").orderBy("day")
    idx = (
        daily.select("event_type", "cents", F.row_number().over(w).alias("i"))
        .filter(F.col("i") <= HAAR_N)
    )
    l1 = (
        idx.groupBy("event_type", F.floor((F.col("i") - 1) / 2).alias("k"))
        .agg(
            F.sum("cents").cast("bigint").alias("a1"),
            F.sum(
                F.when((F.col("i") - 1) % 2 == 0, F.col("cents")).otherwise(
                    -F.col("cents")
                )
            )
            .cast("bigint")
            .alias("d1"),
        )
    )
    l2 = (
        l1.groupBy("event_type", F.floor(F.col("k") / 2).alias("k2"))
        .agg(
            F.sum("a1").cast("bigint").alias("a2"),
            F.sum(
                F.when(F.col("k") % 2 == 0, F.col("a1")).otherwise(-F.col("a1"))
            )
            .cast("bigint")
            .alias("d2"),
        )
        .withColumnRenamed("k2", "k")
    )
    out = (
        l1.select(
            "event_type",
            F.lit(1).alias("level"),
            F.lit("detail").alias("kind"),
            F.col("k").cast("bigint"),
            F.col("d1").alias("coeff"),
        )
        .unionByName(
            l2.select(
                "event_type",
                F.lit(2).alias("level"),
                F.lit("detail").alias("kind"),
                F.col("k").cast("bigint"),
                F.col("d2").alias("coeff"),
            )
        )
        .unionByName(
            l2.select(
                "event_type",
                F.lit(2).alias("level"),
                F.lit("approx").alias("kind"),
                F.col("k").cast("bigint"),
                F.col("a2").alias("coeff"),
            )
        )
    )
    return out.orderBy("event_type", "level", "kind", "k")


# ---------------------------------------------------------------------------
# TextRank keyword extraction (PageRank on the word co-occurrence graph)
# ---------------------------------------------------------------------------

TEXTRANK_D = 0.85
TEXTRANK_ITERS = 10
TEXTRANK_TOPK = 15


@query("q_az_textrank", oracle=None)  # iterative float ranks — rows-only
def q_az_textrank(spark, sf_dir):
    """TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004 —
    public): PageRank over the UNDIRECTED word co-occurrence graph
    (adjacent-token pairs, window 2), top-K words by rank. The
    graph-centrality complement to RAKE (q_ag, degree/frequency scored):
    TextRank rewards words that co-occur with other central words, not
    just frequent neighbors.

    Rows-only by design (iterative float ranks have no SQL oracle);
    tests/test_behavior_ops.py golden-checks the ranks against a NumPy
    power iteration on the same co-occurrence matrix.

    Scale shape: token pairs collapse to a DISTINCT edge list
    (vocabulary², not corpus-sized — one combinable shuffle ever touches
    the corpus); the engine's shared ``pagerank`` helper then shuffles
    only 16-byte (node, rank) pairs per iteration with the degree join
    hoisted out of the loop (lakehouse.py:177). Keyword extraction at
    100 TB is a vocabulary-sized problem after the first aggregate.
    """
    from ..functions import text as TXT
    from .lakehouse import pagerank

    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = d.select(TXT.tokens("text").alias("toks")).filter(F.size("toks") >= 2)
    pairs = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1),"
                " i -> struct(element_at(toks, i) AS a,"
                "             element_at(toks, i + 1) AS b))"
            )
        ).alias("p")
    ).select("p.a", "p.b").filter(F.col("a") != F.col("b"))
    # undirected: one distinct edge per unordered co-occurring pair, then
    # both orientations feed the directed pagerank helper
    und = pairs.select(
        F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
    ).distinct()
    edges = und.selectExpr("u AS src", "v AS dst").unionByName(
        und.selectExpr("v AS src", "u AS dst")
    )
    pr = pagerank(edges, d=TEXTRANK_D, iters=TEXTRANK_ITERS)
    return (
        pr.orderBy(F.col("rank").desc(), F.col("node"))
        .limit(TEXTRANK_TOPK)
        .select(F.col("node").alias("word"), F.round("rank", 6).alias("score"))
    )


# ---------------------------------------------------------------------------
# STL-lite decomposition (trend + weekday seasonal + residual, exact)
# ---------------------------------------------------------------------------

#: The decomposition works in the 7x-cents integer domain: detrended7 =
#: 7*x - sum7 is EXACT (multiply by the window width instead of dividing
#: by it); the weekday seasonal mean is quantized to milli-units before
#: the residual subtraction, so residual_mq = 1000*det7 - seas_mq is
#: again exact. Only the display columns divide back down (shared text).
_STL_W = 7  # centered moving-average window (3 each side)


# Additive decomposition: centered 7-day moving-average trend, weekday
# seasonal means in milli-units and the residual, exact integers until
# display.
sql_query(
    "q_b2_stl_decompose",
    f"""
    WITH daily AS (
      SELECT event_type,
             CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2),
    win AS (
      SELECT event_type, day, cents,
             SUM(cents) OVER w AS sum7,
             COUNT(*) OVER w AS n7
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
    det AS (
      SELECT event_type, day, cents, sum7,
             day % 7 AS dow,
             {_STL_W} * cents - sum7 AS det7
      FROM win WHERE n7 = {_STL_W}),
    seas AS (
      SELECT event_type, dow,
             CAST(round(CAST(SUM(CAST(det7 AS DECIMAL(38,0))) AS DOUBLE)
                        / count(*) * 1000.0) AS BIGINT) AS seas_mq
      FROM det GROUP BY event_type, dow)
    SELECT d.event_type, CAST(d.day AS BIGINT) AS day,
           round(CAST(d.cents AS DOUBLE) / 100.0, 6) AS raw,
           round(CAST(d.sum7 AS DOUBLE) / {_STL_W} / 100.0, 6) AS trend,
           round(CAST(s.seas_mq AS DOUBLE) / 1000.0 / {_STL_W} / 100.0, 6)
             AS seasonal,
           round(CAST(1000 * d.det7 - s.seas_mq AS DOUBLE)
                 / 1000.0 / {_STL_W} / 100.0, 6) AS residual
    FROM det d JOIN seas s ON s.event_type = d.event_type AND s.dow = d.dow
    ORDER BY d.event_type, d.day
    """,
)


# ---------------------------------------------------------------------------
# Graph modularity of the nation partition (Newman-Girvan Q)
# ---------------------------------------------------------------------------

#: Shared-text per-community modularity term: m_c/m - (d_c/(2m))^2 on
#: exact BIGINT counts; the only floats are two divisions and one
#: multiply on identical operands.
_MOD_TERM = (
    "round(CAST(m_c AS DOUBLE) / m"
    " - (CAST(d_c AS DOUBLE) / (2.0 * m)) * (CAST(d_c AS DOUBLE) / (2.0 * m)), 6)"
)


# Newman-Girvan modularity of the nation partition of the supplier-customer
# trade graph, with one row per community.
sql_query(
    "q_b4_modularity",
    f"""
    WITH e AS (
      SELECT DISTINCT l.l_suppkey AS s, o.o_custkey AS c
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
    en AS (
      SELECT sp.s_nationkey AS ns, cu.c_nationkey AS nc
      FROM e JOIN supplier sp ON sp.s_suppkey = e.s
             JOIN customer cu ON cu.c_custkey = e.c),
    m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM en),
    intra AS (
      SELECT ns AS community, CAST(count(*) AS BIGINT) AS m_c
      FROM en WHERE ns = nc GROUP BY ns),
    deg AS (
      SELECT community, CAST(SUM(d) AS BIGINT) AS d_c FROM (
        SELECT ns AS community, count(*) AS d FROM en GROUP BY ns
        UNION ALL
        SELECT nc AS community, count(*) AS d FROM en GROUP BY nc)
      GROUP BY community),
    cells AS (
      SELECT deg.community, COALESCE(intra.m_c, 0) AS m_c, deg.d_c, m.m
      FROM deg CROSS JOIN m LEFT JOIN intra ON intra.community = deg.community)
    SELECT community, m_c, d_c, m, {_MOD_TERM} AS q_term
    FROM cells ORDER BY community
    """,
)


# ---------------------------------------------------------------------------
# Population Stability Index (distribution drift monitor)
# ---------------------------------------------------------------------------

PSI_BINS = 10
#: Laplace-style smoothing count added per bin on both sides: the PSI
#: log blows up on empty bins; +1 per bin is the standard guard and is
#: part of the shared definition, not a fudge (both engines, same text).
_PSI_TERM = (
    "CAST(round(((CAST(na AS DOUBLE) + 1.0) / (CAST(ta AS DOUBLE) + "
    f"{PSI_BINS}.0)"
    " - (CAST(nb AS DOUBLE) + 1.0) / (CAST(tb AS DOUBLE) + "
    f"{PSI_BINS}.0))"
    " * ln(((CAST(na AS DOUBLE) + 1.0) / (CAST(ta AS DOUBLE) + "
    f"{PSI_BINS}.0))"
    " / ((CAST(nb AS DOUBLE) + 1.0) / (CAST(tb AS DOUBLE) + "
    f"{PSI_BINS}.0))) * 1000000000.0) AS BIGINT)"
)


# Population stability index between even- and odd-day value distributions per
# event type over 10 smoothed bins; each bin's term is quantized to a BIGINT
# before the sum.
sql_query(
    "q_b5_psi",
    f"""
    WITH scored AS (
      SELECT event_type,
             CAST(round(value * 100) AS BIGINT) AS cents,
             CASE WHEN CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) % 2
                  = 0 THEN 0 ELSE 1 END AS half
      FROM events),
    bounds AS (SELECT min(cents) AS lo, max(cents) AS hi FROM scored),
    binned AS (
      SELECT event_type, half,
             least(CAST(floor(((cents - lo) * {PSI_BINS}) / (hi - lo + 1))
                        AS BIGINT),
                   {PSI_BINS - 1}) AS bin
      FROM scored, bounds),
    per_bin AS (
      SELECT event_type, bin,
             CAST(count(CASE WHEN half = 0 THEN 1 END) AS BIGINT) AS na,
             CAST(count(CASE WHEN half = 1 THEN 1 END) AS BIGINT) AS nb
      FROM binned GROUP BY event_type, bin),
    tot AS (
      SELECT event_type,
             CAST(SUM(na) AS BIGINT) AS ta, CAST(SUM(nb) AS BIGINT) AS tb
      FROM per_bin GROUP BY event_type),
    terms AS (
      SELECT p.event_type, ta, tb, {_PSI_TERM} AS t_q
      FROM per_bin p JOIN tot USING (event_type))
    SELECT event_type, min(ta) AS n_a, min(tb) AS n_b,
           round(CAST(SUM(CAST(t_q AS DECIMAL(38,0))) AS DOUBLE)
                 / 1000000000.0, 6) AS psi
    FROM terms GROUP BY event_type ORDER BY event_type
    """,
)


# ---------------------------------------------------------------------------
# Decision-stump split finding (histogram-based, the GBDT kernel)
# ---------------------------------------------------------------------------

STUMP_BINS = 20

#: Shared-text split gain on exact integer counts (n/p parent, nl/pl
#: left, n-nl/p-pl right): information gain in nats, each side's entropy
#: with CASE-guarded 0*ln(0) = 0 terms. One expression, both engines.
_STUMP_H = (
    "(CASE WHEN {p} = 0 OR {p} = {n} THEN 0.0 ELSE "
    "-(CAST({p} AS DOUBLE) / {n}) * ln(CAST({p} AS DOUBLE) / {n})"
    " - (CAST({n} - {p} AS DOUBLE) / {n}) * ln(CAST({n} - {p} AS DOUBLE) / {n})"
    " END)"
)
_STUMP_GAIN = (
    "round("
    + _STUMP_H.format(p="p", n="n")
    + " - (CAST(nl AS DOUBLE) / n) * "
    + _STUMP_H.format(p="pl", n="nl")
    + " - (CAST(n - nl AS DOUBLE) / n) * "
    + _STUMP_H.format(p="(p - pl)", n="(n - nl)")
    + ", 6)"
)


# Decision-stump split finding: information gain of every boundary 'bin <= b'
# over 20 score bins, from cumulative counts.
sql_query(
    "q_bd_decision_stump",
    f"""
    WITH scored AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS cents,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label
      FROM events),
    bounds AS (SELECT min(cents) AS lo, max(cents) AS hi FROM scored),
    binned AS (
      SELECT least(CAST(floor(((cents - lo) * {STUMP_BINS})
                              / (hi - lo + 1)) AS BIGINT),
                   {STUMP_BINS - 1}) AS bin,
             label
      FROM scored, bounds),
    per_bin AS (
      SELECT bin,
             CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(label) AS BIGINT) AS pos
      FROM binned GROUP BY bin),
    cum AS (
      SELECT bin,
             SUM(cnt) OVER (ORDER BY bin
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS nl,
             SUM(pos) OVER (ORDER BY bin
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS pl,
             SUM(cnt) OVER () AS n,
             SUM(pos) OVER () AS p
      FROM per_bin),
    gains AS (
      SELECT bin AS split_bin,
             CAST(nl AS BIGINT) AS n_left, CAST(pl AS BIGINT) AS pos_left,
             CAST(n - nl AS BIGINT) AS n_right,
             CAST(p - pl AS BIGINT) AS pos_right,
             {_STUMP_GAIN} AS gain
      FROM cum WHERE nl < n)
    SELECT * FROM gains ORDER BY split_bin
    """,
)


# ---------------------------------------------------------------------------
# Hill tail-index estimator (power-law heaviness of the spend tail)
# ---------------------------------------------------------------------------

#: Order statistics used (top HILL_K above the k+1-th).
HILL_K = 500

#: Shared-text per-order-statistic log-excess ln(x_(i) / x_(k+1)) on
#: exact integer cents.
_HILL_TERM = "ln(CAST(cents AS DOUBLE)) - ln(CAST(xk1 AS DOUBLE))"


# Hill tail-index estimator over the top-k order values; ties break on order
# key and the log-excesses sum in an ordered window.
sql_query(
    "q_c3_hill_tail",
    f"""
    WITH ranked AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             row_number() OVER (
               ORDER BY round(o_totalprice * 100) DESC, o_orderkey)
               AS rnk
      FROM orders),
    top AS (SELECT cents, rnk FROM ranked WHERE rnk <= {HILL_K} + 1),
    thresh AS (SELECT cents AS xk1 FROM top WHERE rnk = {HILL_K} + 1),
    terms AS (
      SELECT rnk, {_HILL_TERM} AS term
      FROM top CROSS JOIN thresh WHERE rnk <= {HILL_K}),
    acc AS (
      SELECT rnk,
             sum(term) OVER (ORDER BY rnk
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS h_sum,
             row_number() OVER (ORDER BY rnk DESC) AS is_last
      FROM terms)
    SELECT CAST({HILL_K} AS BIGINT) AS k,
           (SELECT CAST(xk1 AS BIGINT) FROM thresh) AS xk1_cents,
           round(h_sum / {HILL_K}.0, 6) AS hill_gamma,
           round({HILL_K}.0 / nullif(h_sum, 0.0), 6) AS tail_alpha
    FROM acc WHERE is_last = 1
    """,
)


# ---------------------------------------------------------------------------
# Holt-Winters triple exponential smoothing (additive, weekly season)
# ---------------------------------------------------------------------------

#: Smoothing rationals alpha=2/10, beta=1/10, gamma=3/10 — every state
#: update is an EXACT integer recurrence closed by one floor(x/10.0):
#: int-to-double conversion and the /10.0 divide are IEEE-exact for
#: |numerator| < 2^53 (daily revenue below ~$45T/day), so the floor is
#: bit-identical in Python and DuckDB and the whole state trajectory is
#: integer-exact cross-engine.
def _hw_lnew(y: str, sj: str, l: str, b: str) -> str:
    return (
        f"CAST(floor((2 * (({y}) - ({sj})) + 8 * (({l}) + ({b})))"
        " / 10.0) AS BIGINT)"
    )


def _hw_bnew(lnew: str, l: str, b: str) -> str:
    return f"CAST(floor((({lnew}) - ({l}) + 9 * ({b})) / 10.0) AS BIGINT)"


def _hw_snew(y: str, lnew: str, sj: str) -> str:
    return (
        f"CAST(floor((3 * (({y}) - ({lnew})) + 7 * ({sj}))"
        " / 10.0) AS BIGINT)"
    )


def _hw_oracle() -> str:
    sj = "CASE CAST(d.t % 7 AS INTEGER) WHEN 0 THEN hw.s0 WHEN 1 THEN hw.s1 WHEN 2 THEN hw.s2 WHEN 3 THEN hw.s3 WHEN 4 THEN hw.s4 WHEN 5 THEN hw.s5 ELSE hw.s6 END"
    lnew = _hw_lnew("d.y", sj, "hw.l", "hw.b")
    s_cols = ",\n             ".join(
        f"CASE WHEN CAST(d.t % 7 AS INTEGER) = {k}"
        f" THEN {_hw_snew('d.y', lnew, f'hw.s{k}')}"
        f" ELSE hw.s{k} END AS s{k}"
        for k in range(7)
    )
    return f"""
    WITH RECURSIVE agg AS (
      SELECT date_diff('day',
               (SELECT min(date_trunc('day', o_orderdate)) FROM orders),
               date_trunc('day', o_orderdate)) AS t,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS y
      FROM orders GROUP BY 1),
    daily AS (
      SELECT CAST(s.t AS BIGINT) AS t, coalesce(a.y, 0) AS y
      FROM (SELECT unnest(range(0, (SELECT max(t) + 1 FROM agg))) AS t) s
      LEFT JOIN agg a ON a.t = s.t),
    means AS (
      SELECT
        CAST(floor(sum(CASE WHEN t BETWEEN 0 AND 6 THEN y END) / 7.0)
          AS BIGINT) AS a1,
        CAST(floor(sum(CASE WHEN t BETWEEN 7 AND 13 THEN y END) / 7.0)
          AS BIGINT) AS a2
      FROM daily),
    init AS (
      SELECT a1, CAST(floor((a2 - a1) / 7.0) AS BIGINT) AS b0,
             (SELECT list(y ORDER BY t) FROM daily WHERE t <= 6) AS w1
      FROM means),
    hw AS (
      SELECT CAST(6 AS BIGINT) AS t, a1 AS l, b0 AS b,
             w1[1] - a1 AS s0, w1[2] - a1 AS s1, w1[3] - a1 AS s2,
             w1[4] - a1 AS s3, w1[5] - a1 AS s4, w1[6] - a1 AS s5,
             w1[7] - a1 AS s6,
             CAST(NULL AS BIGINT) AS y, CAST(NULL AS BIGINT) AS fitted
      FROM init
      UNION ALL
      SELECT d.t,
             {lnew} AS l,
             {_hw_bnew(lnew, "hw.l", "hw.b")} AS b,
             {s_cols},
             d.y,
             hw.l + hw.b + ({sj}) AS fitted
      FROM hw JOIN daily d ON d.t = hw.t + 1)
    SELECT t AS day_idx, y AS y_cents, fitted AS fitted_cents,
           y - fitted AS resid_cents
    FROM hw WHERE t >= 7 ORDER BY day_idx
    """


@query("q_cd_holt_winters", oracle=_hw_oracle())
def q_cd_holt_winters(spark, sf_dir):
    """HOLT-WINTERS TRIPLE EXPONENTIAL SMOOTHING (additive, weekly
    season; Holt 1957 / Winters 1960 — the seasonal extension of q_ab's
    Brown double smoothing) over daily order revenue: level, trend and
    a 7-slot seasonal ring evolve by the classic recurrences with
    alpha=.2, beta=.1, gamma=.3, and each day reports its ONE-STEP-AHEAD
    fit l+b+s_j (computed before the day's update — a genuine forecast,
    not an in-sample smooth). States live in exact integer cents with
    every update closed by one floor(x/10.0), so the whole trajectory —
    a 2.4k-step non-associative recurrence — is value-identical between
    the Spark side (Arrow-batched applyInPandas running the pure-integer
    loop) and a DuckDB RECURSIVE CTE twin: the strongest oracle shape a
    sequential forecaster can carry. Init per Hyndman-Athanasopoulos
    (fpp3 §8): level = week-1 mean, trend = (week-2 mean - week-1
    mean)/7, seasonals = week-1 deviations.

    Scale shape: the corpus-scan stage is ONE map-side-combinable daily
    rollup (q_bs contract); the gap-filled spine, and the sequential
    recurrence itself, live on the calendar-bounded daily frame (~2.4k
    rows at any sf) — the Python stage never sees raw orders. The
    recurrence is inherently order-dependent, so it runs in one task;
    day count is bounded by the calendar, not data volume. Multi-series
    use partitions by series key (q_by inventory contract).
    """
    import math

    import pandas as pd

    from pyspark.sql.types import LongType, StructField, StructType

    o = read_table(spark, sf_dir, "orders")
    day0 = o.agg(F.min(F.date_trunc("day", "o_orderdate")).alias("d0"))
    daily = (
        o.crossJoin(F.broadcast(day0))
        .groupBy(
            F.datediff(F.date_trunc("day", "o_orderdate"), F.col("d0"))
            .cast("bigint")
            .alias("t")
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("y")
        )
    )
    spine = daily.agg(F.max("t").alias("maxt")).select(
        F.explode(F.sequence(F.lit(0).cast("bigint"), F.col("maxt"))).alias("t")
    )
    dense = spine.join(daily, "t", "left").select(
        "t", F.coalesce("y", F.lit(0)).cast("bigint").alias("y")
    )

    schema = StructType(
        [
            StructField("day_idx", LongType()),
            StructField("y_cents", LongType()),
            StructField("fitted_cents", LongType()),
            StructField("resid_cents", LongType()),
        ]
    )

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("t")
        ys = [int(v) for v in pdf["y"]]
        if len(ys) < 14:
            raise ValueError("holt_winters: need >= 14 days")
        a1 = math.floor(sum(ys[0:7]) / 7.0)
        a2 = math.floor(sum(ys[7:14]) / 7.0)
        l, b = a1, math.floor((a2 - a1) / 7.0)
        s = [ys[j] - a1 for j in range(7)]
        out = []
        for t in range(7, len(ys)):
            j = t % 7
            fitted = l + b + s[j]
            y = ys[t]
            lnew = math.floor((2 * (y - s[j]) + 8 * (l + b)) / 10.0)
            bnew = math.floor((lnew - l + 9 * b) / 10.0)
            s[j] = math.floor((3 * (y - lnew) + 7 * s[j]) / 10.0)
            l, b = lnew, bnew
            out.append((t, y, fitted, y - fitted))
        return pd.DataFrame(
            out, columns=["day_idx", "y_cents", "fitted_cents", "resid_cents"]
        )

    return (
        dense.withColumn("g", F.lit(1))
        .groupBy("g")
        .applyInPandas(lambda _, p: run(p), schema=schema)
        .orderBy("day_idx")
    )


# ---------------------------------------------------------------------------
# Granger causality (does order count forecast revenue?)
# ---------------------------------------------------------------------------

#: Moment names over aligned (t, t-1) day pairs. y = today's revenue
#: in whole kilodollars (floor-quantized so every moment sum stays below
#: 2^53 — see docstring), yl = yesterday's, xl = yesterday's order count.
_GR_MOMS = [
    "CAST(count(*) AS BIGINT) AS n",
    "CAST(sum(y) AS DOUBLE) AS sy",
    "CAST(sum(yl) AS DOUBLE) AS syl",
    "CAST(sum(xl) AS DOUBLE) AS sxl",
    "CAST(sum(y * y) AS DOUBLE) AS syy",
    "CAST(sum(yl * yl) AS DOUBLE) AS sylyl",
    "CAST(sum(xl * xl) AS DOUBLE) AS sxlxl",
    "CAST(sum(y * yl) AS DOUBLE) AS syyl",
    "CAST(sum(y * xl) AS DOUBLE) AS syxl",
    "CAST(sum(yl * xl) AS DOUBLE) AS sylxl",
]

#: Unrestricted model y ~ 1 + yl + xl: Cramer's rule on the 3x3 normal
#: matrix [[n,syl,sxl],[syl,sylyl,sylxl],[sxl,sylxl,sxlxl]] (q_z9 layout).
_GR_DET_U = (
    "(CAST(n AS DOUBLE) * (sylyl * sxlxl - sylxl * sylxl)"
    " - syl * (syl * sxlxl - sylxl * sxl)"
    " + sxl * (syl * sylxl - sylyl * sxl))"
)
_GR_B0 = (
    f"(sy * (sylyl * sxlxl - sylxl * sylxl)"
    f" - syl * (syyl * sxlxl - sylxl * syxl)"
    f" + sxl * (syyl * sylxl - sylyl * syxl)) / {_GR_DET_U}"
)
_GR_B1 = (
    f"(CAST(n AS DOUBLE) * (syyl * sxlxl - sylxl * syxl)"
    f" - sy * (syl * sxlxl - sylxl * sxl)"
    f" + sxl * (syl * syxl - syyl * sxl)) / {_GR_DET_U}"
)
_GR_B2 = (
    f"(CAST(n AS DOUBLE) * (sylyl * syxl - syyl * sylxl)"
    f" - syl * (syl * syxl - syyl * sxl)"
    f" + sy * (syl * sylxl - sylyl * sxl)) / {_GR_DET_U}"
)
#: Restricted model y ~ 1 + yl: 2x2 closed form.
_GR_DET_R = "(CAST(n AS DOUBLE) * sylyl - syl * syl)"
_GR_A0 = f"(sy * sylyl - syl * syyl) / {_GR_DET_R}"
_GR_A1 = f"(CAST(n AS DOUBLE) * syyl - syl * sy) / {_GR_DET_R}"
#: Residual sums of squares from the same moments: RSS = y'y - b'X'y.
_GR_RSS_U = "(syy - (b0 * sy + b1 * syyl + b2 * syxl))"
_GR_RSS_R = "(syy - (a0 * sy + a1 * syyl))"
#: Granger F with 1 numerator df and n-3 denominator df.
_GR_F = (
    "((rss_r - rss_u) / 1.0)"
    " / nullif(rss_u / (CAST(n AS DOUBLE) - 3.0), 0.0)"
)


# Granger F-test: does yesterday's order count help forecast today's revenue?
# Revenue is floored to kilodollars so every moment sum stays below 2^53.
sql_query(
    "q_ch_granger",
    f"""
    WITH daily AS (
      SELECT CAST(CAST(date_trunc('day', o_orderdate) AS DATE)
                  - CAST((SELECT min(date_trunc('day', o_orderdate)) FROM orders)
                         AS DATE) AS BIGINT) AS t,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev,
             CAST(count(*) AS BIGINT) AS cnt
      FROM orders GROUP BY 1),
    pairs AS (
      SELECT CAST(floor(a.rev / 100000.0) AS BIGINT) AS y,
             CAST(floor(b.rev / 100000.0) AS BIGINT) AS yl,
             b.cnt AS xl
      FROM daily a JOIN daily b ON b.t = a.t - 1),
    m AS (SELECT {", ".join(_GR_MOMS)} FROM pairs),
    fit AS (
      SELECT n, sy, syy, syyl, syxl,
             {_GR_B0} AS b0, {_GR_B1} AS b1, {_GR_B2} AS b2,
             {_GR_A0} AS a0, {_GR_A1} AS a1
      FROM m),
    rss AS (
      SELECT n, b0, b1, b2, a0, a1,
             {_GR_RSS_U} AS rss_u, {_GR_RSS_R} AS rss_r
      FROM fit)
    SELECT n,
           round(b1, 6) AS b_y_lag, round(b2, 6) AS b_x_lag,
           round(a1, 6) AS b_restricted_y_lag,
           round(rss_u, 6) AS rss_u_sq_kdollars,
           round(rss_r, 6) AS rss_r_sq_kdollars,
           round({_GR_F}, 6) AS f_granger
    FROM rss
    """,
)


# ---------------------------------------------------------------------------
# Viterbi decoding of a 2-state regime HMM over daily revenue
# ---------------------------------------------------------------------------

#: Sticky transition log-probs in exact integer micro-nats (shared
#: literals): P(stay)=0.9, P(switch)=0.1, P0 uniform. Integer scores
#: make the whole DP — max, compare, add — bit-identical cross-engine.
_VIT_STAY = -105361       # floor(1e6 * ln(0.9))
_VIT_SWITCH = -2302586    # floor(1e6 * ln(0.1))
_VIT_INIT = -693148       # floor(1e6 * ln(0.5))

#: Quantized Gaussian emission score (micro-nats, shared sigma^2 so the
#: normalizer cancels): floor((-1e6 * (y-mu)^2) / (2 v)).
def _vit_emit(mu: str, v: str) -> str:
    return (
        f"CAST(floor((-1e6 * (CAST(y - {mu} AS DOUBLE))"
        f" * (CAST(y - {mu} AS DOUBLE))) / (2e0 * {v})) AS BIGINT)"
    )


def _vit_daily_sql() -> str:
    """Gap-filled kilodollar daily series + deterministic emission params
    (kilodollar-grain quartile means, pooled variance — the q_cj init)."""
    return """
    agg AS (
      SELECT date_diff('day',
               (SELECT min(date_trunc('day', o_orderdate)) FROM orders),
               date_trunc('day', o_orderdate)) AS t,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1),
    daily AS (
      SELECT CAST(s.t AS BIGINT) AS t,
             CAST(floor(CAST(coalesce(a.cents, 0) AS DOUBLE) / 1e5)
               AS BIGINT) AS y
      FROM (SELECT unnest(range(0, (SELECT max(t) + 1 FROM agg))) AS t) s
      LEFT JOIN agg a ON a.t = s.t),
    kcell AS (
      SELECT y AS xk, CAST(count(*) AS BIGINT) AS c FROM daily GROUP BY y),
    tot AS (
      SELECT CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(xk * c) AS BIGINT) AS sx,
             CAST(sum(xk * xk * c) AS BIGINT) AS sxx
      FROM kcell),
    cum AS (
      SELECT xk, sum(c) OVER (ORDER BY xk
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
      FROM kcell),
    params AS (
      SELECT
        CAST((SELECT min(xk) FROM cum CROSS JOIN tot
              WHERE cw >= CAST(floor((CAST(n AS DOUBLE) + 3e0) / 4e0)
                AS BIGINT)) AS BIGINT) AS mu1,
        CAST((SELECT min(xk) FROM cum CROSS JOIN tot
              WHERE cw >= CAST(floor((3e0 * CAST(n AS DOUBLE) + 3e0) / 4e0)
                AS BIGINT)) AS BIGINT) AS mu2,
        greatest((CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                    / CAST(n AS DOUBLE))
                 / (CAST(n AS DOUBLE) - 1e0), 1e0) AS v
      FROM tot),
    em AS MATERIALIZED (
      -- materialized for the same reason as dec below: the forward
      -- recursion joins em every iteration; inlined, each iteration
      -- would re-run the whole daily/params subtree (orders scans).
      SELECT d.t, d.y,
             """ + _vit_emit("p.mu1", "p.v") + """ AS e1,
             """ + _vit_emit("p.mu2", "p.v") + """ AS e2
      FROM daily d CROSS JOIN params p)"""


def _vit_oracle() -> str:
    s, w, i0 = _VIT_STAY, _VIT_SWITCH, _VIT_INIT
    return f"""
    WITH RECURSIVE {_vit_daily_sql()},
    fwd AS (
      SELECT t, y, {i0} + e1 AS v1, {i0} + e2 AS v2,
             CAST(0 AS INTEGER) AS d1, CAST(0 AS INTEGER) AS d2
      FROM em WHERE t = 0
      UNION ALL
      SELECT e.t, e.y,
             e.e1 + greatest(f.v1 + {s}, f.v2 + {w}),
             e.e2 + greatest(f.v1 + {w}, f.v2 + {s}),
             CASE WHEN f.v1 + {s} >= f.v2 + {w} THEN 1 ELSE 2 END,
             CASE WHEN f.v1 + {w} >= f.v2 + {s} THEN 1 ELSE 2 END
      FROM fwd f JOIN em e ON e.t = f.t + 1),
    dec AS MATERIALIZED (
      -- materialization barrier: without it each backtrace iteration
      -- re-executes the ENTIRE forward recursion (observed: O(T^2)
      -- forward passes, minutes instead of milliseconds at 2.4k days)
      SELECT t, y, v1, v2, d1, d2 FROM fwd),
    back AS (
      SELECT t, y, CASE WHEN v1 >= v2 THEN 1 ELSE 2 END AS state, d1, d2
      FROM dec WHERE t = (SELECT max(t) FROM dec)
      UNION ALL
      SELECT f.t, f.y,
             CASE WHEN b.state = 1 THEN b.d1 ELSE b.d2 END, f.d1, f.d2
      FROM back b JOIN dec f ON f.t = b.t - 1)
    SELECT t AS day_idx, y AS y_kdollars, CAST(state AS BIGINT) AS state
    FROM back ORDER BY day_idx
    """


@query("q_cm_viterbi", oracle=_vit_oracle())
def q_cm_viterbi(spark, sf_dir):
    """VITERBI DECODING of a 2-state sticky regime HMM over daily
    revenue (Viterbi 1967; Rabiner 1989 tutorial — the regime-switching
    readout behind market/seasonality segmentation): Gaussian emissions
    with deterministic params (kilodollar-grain exact quartile means,
    pooled variance — the q_cj init), sticky transitions P(stay)=0.9,
    and EVERYTHING in exact integer micro-nats — emission scores by one
    shared floor close, transition/initial log-probs as integer
    literals — so the forward max-sum DP, its argmax decisions, AND the
    backtraced state path are bit-identical across engines. The DuckDB
    twin runs the forward pass as a RECURSIVE CTE and the backtrace as
    a SECOND recursive CTE walking the stored decisions — the full
    Viterbi path (2.4k days) is value-checked, not just the score
    (q_cd's recurrence-oracle pattern, extended to argmax+backtrace).

    Scale shape: the corpus-scan stage is one map-side-combinable daily
    rollup; the gap-filled spine, emission projection, and the
    inherently sequential DP (one applyInPandas task, q_cd contract)
    are calendar-bounded. Ties break toward state 1 by the shared >=.
    """
    import math

    import pandas as pd

    from pyspark.sql.types import LongType, StructField, StructType

    o = read_table(spark, sf_dir, "orders")
    day0 = o.agg(F.min(F.date_trunc("day", "o_orderdate")).alias("d0"))
    agg = (
        o.crossJoin(F.broadcast(day0))
        .groupBy(
            F.datediff(F.date_trunc("day", "o_orderdate"), F.col("d0"))
            .cast("bigint")
            .alias("t")
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    spine = agg.agg(F.max("t").alias("maxt")).select(
        F.explode(F.sequence(F.lit(0).cast("bigint"), F.col("maxt"))).alias("t")
    )
    daily = spine.join(agg, "t", "left").select(
        "t",
        F.expr(
            "CAST(floor(CAST(coalesce(cents, 0) AS DOUBLE) / 1e5) AS BIGINT)"
        ).alias("y"),
    )
    kcell = daily.groupBy(F.col("y").alias("xk")).agg(
        F.count("*").cast("bigint").alias("c")
    )
    tot = kcell.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.col("xk") * F.col("c")).cast("bigint").alias("sx"),
        F.sum(F.col("xk") * F.col("xk") * F.col("c"))
        .cast("bigint")
        .alias("sxx"),
    )
    cum = kcell.select(
        "xk",
        F.sum("c")
        .over(Window.orderBy("xk").rowsBetween(Window.unboundedPreceding, 0))
        .alias("cw"),
    )
    k25 = "CAST(floor((CAST(n AS DOUBLE) + 3e0) / 4e0) AS BIGINT)"
    k75 = "CAST(floor((3e0 * CAST(n AS DOUBLE) + 3e0) / 4e0) AS BIGINT)"
    q1 = (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.col("cw") >= F.expr(k25))
        .agg(F.min("xk").cast("bigint").alias("mu1"))
    )
    q3 = (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.col("cw") >= F.expr(k75))
        .agg(F.min("xk").cast("bigint").alias("mu2"))
    )
    params = (
        tot.crossJoin(F.broadcast(q1))
        .crossJoin(F.broadcast(q3))
        .select(
            "mu1",
            "mu2",
            F.expr(
                "greatest((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)"
                " * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
                " / (CAST(n AS DOUBLE) - 1e0), 1e0)"
            ).alias("v"),
        )
    )
    em = daily.crossJoin(F.broadcast(params)).select(
        "t",
        "y",
        F.expr(_vit_emit("mu1", "v")).alias("e1"),
        F.expr(_vit_emit("mu2", "v")).alias("e2"),
    )

    schema = StructType(
        [
            StructField("day_idx", LongType()),
            StructField("y_kdollars", LongType()),
            StructField("state", LongType()),
        ]
    )
    stay, sw, init = _VIT_STAY, _VIT_SWITCH, _VIT_INIT

    def decode(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("t")
        ts = [int(x) for x in pdf["t"]]
        ys = [int(x) for x in pdf["y"]]
        e1 = [int(x) for x in pdf["e1"]]
        e2 = [int(x) for x in pdf["e2"]]
        n = len(ts)
        v1, v2 = init + e1[0], init + e2[0]
        dec = [(0, 0)]
        for k in range(1, n):
            a1, b1 = v1 + stay, v2 + sw
            a2, b2 = v1 + sw, v2 + stay
            d1 = 1 if a1 >= b1 else 2
            d2 = 1 if a2 >= b2 else 2
            v1, v2 = e1[k] + max(a1, b1), e2[k] + max(a2, b2)
            dec.append((d1, d2))
        state = 1 if v1 >= v2 else 2
        out = [(ts[n - 1], ys[n - 1], state)]
        for k in range(n - 1, 0, -1):
            state = dec[k][0] if state == 1 else dec[k][1]
            out.append((ts[k - 1], ys[k - 1], state))
        return pd.DataFrame(
            reversed(out), columns=["day_idx", "y_kdollars", "state"]
        )

    return (
        em.withColumn("g", F.lit(1))
        .groupBy("g")
        .applyInPandas(lambda _, p: decode(p), schema=schema)
        .orderBy("day_idx")
    )


# ---------------------------------------------------------------------------
# Label-propagation community detection (LPA) on the co-purchase graph
# ---------------------------------------------------------------------------


def label_propagation(
    edges: DataFrame, rounds: int = 5
) -> DataFrame:
    """Synchronous LABEL PROPAGATION (Raghavan, Albert & Kumara, Phys.
    Rev. E 2007 — the near-linear community detector; the same fixed-
    iteration semantics GraphFrames' LPA ships) over an undirected edge
    list ``(u, v)``: labels start as node ids; each round every node
    adopts the label most frequent among its neighbors PLUS its own
    current label (the self-vote damps the classic bipartite
    oscillation), ties broken by the SMALLEST label — fully
    deterministic, so a fixed round count yields a reproducible
    partition (sync LPA has no convergence guarantee in general; fixed
    rounds is the standard practice this API mirrors).

    Loop discipline: the round state is ONE (node, label) table;
    each round = neighbor expansion (2|E| rows), a combinable
    (node, label) count and a per-node argmax via max(struct(cnt,
    -label)) — no window over the corpus. The loop is
    ``operators.iterate``.

    Scale: each round shuffles (node, label) pairs keyed by node —
    2|E| rows, digest-width; rounds are a small constant.
    """
    sym = (
        edges.select(F.col("u").alias("node"), F.col("v").alias("nbr"))
        .unionByName(
            edges.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
        )
        # Joined once per round: without this pin every round re-runs the
        # caller's edge DERIVATION (q_cz: a lineitem self-join +
        # distinct) — the q_d7/q_da re-scan class, measured 12.0s -> see
        # BENCHNOTES round 9.
        .localCheckpoint(eager=True)
    )
    labels = (
        sym.select("node")
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint(eager=True)
    )

    def lpa_round(labels: DataFrame, _: int) -> DataFrame:
        votes = (
            sym.join(
                labels.withColumnRenamed("node", "nbr"), "nbr"
            ).select("node", "label")
            # Self-vote: the node's own current label counts once.
            .unionByName(labels.select("node", "label"))
            .groupBy("node", "label")
            .agg(F.count("*").alias("cnt"))
        )
        return (
            votes.groupBy("node")
            .agg(
                F.max(
                    F.struct(F.col("cnt"), (-F.col("label")).alias("nl"))
                ).alias("best")
            )
            .select("node", (-F.col("best.nl")).alias("label"))
        )

    return iterate(labels, lpa_round, rounds)


@query("q_cz_lpa")
def q_cz_lpa(spark, sf_dir):
    """COMMUNITY DETECTION via label propagation on the part
    co-purchase graph (parts appearing in the same order, the q_a2
    pair grain): the missing member of the graph stack — CC finds
    components, k-core finds cores, modularity SCORES a partition,
    LPA FINDS one. Emits community sizes after 5 deterministic
    synchronous rounds (min-label tie-break + self-vote; see
    label_propagation). Rows-only by design: data-dependent iteration
    is outside DuckDB's single-query reach (the q_z6 class); the
    algorithm is golden-tested on known two-clique fixtures and
    determinism-tested in tests/test_science_ops.py.

    Scale shape: the pair generation is order-bounded fan-out
    (lineitem self-join on o_orderkey — items-per-order is bounded, so
    pairs per order are bounded); each LPA round shuffles 2|E|
    (node, label) pairs. 100 TB = one pair shuffle + 5 bounded rounds.
    """
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("u"),
            F.col("b.l_partkey").alias("v"),
        )
        .distinct()
    )
    labels = label_propagation(edges, rounds=5)
    return (
        labels.groupBy("label")
        .agg(F.count("*").cast("bigint").alias("n_nodes"))
        .select(F.col("label").alias("community"), "n_nodes")
        .orderBy(F.desc("n_nodes"), F.asc("community"))
    )


# ---------------------------------------------------------------------------
# Dynamic time warping (Sakoe-Chiba band) between two segments' revenue
# ---------------------------------------------------------------------------

_DTW_BAND = 14
_DTW_SEG_A = "AUTOMOBILE"
_DTW_SEG_B = "BUILDING"


def dtw_distance(
    xs, ys, band: int
) -> tuple[float, int]:
    """Banded DTW DP (Sakoe & Chiba, IEEE TASSP 1978) with symmetric
    step pattern; returns (distance, warping-path length). Pure
    function so tests can golden-check the operator against it."""
    import math

    n, m = len(xs), len(ys)
    inf = math.inf
    prev = [inf] * (m + 1)
    prev[0] = 0.0
    # Track path length via parallel DP (steps count).
    prev_len = [0] * (m + 1)
    for i in range(1, n + 1):
        cur = [inf] * (m + 1)
        cur_len = [0] * (m + 1)
        lo = max(1, i - band)
        hi = min(m, i + band)
        for j in range(lo, hi + 1):
            c = abs(xs[i - 1] - ys[j - 1])
            best, blen = prev[j - 1], prev_len[j - 1]  # match
            if prev[j] < best:
                best, blen = prev[j], prev_len[j]  # insertion
            if cur[j - 1] < best:
                best, blen = cur[j - 1], cur_len[j - 1]  # deletion
            cur[j] = c + best
            cur_len[j] = blen + 1
        prev, prev_len = cur, cur_len
    return prev[m], prev_len[m]


@query("q_d8_dtw")
def q_d8_dtw(spark, sf_dir):
    """DYNAMIC TIME WARPING distance between two market segments' daily
    revenue curves (Sakoe-Chiba band = 14 days): the elastic-alignment
    similarity that tolerates phase shifts where lagged cross-
    correlation (q_zx) only tests FIXED lags — "do these two segments
    follow the same demand shape, allowing a fortnight of slack?".
    Series are z-normalized from exact integer moments before
    alignment (scale-free comparison, the standard DTW preprocessing).
    Rows-only by design: the banded DP is sequential per PAIR —
    day-grain bounded (q_zi document-and-contain), so it runs inside
    ONE applyInPandas group (the q_cm Viterbi shape) while the
    corpus-sized work (the daily rollup) stays distributed; DuckDB has
    no DP twin, so correctness is pinned by golden tests against the
    pure-Python dtw_distance on known series (identity -> 0, symmetry,
    band violation detection) in tests/test_science_ops.py.

    Scale shape: one map-side-combinable (segment, day) rollup + one
    bounded two-series DP task. 100 TB = one scan + one join + a
    constant tail.
    """
    import pandas as pd

    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    # One dense day axis for BOTH series (zero-filled): unequal active
    # day counts would otherwise make the far corner unreachable inside
    # the band (|n - m| > band -> infinite distance).
    daily = (
        o.join(c, F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("c_mktsegment").isin(_DTW_SEG_A, _DTW_SEG_B))
        .groupBy(F.date_trunc("day", "o_orderdate").alias("day"))
        .agg(
            F.sum(
                F.when(
                    F.col("c_mktsegment") == _DTW_SEG_A,
                    F.round(F.col("o_totalprice") * 100).cast("bigint"),
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("a_cents"),
            F.sum(
                F.when(
                    F.col("c_mktsegment") == _DTW_SEG_B,
                    F.round(F.col("o_totalprice") * 100).cast("bigint"),
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("b_cents"),
        )
    )

    schema = (
        "n_a bigint, n_b bigint, band bigint, dtw_distance double, "
        "path_len bigint"
    )

    def run(_key, pdf: pd.DataFrame) -> pd.DataFrame:
        p = pdf.sort_values("day", kind="stable")
        a = p["a_cents"].to_numpy(dtype="float64")
        b = p["b_cents"].to_numpy(dtype="float64")

        def znorm(v):
            mu = v.mean()
            sd = v.std()
            return (v - mu) / sd if sd > 0 else v - mu

        xs, ys = znorm(a), znorm(b)
        d, plen = dtw_distance(list(xs), list(ys), _DTW_BAND)
        return pd.DataFrame(
            [
                {
                    "n_a": len(a),
                    "n_b": len(b),
                    "band": _DTW_BAND,
                    "dtw_distance": round(float(d), 6),
                    "path_len": plen,
                }
            ]
        )

    return (
        daily.withColumn("g", F.lit(1))
        .groupBy("g")
        .applyInPandas(run, schema)
    )


# ---------------------------------------------------------------------------
# Matryoshka embedding-truncation audit
# ---------------------------------------------------------------------------

#: Truncation prefixes audited (full fixture dim = 64). Powers of two —
#: the dims an MRL-trained model ships (Kusupati et al. 2022, public).
_MRL_DIMS = (8, 16, 32, 64)


def _mrl_cos_sql(d: int) -> str:
    """Left-fold cosine over the first ``d`` coordinates — the identical
    double-add order as Spark's F.aggregate (see q_ah_cosine_hist)."""
    dot = (
        f"list_reduce(list_transform(generate_series(1, {d}),"
        f" i -> va[i] * vb[i]), (acc, x) -> acc + x)"
    )
    nrm = (
        lambda v: f"sqrt(list_reduce(list_transform(generate_series(1, {d}),"
        f" i -> {v}[i] * {v}[i]), (acc, x) -> acc + x))"
    )
    return f"round({dot} / ({nrm('va')} * {nrm('vb')}), 6)"


@query(
    "q_ec_matryoshka_audit",
    oracle=f"""
    WITH ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    raw AS (
      SELECT a.v AS va, b.v AS vb
      FROM ev a JOIN ev b ON b.vec_id = a.vec_id + 1),
    pairs AS (
      SELECT d,
             CAST(round(sim_d * 1000000.0) AS BIGINT) AS qd,
             CAST(round(sim_full * 1000000.0) AS BIGINT) AS qf
      FROM (
        SELECT dims.d,
               CASE dims.d
                 WHEN 8 THEN {_mrl_cos_sql(8)}
                 WHEN 16 THEN {_mrl_cos_sql(16)}
                 WHEN 32 THEN {_mrl_cos_sql(32)}
                 ELSE {_mrl_cos_sql(64)} END AS sim_d,
               {_mrl_cos_sql(64)} AS sim_full
        FROM raw CROSS JOIN (VALUES (8), (16), (32), (64)) dims(d)))
    SELECT CAST(d AS BIGINT) AS dim,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(CAST(SUM(CAST(qd AS DECIMAL(38,0))) AS DOUBLE)
                 / count(*) / 1000000.0, 6) AS mean_cos,
           round(CAST(SUM(CAST(abs(qd - qf) AS DECIMAL(38,0))) AS DOUBLE)
                 / count(*) / 1000000.0, 6) AS mean_abs_err,
           round(CAST(SUM(CASE WHEN (qd >= 0) = (qf >= 0) THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 6) AS sign_agree
    FROM pairs GROUP BY d ORDER BY dim
    """,
)
def q_ec_matryoshka_audit(spark, sf_dir):
    """MATRYOSHKA TRUNCATION AUDIT — how much neighbor geometry survives
    when embeddings are truncated to a prefix (the deployment question
    behind Matryoshka Representation Learning, Kusupati et al. 2022,
    public: serve dim-8/16 for cheap retrieval, re-rank at full dim):
    for consecutive-id pairs (the q_ah_cosine_hist pairing), the cosine
    at each prefix dim vs the full-dim cosine — mean cosine, mean
    absolute error, and the sign-agreement rate (does truncation flip
    similar/dissimilar?). Errors are computed on the 6dp-QUANTIZED
    cosines (identical integers in both engines — the same left-fold
    trick as q_ah), so the audit is hash-checkable.

    Scale shape: the consecutive-id pairing is a co-partitioned
    self-join (no fan-out); all four prefix cosines come from ONE
    projection over the joined row — the dim axis is a 4-way stack of
    codegen'd column expressions, not a 4x data explode — and the final
    aggregate has 4 groups. At 100 TB this is one zipped scan, exactly
    like the histogram audit it extends."""
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    a = emb.select(F.col("vec_id"), F.col("v").alias("va"))
    b = emb.select((F.col("vec_id") - 1).alias("vec_id"), F.col("v").alias("vb"))

    def cos_q(d: int):
        dot = F.aggregate(
            F.zip_with(
                F.slice("va", 1, d), F.slice("vb", 1, d), lambda x, y: x * y
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        nrm = lambda c: F.sqrt(  # noqa: E731 - local alias
            F.aggregate(
                F.transform(F.slice(c, 1, d), lambda x: x * x),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
        return F.round(
            dot / (nrm(F.col("va")) * nrm(F.col("vb"))), 6
        ) * 1000000.0

    joined = a.join(b, "vec_id")
    quantized = joined.select(
        *[
            F.round(cos_q(d)).cast("bigint").alias(f"q{d}")
            for d in _MRL_DIMS
        ]
    )
    stacked = quantized.selectExpr(
        "stack(4, "
        + ", ".join(f"{d}L, q{d}" for d in _MRL_DIMS)
        + ") AS (dim, qd)",
        f"q{_MRL_DIMS[-1]} AS qf",
    )
    return (
        stacked.groupBy("dim")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum(F.col("qd").cast("decimal(38,0)")).alias("sq"),
            F.sum(F.abs(F.col("qd") - F.col("qf")).cast("decimal(38,0)")).alias(
                "serr"
            ),
            F.sum(
                F.when(
                    (F.col("qd") >= 0) == (F.col("qf") >= 0), 1
                ).otherwise(0)
            ).alias("agree"),
        )
        .selectExpr(
            "dim",
            "n_pairs",
            "round(CAST(sq AS DOUBLE) / n_pairs / 1000000.0, 6) AS mean_cos",
            "round(CAST(serr AS DOUBLE) / n_pairs / 1000000.0, 6)"
            " AS mean_abs_err",
            "round(CAST(agree AS DOUBLE) / n_pairs, 6) AS sign_agree",
        )
        .orderBy("dim")
    )
