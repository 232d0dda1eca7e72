"""Lexical-statistics operators (round 8, batch 5): Chao1 vocabulary
richness + Good-Turing coverage, Heaps'-law vocabulary-growth fit, and
Burrows' Delta stylometric distance between language sub-corpora.

All three are corpus-quality diagnostics a training-data pipeline runs
next to Zipf (q_zu), entropy (q_yl) and vocabulary coverage (q_ym):
richness says how much vocabulary remains unseen, Heaps says how fast
it keeps arriving, Delta says whether two sub-corpora are stylistically
interchangeable.

Design rules carried from the rest of the engine:

- **Tokenization is ONE shared regex** (`[a-z]+` on lowered text), the
  q_zu/q_zv contract, so both engines see the identical token stream.
- **Cross-engine float discipline.** Counts and first-occurrence doc
  ids are exact integers; ln() of integers is bit-identical across
  engines and gets quantized to integer nano-units before any
  accumulation (the q_zu _logq contract); per-term doubles that must
  be summed order-free are rounded to integer units first and
  BIGINT-summed (the q_zv femto-quantization contract).
- **Vocabulary-grain work only.** Every shuffle after the explode is
  at token-type or doc grain — sublinear in the corpus by Heaps' law
  itself (the statistic this module measures is the reason the module
  scales).

Reference scope: the reference (COMP5349_2.py:1-211) has none of this
surface; north-star corpus-observability mandate.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..sources import read_table
from .registry import query
from .science_ops import _logq


# ---------------------------------------------------------------------------
# Chao1 richness + Good-Turing coverage (one aggregate over the vocabulary)
# ---------------------------------------------------------------------------

#: Bias-corrected Chao1 (Chao 1984 / Colwell): V + f1(f1-1)/(2(f2+1)),
#: defined even with zero doubletons; exact integers in, one shared
#: division out.
_CHAO1 = (
    "(CAST(v AS DOUBLE) + CAST(f1 AS DOUBLE) * (CAST(f1 AS DOUBLE) - 1e0)"
    " / (2e0 * (CAST(f2 AS DOUBLE) + 1e0)))"
)
#: Good-Turing: P(unseen) = f1/N, sample coverage C = 1 - f1/N.
_GT_UNSEEN = "(CAST(f1 AS DOUBLE) / CAST(n AS DOUBLE))"


@query(
    "q_cr_chao1",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
      FROM documents),
    freq AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY tok),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS v,
             CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
             CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
      FROM freq)
    SELECT v AS vocab, n AS n_tokens, f1 AS hapax, f2 AS doubletons,
           round({_CHAO1}, 6) AS chao1,
           round({_GT_UNSEEN}, 6) AS gt_unseen_mass,
           round(1e0 - {_GT_UNSEEN}, 6) AS gt_coverage
    FROM agg
    """,
)
def q_cr_chao1(spark, sf_dir):
    """CHAO1 VOCABULARY RICHNESS + GOOD-TURING COVERAGE — the two
    classical "how much is still unseen" estimators (Chao, Scand. J.
    Stat. 1984; Good, Biometrika 1953), run over the corpus token
    stream: Chao1 extrapolates total vocabulary from the hapax/
    doubleton counts (bias-corrected form, defined even when f2 = 0),
    and Good-Turing's f1/N is the probability the NEXT token is a
    never-seen type — the direct "will more data still buy new
    vocabulary" signal a pretraining-data curator acts on. Everything
    reduces to four exact integers (V, N, f1, f2) in ONE combinable
    aggregate over the vocabulary table; the two closes are shared-text
    divisions.

    Scale shape: explode -> token-type count (the q_xw inverted-index
    shuffle, combinable), then a single global 4-number reduction.
    Vocabulary is sublinear in the corpus (Heaps), so the second
    shuffle shrinks with scale. 100 TB = one scan + one vocab-grain
    shuffle + a 1-row close.
    """
    docs = read_table(spark, sf_dir, "documents").select("text")
    tok = docs.select(
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), F.lit(0))
        ).alias("tok")
    )
    freq = tok.groupBy("tok").agg(F.count("*").cast("bigint").alias("c"))
    agg = freq.agg(
        F.count("*").cast("bigint").alias("v"),
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("f1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0))
        .cast("bigint")
        .alias("f2"),
    )
    return agg.select(
        F.col("v").alias("vocab"),
        F.col("n").alias("n_tokens"),
        F.col("f1").alias("hapax"),
        F.col("f2").alias("doubletons"),
        F.round(F.expr(_CHAO1), 6).alias("chao1"),
        F.round(F.expr(_GT_UNSEEN), 6).alias("gt_unseen_mass"),
        F.round(F.expr(f"1e0 - {_GT_UNSEEN}"), 6).alias("gt_coverage"),
    )


# ---------------------------------------------------------------------------
# Heaps'-law fit: V(n) = K * n^beta over the document-order prefix curve
# ---------------------------------------------------------------------------

_HEAPS_SLOPE = (
    "((CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / nullif(CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0e0))"
)
_HEAPS_ICEPT = (
    f"((CAST(sy AS DOUBLE) - {_HEAPS_SLOPE} * CAST(sx AS DOUBLE))"
    " / CAST(np AS DOUBLE) / 1000000000.0)"
)
_HEAPS_R2 = (
    "(((CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " * (CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))"
    " / nullif((CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    " * (CAST(np AS DOUBLE) * CAST(syy AS DOUBLE)"
    " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)), 0e0))"
)


@query(
    "q_cs_heaps",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
      FROM documents),
    doc_tokens AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS toks
      FROM tok GROUP BY doc_id),
    first_doc AS (
      SELECT min(doc_id) AS fd FROM tok GROUP BY tok),
    new_vocab AS (
      SELECT fd AS doc_id, CAST(count(*) AS BIGINT) AS newv
      FROM first_doc GROUP BY fd),
    curve AS (
      SELECT d.doc_id,
             SUM(d.toks) OVER (ORDER BY d.doc_id
                               ROWS UNBOUNDED PRECEDING) AS cum_n,
             SUM(coalesce(v.newv, 0)) OVER (ORDER BY d.doc_id
                               ROWS UNBOUNDED PRECEDING) AS cum_v
      FROM doc_tokens d LEFT JOIN new_vocab v ON v.doc_id = d.doc_id),
    pts AS (
      SELECT {_logq('cum_n')} AS qx, {_logq('cum_v')} AS qy
      FROM curve WHERE cum_n > 0 AND cum_v > 0),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS np,
             SUM(CAST(qx AS DECIMAL(38,0))) AS sx,
             SUM(CAST(qy AS DECIMAL(38,0))) AS sy,
             SUM(CAST(qx AS DECIMAL(38,0)) * qy) AS sxy,
             SUM(CAST(qx AS DECIMAL(38,0)) * qx) AS sxx,
             SUM(CAST(qy AS DECIMAL(38,0)) * qy) AS syy
      FROM pts)
    SELECT np AS n_points,
           round({_HEAPS_SLOPE}, 6) AS beta,
           round(exp({_HEAPS_ICEPT}), 6) AS k,
           round({_HEAPS_R2}, 6) AS r2
    FROM m
    """,
)
def q_cs_heaps(spark, sf_dir):
    """HEAPS'-LAW FIT: V(n) = K·n^beta (Heaps 1978; Herdan's law) over
    the document-order vocabulary-growth curve — the companion to Chao1
    (q_cr asks HOW MUCH vocabulary is left, this asks HOW FAST it keeps
    arriving; beta ~ 0.4-0.6 is natural text, beta near 0 means the
    corpus has saturated and more data buys only repetition). The curve
    is exact: each token type contributes +1 at its FIRST document
    (min doc_id per type — one combinable aggregate), cumulative token
    and vocabulary counts are integer prefix sums at DOC grain, and the
    log-log OLS runs on nano-quantized ln() of integers with exact
    DECIMAL moment sums (the q_zu contract, including the shared-text
    slope/intercept/r² closes; the 1e9 scale cancels in slope and r²
    and is divided back out of the intercept before exp()).

    Scale shape: explode -> (type, first-doc) aggregate (combinable,
    vocab-grain) + per-doc token counts (combinable, doc-grain); the
    prefix sums run at doc grain — locally one ordered window, at
    100 TB the q_yv_auc distributed range-repartition + broadcast-
    offsets recipe (integer-exact, hashes identically); the OLS
    reduction is order-free DECIMAL sums, fully combinable.
    """
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    tok = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), F.lit(0))
        ).alias("tok"),
    )
    doc_tokens = tok.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("toks")
    )
    first_doc = tok.groupBy("tok").agg(F.min("doc_id").alias("fd"))
    new_vocab = first_doc.groupBy(F.col("fd").alias("doc_id")).agg(
        F.count("*").cast("bigint").alias("newv")
    )
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    curve = (
        doc_tokens.join(new_vocab, "doc_id", "left")
        .select(
            "doc_id",
            F.sum("toks").over(w).alias("cum_n"),
            F.sum(F.coalesce(F.col("newv"), F.lit(0))).over(w).alias("cum_v"),
        )
    )
    pts = curve.filter((F.col("cum_n") > 0) & (F.col("cum_v") > 0)).selectExpr(
        f"{_logq('cum_n')} AS qx", f"{_logq('cum_v')} AS qy"
    )
    m = pts.agg(
        F.count("*").cast("bigint").alias("np"),
        F.sum(F.col("qx").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("qy").cast("decimal(38,0)")).alias("sy"),
        F.sum(F.col("qx").cast("decimal(38,0)") * F.col("qy")).alias("sxy"),
        F.sum(F.col("qx").cast("decimal(38,0)") * F.col("qx")).alias("sxx"),
        F.sum(F.col("qy").cast("decimal(38,0)") * F.col("qy")).alias("syy"),
    )
    return m.selectExpr(
        "np AS n_points",
        f"round({_HEAPS_SLOPE}, 6) AS beta",
        f"round(exp({_HEAPS_ICEPT}), 6) AS k",
        f"round({_HEAPS_R2}, 6) AS r2",
    )


# ---------------------------------------------------------------------------
# Burrows' Delta between language sub-corpora (top function words)
# ---------------------------------------------------------------------------

_BD_TOP = 150

#: Per-word micro-frequency (occurrences per million tokens of the
#: sub-corpus), rounded once to an exact integer — the only float step
#: before the z machinery, shared text on both engines.
_BD_FQ = (
    "CAST(round(1000000e0 * CAST(c AS DOUBLE) / CAST(n AS DOUBLE), 0)"
    " AS BIGINT)"
)

#: Pairwise per-word Delta term |z_a - z_b|: the cross-corpus means
#: cancel, leaving |fq_a - fq_b| / sd with sd the SAMPLE std dev of the
#: word's micro-frequency across the L sub-corpora — numerator exact
#: integer, sd from exact integer moments. Zero-variance words carry no
#: stylometric signal and contribute 0. Quantized to integer nano-units
#: so the word sum is order-free (the q_zv contract).
_BD_TERM = (
    "CASE WHEN l * ss - s * s > 0 THEN"
    " CAST(round(CAST(abs(fa - fb) AS DOUBLE)"
    " / sqrt(CAST(l * ss - s * s AS DOUBLE)"
    " / (CAST(l AS DOUBLE) * (CAST(l AS DOUBLE) - 1e0)))"
    " * 1000000000.0, 0) AS BIGINT) ELSE 0 END"
)


@query(
    "q_ct_burrows",
    oracle=f"""
    WITH tok AS (
      SELECT lang, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
      FROM documents),
    cnt AS (
      SELECT lang, tok, CAST(count(*) AS BIGINT) AS c
      FROM tok GROUP BY lang, tok),
    ntot AS (
      SELECT lang, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY lang),
    top AS (
      SELECT tok FROM (
        SELECT tok, sum(c) AS tot FROM cnt GROUP BY tok
        ORDER BY tot DESC, tok LIMIT {_BD_TOP})),
    dense AS (
      SELECT t.tok, nt.lang, nt.n, coalesce(c.c, 0) AS c
      FROM top t CROSS JOIN ntot nt
      LEFT JOIN cnt c ON c.tok = t.tok AND c.lang = nt.lang),
    fq AS (
      SELECT tok, lang, {_BD_FQ} AS fqv FROM dense),
    word_stats AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS l,
             CAST(sum(fqv) AS BIGINT) AS s,
             CAST(sum(fqv * fqv) AS BIGINT) AS ss
      FROM fq GROUP BY tok),
    pair_terms AS (
      SELECT a.lang AS lang_a, b.lang AS lang_b,
             ws.l, ws.s, ws.ss, a.fqv AS fa, b.fqv AS fb
      FROM fq a
      JOIN fq b ON b.tok = a.tok AND a.lang < b.lang
      JOIN word_stats ws ON ws.tok = a.tok),
    sums AS (
      SELECT lang_a, lang_b,
             CAST(count(*) AS BIGINT) AS n_words,
             CAST(sum({_BD_TERM}) AS BIGINT) AS tq
      FROM pair_terms GROUP BY lang_a, lang_b)
    SELECT lang_a, lang_b, n_words,
           round(CAST(tq AS DOUBLE) / (CAST(n_words AS DOUBLE)
                 * 1000000000.0), 6) AS delta
    FROM sums ORDER BY lang_a, lang_b
    """,
)
def q_ct_burrows(spark, sf_dir):
    """BURROWS' DELTA (Burrows, LLC 2002 — the standard stylometric
    distance; Argamon 2008 gives the z-score formulation used here)
    between language sub-corpora over the top-150 corpus function
    words: per sub-corpus micro-frequencies (occurrences per million
    tokens, rounded ONCE to exact integers), per-word z-scores across
    the L sub-corpora, Delta(a,b) = mean_w |z_a - z_b|. The pairwise
    term needs no per-corpus mean (it cancels in the difference), so
    each term is an exact-integer numerator over a std dev built from
    exact integer moments — then nano-quantized and BIGINT-summed so
    the word sum is order-free on both engines (q_zv contract).
    Zero-variance words contribute 0 by construction. High Delta
    between sub-corpora that SHOULD be interchangeable (same language,
    different sources) is a mixing red flag.

    Scale shape: explode -> (lang, type) counts (combinable); the
    top-150 pick is TakeOrderedAndProject over the vocabulary;
    everything after lives on a 150 x L dense frame (broadcast
    joins). 100 TB = one scan + one vocab-grain shuffle + a
    constant-size tail.
    """
    docs = read_table(spark, sf_dir, "documents").select("lang", "text")
    tok = docs.select(
        "lang",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), F.lit(0))
        ).alias("tok"),
    )
    cnt = tok.groupBy("lang", "tok").agg(
        F.count("*").cast("bigint").alias("c")
    )
    ntot = cnt.groupBy("lang").agg(F.sum("c").cast("bigint").alias("n"))
    top = (
        cnt.groupBy("tok")
        .agg(F.sum("c").alias("tot"))
        .orderBy(F.desc("tot"), F.asc("tok"))
        .limit(_BD_TOP)
        .select("tok")
    )
    dense = (
        F.broadcast(top)
        .crossJoin(F.broadcast(ntot))
        .join(cnt, ["tok", "lang"], "left")
        .select(
            "tok",
            "lang",
            "n",
            F.coalesce(F.col("c"), F.lit(0)).alias("c"),
        )
    )
    fq = dense.select("tok", "lang", F.expr(_BD_FQ).alias("fqv"))
    word_stats = fq.groupBy("tok").agg(
        F.count("*").cast("bigint").alias("l"),
        F.sum("fqv").cast("bigint").alias("s"),
        F.sum(F.col("fqv") * F.col("fqv")).cast("bigint").alias("ss"),
    )
    a, b = fq.alias("a"), fq.alias("b")
    pair_terms = (
        a.join(
            b,
            (F.col("b.tok") == F.col("a.tok"))
            & (F.col("a.lang") < F.col("b.lang")),
        )
        .join(F.broadcast(word_stats).alias("ws"), F.col("ws.tok") == F.col("a.tok"))
        .select(
            F.col("a.lang").alias("lang_a"),
            F.col("b.lang").alias("lang_b"),
            F.col("ws.l").alias("l"),
            F.col("ws.s").alias("s"),
            F.col("ws.ss").alias("ss"),
            F.col("a.fqv").alias("fa"),
            F.col("b.fqv").alias("fb"),
        )
    )
    sums = pair_terms.groupBy("lang_a", "lang_b").agg(
        F.count("*").cast("bigint").alias("n_words"),
        F.sum(F.expr(_BD_TERM)).cast("bigint").alias("tq"),
    )
    return sums.select(
        "lang_a",
        "lang_b",
        "n_words",
        F.round(
            F.col("tq").cast("double")
            / (F.col("n_words").cast("double") * F.lit(1e9)),
            6,
        ).alias("delta"),
    ).orderBy("lang_a", "lang_b")


# ---------------------------------------------------------------------------
# Gries' DP dispersion of top words across sources
# ---------------------------------------------------------------------------

_DP_TOP = 50

#: Per-(word, source) deviation |obs_share - exp_share| from exact
#: integer counts, nano-quantized for the order-free source sum (q_zv
#: contract): obs = c_ws/c_w, exp = n_s/n_total.
_DP_TERM = (
    "CAST(round(abs(CAST(c_ws AS DOUBLE) / CAST(c_w AS DOUBLE)"
    " - CAST(n_s AS DOUBLE) / CAST(n_tot AS DOUBLE)) * 1000000000e0, 0)"
    " AS BIGINT)"
)


@query(
    "q_dp_dispersion",
    oracle=f"""
    WITH tok AS (
      SELECT source, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
      FROM documents),
    cnt AS (
      SELECT source, tok, CAST(count(*) AS BIGINT) AS c
      FROM tok GROUP BY source, tok),
    src AS (
      SELECT source, CAST(sum(c) AS BIGINT) AS n_s FROM cnt GROUP BY source),
    tot AS (SELECT CAST(sum(n_s) AS BIGINT) AS n_tot FROM src),
    top AS (
      SELECT tok, CAST(sum(c) AS BIGINT) AS c_w FROM cnt GROUP BY tok
      ORDER BY c_w DESC, tok LIMIT {_DP_TOP}),
    dense AS (
      SELECT t.tok, t.c_w, s.source, s.n_s, coalesce(c.c, 0) AS c_ws
      FROM top t CROSS JOIN src s
      LEFT JOIN cnt c ON c.tok = t.tok AND c.source = s.source),
    dp AS (
      SELECT d.tok, d.c_w,
             CAST(sum({_DP_TERM}) AS BIGINT) AS dev_q
      FROM dense d CROSS JOIN tot GROUP BY d.tok, d.c_w)
    SELECT tok, c_w AS count,
           round(CAST(dev_q AS DOUBLE) / 2e9, 6) AS dp
    FROM dp ORDER BY dp DESC, tok
    """,
)
def q_dp_dispersion(spark, sf_dir):
    """GRIES' DP DISPERSION (Gries, "Dispersions and adjusted
    frequencies in corpus linguistics", IJCL 2008) of the top-50 corpus
    words across sources: DP = 0.5 * sum_s |obs_share - expected_share|
    — 0 means the word spreads exactly like the corpus itself, near 1
    means it lives in one source. The per-SOURCE counterpart of
    Burrows' Delta (q_ct: cross-language style distance): high-DP
    high-frequency words are source artifacts (boilerplate, markup)
    that frequency alone (q_zu Zipf rank) cannot flag — a direct
    curation signal. Exact integer counts; each deviation term
    nano-quantizes before the source sum (q_zv contract); dense
    (word x source) frame includes zero cells (q_ct contract).

    Scale shape: explode -> (source, type) counts (combinable); the
    top-50 pick is TakeOrderedAndProject; the dense frame is 50 x
    sources (broadcast). 100 TB = one scan + one vocab-grain shuffle
    + a constant tail.
    """
    docs = read_table(spark, sf_dir, "documents").select("source", "text")
    tok = docs.select(
        "source",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), F.lit(0))
        ).alias("tok"),
    )
    cnt = tok.groupBy("source", "tok").agg(
        F.count("*").cast("bigint").alias("c")
    )
    src = cnt.groupBy("source").agg(F.sum("c").cast("bigint").alias("n_s"))
    tot = src.agg(F.sum("n_s").cast("bigint").alias("n_tot"))
    top = (
        cnt.groupBy("tok")
        .agg(F.sum("c").cast("bigint").alias("c_w"))
        .orderBy(F.desc("c_w"), F.asc("tok"))
        .limit(_DP_TOP)
    )
    dense = (
        F.broadcast(top)
        .crossJoin(F.broadcast(src))
        .join(cnt, ["tok", "source"], "left")
        .select(
            "tok",
            "c_w",
            "source",
            "n_s",
            F.coalesce(F.col("c"), F.lit(0)).alias("c_ws"),
        )
    )
    dp = (
        dense.crossJoin(F.broadcast(tot))
        .groupBy("tok", "c_w")
        .agg(F.sum(F.expr(_DP_TERM)).cast("bigint").alias("dev_q"))
    )
    return dp.select(
        "tok",
        F.col("c_w").alias("count"),
        F.round(F.col("dev_q").cast("double") / 2e9, 6).alias("dp"),
    ).orderBy(F.desc("dp"), F.asc("tok"))
