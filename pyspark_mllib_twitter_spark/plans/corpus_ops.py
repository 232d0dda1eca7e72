"""Corpus-curation operators: URL/domain quotas, inverted index, sketches.

Round-5 additions to the training-data-pipeline surface (``pipeline_ops``):
the web-corpus curation steps that run between "crawled pages" and "clean
documents" in public pipelines (CCNet, RefinedWeb, Dolma — all published):

- **per-domain quota sampling** — web corpora are dominated by a few hosts;
  capping documents per registered domain (selected by deterministic hash,
  not crawl order) is the standard anti-bias step. Exercises the URL
  function family (``parse_url``) the engine must support.
- **inverted index** — term -> (document frequency, top-k postings); the
  retrieval-side artifact a corpus pipeline emits for audit/search.
- **count-min heavy hitters** — a fixed-size mergeable sketch estimating
  term counts; the 100 TB shape for "what are the most common terms"
  without a full-cardinality shuffle (Cormode & Muthukrishnan 2005,
  public).
- **embedding centroids** — distributed mean-pooling of embedding vectors
  per label + pairwise centroid cosine, the building block for cluster
  audit and SemDeDup-style curation.

All are pure DataFrame plans (no Python in the hot path) and carry DuckDB
oracles. Hash alignment between engines uses md5 (identical bytes on both
sides); numeric buckets come from the first 8 hex chars via base-16
conversion, which both engines evaluate exactly.

Reference scope: the reference (COMP5349_2.py) has no web-curation surface;
these extend its text pipeline (COMP5349_2.py:151) toward corpus prep, per
the north-star mandate.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import ordering as ORD
from ..functions import text as TXT
from ..operators.iterate import iterate
from ..sources import local_frame, read_table, spread
from ..streaming.streams import KMV_K
from .registry import query, sql_query


# ---------------------------------------------------------------------------
# Per-domain quota sampling (URL function family)
# ---------------------------------------------------------------------------

#: Max documents kept per registered domain. Sized so fixture domains
#: (~25 docs/domain at sf0.001, ~250 at sf0.01) are over quota and the
#: operator is non-vacuous at every test scale.
DOMAIN_QUOTA = 16

#: Synthetic-URL expression pieces (the fixture has no URL column, so one is
#: derived deterministically from (source, lang, doc_id) — same expression
#: on both engines; the URL *parsing* below is the operator under test).
_URL_SQL = (
    "'https://cdn' || (doc_id % 3) || '.' || source || "
    "'.example.org/' || lang || '/' || doc_id || '?ref=r'"
)


@query(
    "q_xv_domain_quota",
    oracle=f"""
    WITH u AS (
      SELECT doc_id, {_URL_SQL} AS url FROM documents),
    parsed AS (
      SELECT doc_id, url,
             regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host
      FROM u),
    dom AS (
      SELECT doc_id, url, host,
             array_to_string((string_split(host, '.'))[-3:], '.') AS domain
      FROM parsed),
    ranked AS (
      SELECT doc_id, host, domain,
             row_number() OVER (
               PARTITION BY domain
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk
      FROM dom)
    SELECT doc_id, host, domain,
           CAST(CASE WHEN rnk <= {DOMAIN_QUOTA} THEN 1 ELSE 0 END AS BIGINT)
             AS kept
    FROM ranked ORDER BY doc_id
    """,
)
def q_xv_domain_quota(spark, sf_dir):
    """Per-registered-domain document quota, hash-selected (CCNet/RefinedWeb
    style, both public): parse the URL host (``parse_url`` — the engine's
    URL function family), strip the subdomain to the registered domain, and
    keep at most ``DOMAIN_QUOTA`` documents per domain, chosen by md5 hash
    of the doc id — a deterministic uniform sample, not crawl order, so
    re-runs and engines agree bit-for-bit.

    Scale shape: the quota decision is a window over ``domain`` — but rank
    is only *needed* where a domain is over quota, so the plan counts per
    domain first (digest-sized shuffle, map-side combinable) and routes
    under-quota domains around the sort entirely; only over-quota domains'
    rows are ranked (the over-set is a broadcast, plan-tested). This
    audit form emits a kept FLAG for every row, so the window must rank
    each over-quota domain fully; the production keep-only form filters
    ``rnk <= quota`` instead, which Spark plans as WindowGroupLimit
    (partial top-k before the shuffle — see q_xw's plan) so no domain's
    full row set ever sorts on one task.
    """
    d = spread(read_table(spark, sf_dir, "documents")).select("doc_id", "source", "lang")
    url = F.concat(
        F.lit("https://cdn"),
        (F.col("doc_id") % 3).cast("string"),
        F.lit("."),
        F.col("source"),
        F.lit(".example.org/"),
        F.col("lang"),
        F.lit("/"),
        F.col("doc_id").cast("string"),
        F.lit("?ref=r"),
    )
    parsed = d.select(
        "doc_id", F.parse_url(url, F.lit("HOST")).alias("host")
    ).withColumn(
        "domain", F.array_join(F.slice(F.split("host", r"\."), -3, 3), ".")
    )
    counts = parsed.groupBy("domain").agg(F.count("*").alias("n_dom"))
    over = counts.filter(F.col("n_dom") > DOMAIN_QUOTA).select("domain")
    under_kept = parsed.join(over, "domain", "left_anti").select(
        "doc_id", "host", "domain", F.lit(1).cast("bigint").alias("kept")
    )
    w = Window.partitionBy("domain").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    over_ranked = (
        parsed.join(F.broadcast(over), "domain")
        .withColumn("rnk", F.row_number().over(w))
        .select(
            "doc_id",
            "host",
            "domain",
            (F.col("rnk") <= DOMAIN_QUOTA).cast("bigint").alias("kept"),
        )
    )
    return under_kept.unionByName(over_ranked).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Inverted index (term -> df + top-k postings)
# ---------------------------------------------------------------------------

#: Postings kept per term (by tf desc, doc asc) — the audit/search artifact
#: is the *head* of each posting list; full lists are a join away.
POSTINGS_K = 5


@query(
    "q_xw_inverted_index",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                x -> x <> '')) AS term
      FROM documents),
    tf AS (
      SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY term, doc_id),
    stats AS (
      SELECT term, count(*) AS df, sum(tf) AS total_tf FROM tf GROUP BY term),
    ranked AS (
      SELECT term, doc_id, tf,
             row_number() OVER (PARTITION BY term
                                ORDER BY tf DESC, doc_id) AS rn
      FROM tf),
    post AS (
      SELECT term,
             string_agg(doc_id || ':' || tf, '|' ORDER BY rn) AS postings
      FROM ranked WHERE rn <= {POSTINGS_K} GROUP BY term)
    SELECT s.term, CAST(s.df AS BIGINT) AS df,
           CAST(s.total_tf AS BIGINT) AS total_tf, p.postings
    FROM stats s JOIN post p USING (term)
    WHERE s.df >= 2 ORDER BY s.term
    """,
)
def q_xw_inverted_index(spark, sf_dir):
    """Inverted index over the corpus: per term, document frequency, total
    term frequency, and the top-``POSTINGS_K`` postings (by tf desc, doc
    asc) serialized as ``doc:tf|doc:tf``. Terms in a single document are
    dropped (df >= 2) — hapaxes dominate raw vocabulary and carry no
    retrieval signal.

    Scale shape: (term, doc) tf is one map-side-combinable aggregation;
    df/total_tf reduce term-wise over tf rows (digest-sized, never text);
    the top-k per term is a rank-filtered window, which Spark plans as
    WindowGroupLimit — each task keeps only k candidates per term before
    the shuffle, so stopword-grade terms (millions of postings at 100 TB)
    never sort their full posting list on one task.
    """
    d = spread(read_table(spark, sf_dir, "documents")).select("doc_id", "text")
    toks = d.select("doc_id", F.explode(TXT.tokens("text")).alias("term"))
    tf = toks.groupBy("term", "doc_id").agg(F.count("*").alias("tf"))
    stats = tf.groupBy("term").agg(
        F.count("*").cast("bigint").alias("df"),
        F.sum("tf").cast("bigint").alias("total_tf"),
    )
    w = Window.partitionBy("term").orderBy(F.desc("tf"), F.asc("doc_id"))
    post = (
        tf.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= POSTINGS_K)
        .groupBy("term")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                "rn",
                                F.concat_ws(
                                    ":",
                                    F.col("doc_id").cast("string"),
                                    F.col("tf").cast("string"),
                                ).alias("s"),
                            )
                        )
                    ),
                    lambda s: s.s,
                ),
                "|",
            ).alias("postings")
        )
    )
    return (
        stats.filter(F.col("df") >= 2)
        .join(post, "term")
        .select("term", "df", "total_tf", "postings")
        .orderBy("term")
    )


# ---------------------------------------------------------------------------
# Count-min heavy hitters (fixed-size mergeable sketch)
# ---------------------------------------------------------------------------

#: Sketch geometry: depth (independent hash rows) x width (buckets/row).
#: The width is deliberately UNDERSIZED against the fixture vocabulary
#: (31 terms over 8 buckets) so collisions — and the overestimate property
#: the sketch is defined by — are non-vacuously exercised; production
#: would use e.g. 5 x 2^16 (still < 3 MB — broadcastable).
CMS_D = 3
CMS_W = 8

#: Heavy hitters reported (by exact count desc, term asc).
CMS_TOP = 10


def _cms_bucket_sql(term_expr: str, i: str) -> str:
    """DuckDB bucket expression: first 8 md5 hex chars as an integer,
    mod width — identical bytes to Spark's conv(substring(md5(..)))."""
    return f"('0x' || substr(md5({term_expr} || ':' || {i}), 1, 8))::BIGINT % {CMS_W}"


def _cms_bucket(term_col, i: int):
    """Spark twin of :func:`_cms_bucket_sql` (same md5 bytes, same mod)."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(term_col, F.lit(f":{i}"))), 1, 8), 16, 10
        ).cast("bigint")
        % CMS_W
    )


@query(
    "q_xx_cms_heavy_hitters",
    oracle=rf"""
    WITH toks AS (
      SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                x -> x <> '')) AS term
      FROM documents),
    tf AS (SELECT term, count(*) AS n FROM toks GROUP BY term),
    hrows AS (SELECT unnest(range({CMS_D})) AS i),
    cells AS (
      SELECT r.i, {_cms_bucket_sql('tf.term', 'r.i')} AS bucket, tf.n
      FROM tf CROSS JOIN hrows r),
    sketch AS (SELECT i, bucket, sum(n) AS c FROM cells GROUP BY i, bucket),
    cand AS (SELECT term, n FROM tf ORDER BY n DESC, term LIMIT {CMS_TOP}),
    est AS (
      SELECT cand.term, cand.n, min(s.c) AS cms
      FROM cand CROSS JOIN hrows r
      JOIN sketch s
        ON s.i = r.i AND s.bucket = {_cms_bucket_sql('cand.term', 'r.i')}
      GROUP BY cand.term, cand.n)
    SELECT term, CAST(n AS BIGINT) AS exact_n, CAST(cms AS BIGINT) AS cms_est
    FROM est ORDER BY exact_n DESC, term
    """,
)
def q_xx_cms_heavy_hitters(spark, sf_dir):
    """Count-min sketch heavy hitters (Cormode & Muthukrishnan 2005,
    public): build a ``CMS_D x CMS_W`` counter table over corpus terms, then
    estimate the top-``CMS_TOP`` terms' counts from the sketch next to their
    exact counts. The invariant ``cms_est >= exact_n`` (estimates only ever
    overestimate) is value-checked by the oracle on every row.

    Scale shape: the sketch is a FIXED-SIZE aggregate — ``d*w`` cells
    regardless of corpus size — so at 100 TB it builds with one map-side-
    combinable shuffle of at most ``d*w`` groups per task and merges across
    days/partitions by cell-wise addition (same mergeability story as the
    HLL path, q_a11). The md5-derived buckets make Spark and DuckDB place
    every term in identical cells, so the sketch itself (not just the
    query result) is engine-portable. Exact counts ride along here only
    for the comparison; production reads estimates alone.
    """
    d = spread(read_table(spark, sf_dir, "documents")).select("doc_id", "text")
    tf = (
        d.select(F.explode(TXT.tokens("text")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("n"))
    )
    cells = tf.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"),
                        _cms_bucket(F.col("term"), i).alias("bucket"),
                    )
                    for i in range(CMS_D)
                ]
            )
        ).alias("cell"),
        "n",
    ).select(F.col("cell.i").alias("i"), F.col("cell.bucket").alias("bucket"), "n")
    sketch = cells.groupBy("i", "bucket").agg(F.sum("n").alias("c"))
    cand = tf.orderBy(F.desc("n"), F.asc("term")).limit(CMS_TOP)
    probes = cand.select(
        "term",
        "n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"),
                        _cms_bucket(F.col("term"), i).alias("bucket"),
                    )
                    for i in range(CMS_D)
                ]
            )
        ).alias("cell"),
    ).select("term", "n", F.col("cell.i").alias("i"), F.col("cell.bucket").alias("bucket"))
    est = (
        probes.join(F.broadcast(sketch), ["i", "bucket"])
        .groupBy("term", "n")
        .agg(F.min("c").alias("cms"))
    )
    return est.select(
        "term",
        F.col("n").cast("bigint").alias("exact_n"),
        F.col("cms").cast("bigint").alias("cms_est"),
    ).orderBy(F.desc("exact_n"), F.asc("term"))


# ---------------------------------------------------------------------------
# Embedding centroids (distributed mean-pool + pairwise cosine)
# ---------------------------------------------------------------------------

@query(
    "q_xy_emb_centroids",
    oracle="""
    WITH e AS (
      SELECT label,
             generate_subscripts(embedding, 1) AS dim,
             unnest(embedding) AS val
      FROM embeddings),
    c AS (SELECT label, dim, avg(val) AS m FROM e GROUP BY label, dim),
    p AS (
      SELECT a.label AS label_a, b.label AS label_b,
             sum(a.m * b.m) AS dot,
             sum(a.m * a.m) AS na, sum(b.m * b.m) AS nb
      FROM c a JOIN c b ON a.dim = b.dim AND a.label < b.label
      GROUP BY a.label, b.label)
    SELECT label_a, label_b, dot / (sqrt(na) * sqrt(nb)) AS cosine
    FROM p ORDER BY label_a, label_b
    """,
)
def q_xy_emb_centroids(spark, sf_dir):
    """Distributed mean-pooling of embeddings per label + pairwise centroid
    cosine — the cluster-audit primitive SemDeDup-style curation
    (Abbas et al. 2023, public) runs after assignment: how separated are
    the groups we just formed?

    Scale shape: ``posexplode`` widens rows by the (fixed) dimension only —
    a narrow map — and the mean reduces on ``(label, dim)``, map-side
    combinable, into a centroid table of ``labels x dims`` cells that is
    broadcast-tiny REGARDLESS of corpus size; the pairwise cosine is then a
    self-join of that tiny table on ``dim``. No vector ever collects to the
    driver and no array is reassembled — the dot/norm sums consume the
    (label, dim, mean) rows directly.
    """
    e = read_table(spark, sf_dir, "embeddings").select(
        "label", F.posexplode("embedding").alias("pos", "val")
    ).select("label", (F.col("pos") + 1).alias("dim"), F.col("val").cast("double").alias("val"))
    c = e.groupBy("label", "dim").agg(F.avg("val").alias("m"))
    a = c.select(
        F.col("label").alias("label_a"), "dim", F.col("m").alias("ma")
    )
    b = c.select(
        F.col("label").alias("label_b"), "dim", F.col("m").alias("mb")
    )
    p = (
        a.join(b, "dim")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.sum(F.col("ma") * F.col("mb")).alias("dot"),
            F.sum(F.col("ma") * F.col("ma")).alias("na"),
            F.sum(F.col("mb") * F.col("mb")).alias("nb"),
        )
    )
    return p.select(
        "label_a",
        "label_b",
        (F.col("dot") / (F.sqrt("na") * F.sqrt("nb"))).alias("cosine"),
    ).orderBy("label_a", "label_b")


# ---------------------------------------------------------------------------
# Z-order (Morton) layout clustering
# ---------------------------------------------------------------------------

#: Bits per dimension interleaved into the Morton code (8 -> 16-bit z).
ZBITS = 8


def _zorder_sql(x: str, y: str) -> str:
    """DuckDB Morton interleave of two ``ZBITS``-bit values."""
    terms = []
    for i in range(ZBITS):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


def _zorder(x, y):
    """Spark twin of :func:`_zorder_sql` — one codegen'd bit expression."""
    z = F.lit(0)
    for i in range(ZBITS):
        z = z + F.shiftleft(F.shiftright(x, i).bitwiseAND(1), 2 * i)
        z = z + F.shiftleft(F.shiftright(y, i).bitwiseAND(1), 2 * i + 1)
    return z


@query(
    "q_xz_zorder_layout",
    oracle=f"""
    WITH src AS (
      SELECT o_orderkey,
             o_custkey % 256 AS x,
             datediff('day', DATE '1970-01-01', o_orderdate::DATE) % 256 AS y
      FROM orders),
    z AS (SELECT o_orderkey, x, y, {_zorder_sql('x', 'y')} AS zval FROM src),
    f AS (SELECT *, zval >> {ZBITS} AS file_id FROM z)
    SELECT file_id, CAST(count(*) AS BIGINT) AS n,
           CAST(min(x) AS BIGINT) AS x_min, CAST(max(x) AS BIGINT) AS x_max,
           CAST(min(y) AS BIGINT) AS y_min, CAST(max(y) AS BIGINT) AS y_max
    FROM f GROUP BY file_id ORDER BY file_id
    """,
)
def q_xz_zorder_layout(spark, sf_dir):
    """Z-order (Morton) layout clustering — the lakehouse ``OPTIMIZE ZORDER
    BY (a, b)`` primitive (public: Morton 1966; Delta/Iceberg docs): bucket
    two dimensions to ``ZBITS`` bits, interleave the bits into a Morton
    code, and group rows into "files" by the code's high bits. The per-file
    min/max of BOTH dims — exactly the footer stats a scan would prune on —
    are the output: z-ordering makes both ranges narrow simultaneously,
    which neither single-column sort achieves.

    Scale shape: the Morton code is one whole-stage-codegen'd bit
    expression (no UDF, no shuffle to compute); the production layout step
    is ``repartitionByRange(zval)`` + write, one range shuffle; the stats
    query here is a map-side-combinable groupBy over 2^ZBITS file groups.
    Data skipping then prunes on both dims at 100 TB with no extra index.
    """
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_custkey") % 256).alias("x"),
        (
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
            )
            % 256
        ).cast("bigint").alias("y"),
    )
    z = o.select("x", "y", _zorder(F.col("x"), F.col("y")).alias("zval"))
    f = z.withColumn("file_id", F.shiftright("zval", ZBITS))
    return (
        f.groupBy("file_id")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.min("x").cast("bigint").alias("x_min"),
            F.max("x").cast("bigint").alias("x_max"),
            F.min("y").cast("bigint").alias("y_min"),
            F.max("y").cast("bigint").alias("y_max"),
        )
        .orderBy("file_id")
    )


# ---------------------------------------------------------------------------
# Ranking-metric evaluation (precision@k / NDCG@k)
# ---------------------------------------------------------------------------

#: Cutoff for the ranking metrics.
RANK_K = 10


@query(
    "q_y1_rank_metrics",
    oracle=f"""
    WITH pop AS (
      SELECT l_partkey, count(*) AS c FROM lineitem GROUP BY l_partkey),
    topk AS (
      SELECT l_partkey, rn FROM (
        SELECT l_partkey,
               row_number() OVER (ORDER BY c DESC, l_partkey) AS rn
        FROM pop) WHERE rn <= {RANK_K}),
    truth AS (
      SELECT DISTINCT o.o_custkey AS c_custkey, l.l_partkey
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
    ts AS (
      SELECT c_custkey, count(*) AS n_truth FROM truth GROUP BY c_custkey),
    hits AS (
      SELECT t.c_custkey, count(*) AS n_hits,
             sum(1.0 / log2(k.rn + 1)) AS dcg
      FROM truth t JOIN topk k USING (l_partkey) GROUP BY t.c_custkey)
    SELECT ts.c_custkey,
           CAST(ts.n_truth AS BIGINT) AS n_truth,
           CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           coalesce(h.n_hits, 0) / {RANK_K}.0 AS prec_at_k,
           coalesce(h.dcg, 0.0)
             / list_sum(list_transform(
                 range(1, least({RANK_K}, ts.n_truth) + 1),
                 r -> 1.0 / log2(r + 1))) AS ndcg_at_k
    FROM ts LEFT JOIN hits h USING (c_custkey)
    ORDER BY ts.c_custkey
    """,
)
def q_y1_rank_metrics(spark, sf_dir):
    """Offline ranking-metric evaluation — per-user precision@k and NDCG@k
    of a deterministic popularity recommender (global top-``RANK_K`` parts
    by order count) against each customer's actually-ordered parts. The
    SQL-expressible twin of MLlib's RankingEvaluator, value-checked per
    user; the same join-then-aggregate shape scores the W2 ALS output.

    Scale shape: the candidate ranking lives on the PART dimension (bounded;
    the global row_number window runs over per-part counts, not facts, and
    only to extract k rows); truth is one fact-fact equi-join reduced to
    distinct (cust, part) digests; the metric join broadcasts the k-row
    ranking, so the per-user aggregation is the only fact-sized shuffle.
    The IDCG denominator is a higher-order fold over ``sequence`` — pure
    codegen, no UDF.
    """
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    pop = li.groupBy("l_partkey").agg(F.count("*").alias("c"))
    w = Window.orderBy(F.desc("c"), F.asc("l_partkey"))
    topk = (
        pop.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= RANK_K)
        .select("l_partkey", "rn")
    )
    truth = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c_custkey"), "l_partkey")
        .distinct()
    )
    ts = truth.groupBy("c_custkey").agg(F.count("*").alias("n_truth"))
    hits = (
        truth.join(F.broadcast(topk), "l_partkey")
        .groupBy("c_custkey")
        .agg(
            F.count("*").alias("n_hits"),
            F.sum(1.0 / F.log2(F.col("rn") + 1)).alias("dcg"),
        )
    )
    idcg = F.aggregate(
        F.sequence(F.lit(1), F.least(F.lit(RANK_K), F.col("n_truth"))),
        F.lit(0.0),
        lambda acc, r: acc + 1.0 / F.log2(r.cast("double") + 1),
    )
    return (
        ts.join(hits, "c_custkey", "left")
        .select(
            "c_custkey",
            F.col("n_truth").cast("bigint").alias("n_truth"),
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) / float(RANK_K)).alias("prec_at_k"),
            (F.coalesce("dcg", F.lit(0.0)) / idcg).alias("ndcg_at_k"),
        )
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# BPE merge-pair counting (one vocabulary-induction step)
# ---------------------------------------------------------------------------

#: Merge candidates reported per step (by weight desc, pair asc).
BPE_TOP = 20


@query(
    "q_y2_bpe_merge_step",
    oracle=rf"""
    WITH words AS (
      SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                x -> x <> '')) AS w
      FROM documents),
    freq AS (SELECT w, count(*) AS f FROM words GROUP BY w),
    pairs AS (
      SELECT substr(w, i, 1) || '+' || substr(w, i + 1, 1) AS pair, f
      FROM freq, LATERAL (
        SELECT unnest(range(1, length(w))) AS i) u
      WHERE length(w) >= 2),
    agg AS (SELECT pair, sum(f) AS weight FROM pairs GROUP BY pair)
    SELECT pair, CAST(weight AS BIGINT) AS weight
    FROM agg ORDER BY weight DESC, pair LIMIT {BPE_TOP}
    """,
)
def q_y2_bpe_merge_step(spark, sf_dir):
    """One BPE vocabulary-induction step (Sennrich et al. 2016, public):
    count adjacent symbol pairs across the corpus, weighted by word
    frequency, and report the top merge candidates — the inner loop of BPE
    tokenizer training, run here at character grain over raw words.

    Scale shape: word frequencies reduce FIRST (map-side combinable), so
    the pair explosion runs over the *vocabulary* (bounded, Heaps' law),
    not the corpus — at 100 TB the corpus-sized stage is the word count
    alone, and everything after operates on vocab-sized data. The pair
    expansion is ``sequence`` + ``substring`` — pure codegen, no UDF.
    Repeating the step after applying the winning merge (re-tokenize,
    recount) is the full training loop; each iteration is this same plan.
    """
    d = spread(read_table(spark, sf_dir, "documents")).select("doc_id", "text")
    freq = (
        d.select(F.explode(TXT.tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("f"))
        .filter(F.length("w") >= 2)
    )
    pairs = freq.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.concat(
                    F.col("w").substr(i, F.lit(1)),
                    F.lit("+"),
                    F.col("w").substr(i + 1, F.lit(1)),
                ),
            )
        ).alias("pair"),
        "f",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("f").cast("bigint").alias("weight"))
        .orderBy(F.desc("weight"), F.asc("pair"))
        .limit(BPE_TOP)
    )


# ---------------------------------------------------------------------------
# Windowed co-occurrence + PMI
# ---------------------------------------------------------------------------

#: Co-occurrence window (token distance) and min pair count reported.
PMI_WINDOW = 2
PMI_MIN_COUNT = 5


@query(
    "q_y3_pmi_cooccur",
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
    tot AS (SELECT count(*) AS t_total FROM pos),
    uni AS (SELECT tok, count(*) AS c FROM pos GROUP BY tok),
    co AS (
      SELECT least(a.tok, b.tok) AS w_a, greatest(a.tok, b.tok) AS w_b,
             count(*) AS c_ab
      FROM pos a
      JOIN pos b
        ON a.doc_id = b.doc_id
       AND b.p BETWEEN a.p + 1 AND a.p + {PMI_WINDOW}
      GROUP BY 1, 2),
    ptot AS (SELECT sum(c_ab) AS p_total FROM co)
    SELECT co.w_a, co.w_b, CAST(co.c_ab AS BIGINT) AS c_ab,
           -- ln, not log: DuckDB's log() is base 10, Spark's is natural
           ln((co.c_ab / ptot.p_total)
              / ((ua.c / tot.t_total) * (ub.c / tot.t_total))) AS pmi
    FROM co
    CROSS JOIN ptot CROSS JOIN tot
    JOIN uni ua ON ua.tok = co.w_a
    JOIN uni ub ON ub.tok = co.w_b
    WHERE co.c_ab >= {PMI_MIN_COUNT}
    ORDER BY co.w_a, co.w_b
    """,
)
def q_y3_pmi_cooccur(spark, sf_dir):
    """Windowed co-occurrence counts + pointwise mutual information (Church
    & Hanks 1990, public) — the corpus-association primitive behind
    collocation mining and word-vector objectives: for token pairs within
    ``PMI_WINDOW`` positions, PMI = log(p(a,b) / (p(a) p(b))).

    Scale shape: the pair generation is an EQUI-join on ``(doc_id,
    position)`` after exploding each position into its <= PMI_WINDOW
    forward offsets — no theta-join, no per-doc cross product; co-counts
    and unigram counts are map-side-combinable aggregations on token
    digests. The totals are single scalars broadcast into the final
    projection. Output is threshold-filtered and ordered by the token pair
    (never by the float PMI), so engine agreement is exact.
    """
    d = spread(read_table(spark, sf_dir, "documents")).select("doc_id", "text")
    pos = d.select(
        "doc_id", F.posexplode(TXT.tokens("text")).alias("p0", "tok")
    ).select("doc_id", (F.col("p0") + 1).alias("p"), "tok")
    uni = pos.groupBy("tok").agg(F.count("*").alias("c"))
    tot = pos.agg(F.count("*").alias("t_total"))
    offs = pos.select(
        "doc_id",
        "tok",
        F.explode(
            F.sequence(F.col("p") + 1, F.col("p") + PMI_WINDOW)
        ).alias("p_b"),
    )
    right = pos.select(
        "doc_id", F.col("p").alias("p_b"), F.col("tok").alias("tok_b")
    )
    co = (
        offs.join(right, ["doc_id", "p_b"])
        .select(
            F.least("tok", "tok_b").alias("w_a"),
            F.greatest("tok", "tok_b").alias("w_b"),
        )
        .groupBy("w_a", "w_b")
        .agg(F.count("*").alias("c_ab"))
    )
    # p_total normalizes over ALL co-occurrences (the probability space),
    # not just the pairs that clear the reporting threshold below.
    ptot = co.agg(F.sum("c_ab").alias("p_total"))
    co = co.filter(F.col("c_ab") >= PMI_MIN_COUNT)
    ua = uni.select(F.col("tok").alias("w_a"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("tok").alias("w_b"), F.col("c").alias("c_b"))
    return (
        co.crossJoin(F.broadcast(ptot))
        .crossJoin(F.broadcast(tot))
        .join(ua, "w_a")
        .join(ub, "w_b")
        .select(
            "w_a",
            "w_b",
            F.col("c_ab").cast("bigint").alias("c_ab"),
            F.log(
                (F.col("c_ab") / F.col("p_total"))
                / ((F.col("c_a") / F.col("t_total")) * (F.col("c_b") / F.col("t_total")))
            ).alias("pmi"),
        )
        .orderBy("w_a", "w_b")
    )


# ---------------------------------------------------------------------------
# Data-quality expectation suite (Deequ-style)
# ---------------------------------------------------------------------------

#: Discount conformance bound — deliberately tighter than the generator's
#: actual [0, 0.1] range so the range check reports real violations.
DQ_DISCOUNT_MAX = 0.08

_DQ_FP_SQL = "md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))"


@query(
    "q_y4_expectations",
    oracle=f"""
    WITH o AS (
      SELECT count(*) AS n,
             sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS nulls,
             count(*) - count(DISTINCT o_orderkey) AS dup_keys,
             sum(CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P')
                      THEN 1 ELSE 0 END) AS bad_status
      FROM orders),
    l AS (
      SELECT count(*) AS n,
             sum(CASE WHEN l_discount < 0 OR l_discount > {DQ_DISCOUNT_MAX}
                      THEN 1 ELSE 0 END) AS bad_disc
      FROM lineitem),
    d AS (
      SELECT count(*) AS n,
             count(*) - count(DISTINCT {_DQ_FP_SQL}) AS dup_fp
      FROM documents),
    fk_l AS (
      SELECT (SELECT count(*) FROM lineitem) AS n, count(*) AS orphans
      FROM lineitem li ANTI JOIN orders oo ON li.l_orderkey = oo.o_orderkey),
    fk_o AS (
      SELECT (SELECT count(*) FROM orders) AS n, count(*) AS orphans
      FROM orders oo ANTI JOIN customer c ON oo.o_custkey = c.c_custkey),
    checks AS (
      SELECT 'accepted_values' AS chk, 'orders.o_orderstatus' AS target,
             n, bad_status AS n_violations FROM o
      UNION ALL
      SELECT 'fk', 'lineitem.l_orderkey->orders', n, orphans FROM fk_l
      UNION ALL
      SELECT 'fk', 'orders.o_custkey->customer', n, orphans FROM fk_o
      UNION ALL
      SELECT 'not_null', 'orders.o_custkey', n, nulls FROM o
      UNION ALL
      SELECT 'range', 'lineitem.l_discount', n, bad_disc FROM l
      UNION ALL
      SELECT 'unique', 'documents.fingerprint', n, dup_fp FROM d
      UNION ALL
      SELECT 'unique', 'orders.o_orderkey', n, dup_keys FROM o)
    SELECT chk, target, CAST(n AS BIGINT) AS n_rows,
           CAST(n_violations AS BIGINT) AS n_violations,
           CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS BIGINT)
             AS passed
    FROM checks ORDER BY chk, target
    """,
)
def q_y4_expectations(spark, sf_dir):
    """Data-quality expectation suite (Deequ/Great-Expectations shape, both
    public): declarative checks — completeness, key uniqueness, accepted
    values, numeric range, referential integrity — evaluated in bulk, one
    result row per check with row/violation counts. The range check's bound
    is deliberately tighter than the data so violations are non-zero and
    the value hash exercises a real failure path.

    Scale shape: all checks against one table fold into a SINGLE aggregate
    over a single scan (no per-check pass — the Deequ optimization);
    referential-integrity checks are anti-joins carrying key columns only.
    Every aggregate is map-side combinable; the result is seven rows
    however large the input. At 100 TB this is one pass over each fact
    table plus two digest-width anti-joins.
    """
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    cu = read_table(spark, sf_dir, "customer")
    d = read_table(spark, sf_dir, "documents")

    o_agg = o.agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_custkey").isNull().cast("long")).alias("nulls"),
        (F.count("*") - F.countDistinct("o_orderkey")).alias("dup_keys"),
        F.sum((~F.col("o_orderstatus").isin("F", "O", "P")).cast("long")).alias(
            "bad_status"
        ),
    )
    l_agg = li.agg(
        F.count("*").alias("n"),
        F.sum(
            ((F.col("l_discount") < 0) | (F.col("l_discount") > DQ_DISCOUNT_MAX)).cast(
                "long"
            )
        ).alias("bad_disc"),
    )
    d_agg = d.agg(
        F.count("*").alias("n"),
        (F.count("*") - F.countDistinct(TXT.fingerprint("text"))).alias("dup_fp"),
    )
    fk_l = li.join(o, li.l_orderkey == o.o_orderkey, "left_anti").agg(
        F.count("*").alias("orphans")
    ).crossJoin(li.agg(F.count("*").alias("n")))
    fk_o = o.join(cu, o.o_custkey == cu.c_custkey, "left_anti").agg(
        F.count("*").alias("orphans")
    ).crossJoin(o.agg(F.count("*").alias("n")))

    def row(df, chk, target, viol_col):
        return df.select(
            F.lit(chk).alias("chk"),
            F.lit(target).alias("target"),
            F.col("n").cast("bigint").alias("n_rows"),
            F.col(viol_col).cast("bigint").alias("n_violations"),
        )

    checks = (
        row(o_agg, "accepted_values", "orders.o_orderstatus", "bad_status")
        .unionByName(row(fk_l, "fk", "lineitem.l_orderkey->orders", "orphans"))
        .unionByName(row(fk_o, "fk", "orders.o_custkey->customer", "orphans"))
        .unionByName(row(o_agg, "not_null", "orders.o_custkey", "nulls"))
        .unionByName(row(l_agg, "range", "lineitem.l_discount", "bad_disc"))
        .unionByName(row(d_agg, "unique", "documents.fingerprint", "dup_fp"))
        .unionByName(row(o_agg, "unique", "orders.o_orderkey", "dup_keys"))
    )
    return checks.withColumn(
        "passed", (F.col("n_violations") == 0).cast("bigint")
    ).orderBy("chk", "target")


# ---------------------------------------------------------------------------
# Temperature-based source mixture reweighting
# ---------------------------------------------------------------------------

#: Mixture temperature (alpha) and target corpus fraction. alpha=0.3 is the
#: mC4/XLM-R published value: rare groups are upweighted toward uniform,
#: dominant groups suppressed. The mixture key is LANGUAGE (the fixture's
#: imbalanced axis — its `source` axis is exactly uniform at 25 docs each,
#: which both makes flattening vacuous and parks every per-group target on
#: the round-half boundary, where a 1-ulp engine difference flips the
#: count).
MIX_ALPHA = 0.3
MIX_TARGET_FRAC = 0.6


# Temperature-scaled language mixture: per-language keep counts from n^alpha
# weights, rounded to one integer per group before any row is gated, and keep
# sets chosen by md5 rank.
sql_query(
    "q_y5_mix_temperature",
    f"""
    WITH n AS (SELECT lang, count(*) AS n_s FROM documents GROUP BY lang),
    tot AS (SELECT sum(n_s) AS n_total, sum(pow(n_s, {MIX_ALPHA})) AS z FROM n),
    k AS (
      SELECT n.lang, n.n_s,
             least(n.n_s, CAST(round(
               pow(n.n_s, {MIX_ALPHA}) / tot.z
                 * tot.n_total * {MIX_TARGET_FRAC}, 0) AS BIGINT)) AS k_s
      FROM n CROSS JOIN tot),
    ranked AS (
      SELECT d.doc_id, d.lang, k.k_s,
             row_number() OVER (
               PARTITION BY d.lang
               ORDER BY md5(CAST(d.doc_id AS STRING)), d.doc_id) AS rnk
      FROM documents d JOIN k USING (lang))
    SELECT doc_id, lang, CAST(k_s AS BIGINT) AS k_target,
           CAST(CASE WHEN rnk <= k_s THEN 1 ELSE 0 END AS BIGINT) AS kept
    FROM ranked ORDER BY doc_id
    """,
)


# ---------------------------------------------------------------------------
# Equi-depth binning (quantile bucketizer)
# ---------------------------------------------------------------------------

#: Number of equi-depth bins (edges at i/NBINS, i = 1..NBINS-1).
NBINS = 8


@query(
    "q_y6_equidepth_bins",
    oracle=f"""
    WITH edges AS (
      SELECT quantile_disc(o_totalprice,
               [{", ".join(str(i / NBINS) for i in range(1, NBINS))}]) AS e
      FROM orders),
    binned AS (
      SELECT o.o_orderkey, o.o_totalprice,
             len(list_filter(edges.e, x -> o.o_totalprice > x)) AS bin
      FROM orders o CROSS JOIN edges)
    SELECT bin, CAST(count(*) AS BIGINT) AS n,
           min(o_totalprice) AS lo, max(o_totalprice) AS hi
    FROM binned GROUP BY bin ORDER BY bin
    """,
)
def q_y6_equidepth_bins(spark, sf_dir):
    """Equi-depth (quantile) binning — the feature-engineering bucketizer:
    split a numeric column into ``NBINS`` buckets holding ~equal row
    counts, report each bucket's population and [lo, hi] range. Both
    engines pick edges with ``percentile_disc`` (DISCRETE quantiles — the
    edges are actual data values, so engine interpolation differences
    cannot arise) and assign bins by counting edges below the value.

    Scale shape: the edges are ONE aggregate collapsing to ``NBINS - 1``
    scalars broadcast into a map-only assignment (``size(filter(...))``
    over a 7-element array — codegen, no join per edge, no global sort,
    no single-partition ntile window, which is what makes naive equi-depth
    binning scale-hostile); the per-bin stats are a map-side-combinable
    groupBy over NBINS groups. Exact ``percentile_disc`` collects the
    column inside one aggregate — this entry exists as the ORACLE FIXTURE;
    the production default at scale is ``q_yo_equidepth_approx`` (same
    plan shape, mergeable sketch edges, tolerance-tested against this
    twin).
    """
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    qs = ", ".join(
        f"percentile_disc({i / NBINS}) WITHIN GROUP (ORDER BY o_totalprice)"
        for i in range(1, NBINS)
    )
    edges = o.agg(F.expr(f"array({qs})").alias("e"))
    binned = o.crossJoin(F.broadcast(edges)).select(
        "o_totalprice",
        F.size(F.filter("e", lambda x: F.col("o_totalprice") > x)).alias("bin"),
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# Time-weighted average (TSDB primitive)
# ---------------------------------------------------------------------------

def _us(ts_col):
    """Microseconds since epoch for a (possibly TIMESTAMP_NTZ) column —
    ``unix_micros`` rejects ntz, and the ntz->tz cast shifts both operands
    of every delta identically, so durations/order keys are unaffected."""
    return F.unix_micros(ts_col.cast("timestamp"))


def time_weighted_avg(events: DataFrame) -> DataFrame:
    """LOCF time-weighted average per ``user_id`` over ``(event_id, ts,
    value)`` rows — the reusable core of ``q_y7_time_weighted_avg`` (see
    that query's docstring for semantics and the 100 TB shape).
    Hypothesis-tested against a per-row Python specification on random
    irregular series (tests/test_hypothesis_ops.py)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    iv = events.withColumn("nxt", F.lead("ts").over(w)).filter(
        F.col("nxt").isNotNull()
    )
    dur = (_us(F.col("nxt")) - _us(F.col("ts"))).alias("dur_us")
    return (
        iv.select("user_id", "value", dur)
        .groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_intervals"),
            # All-simultaneous series have zero total duration: the
            # time-weighted mean is undefined there -> NULL, not a crash
            # (hypothesis-found edge; ANSI mode raises DIVIDE_BY_ZERO).
            F.when(
                F.sum("dur_us") > 0,
                F.sum(F.col("value") * F.col("dur_us")) / F.sum("dur_us"),
            ).alias("twa"),
            F.avg("value").alias("plain_avg"),
        )
        .orderBy("user_id")
    )


@query(
    "q_y7_time_weighted_avg",
    oracle=f"""
    WITH iv AS (
      SELECT user_id, value, ts,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
      FROM events),
    w AS (
      SELECT user_id, value,
             date_diff('microsecond', ts, nxt) AS dur_us
      FROM iv WHERE nxt IS NOT NULL)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_intervals,
           CASE WHEN sum(dur_us) > 0
                THEN sum(value * dur_us) / sum(dur_us) END AS twa,
           avg(value) AS plain_avg
    FROM w GROUP BY user_id ORDER BY user_id
    """,
)
def q_y7_time_weighted_avg(spark, sf_dir):
    """Time-weighted average per key (the TimescaleDB ``time_weight``
    primitive, public): each observation holds its value until the next
    one (LOCF), so the mean weights every value by its holding duration —
    the correct aggregate for irregularly-sampled gauges, where the plain
    ``avg`` over-counts bursts. Reported next to ``plain_avg`` so the
    fixture's irregular arrivals make the two visibly diverge.

    Determinism: the interval chain orders by ``(ts, event_id)`` — a
    two-column window ordering on both engines — so same-timestamp events
    chain identically.

    Scale shape: ONE window pass partitioned by the series key (the
    natural partitioning of any time-series store — no global sort), then
    a map-side-combinable per-key aggregate. Durations are computed in
    int64 microseconds end-to-end; the only float math is the final
    weighted ratio, stable under the driver's 6dp rounding.
    """
    e = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    return time_weighted_avg(e)


# ---------------------------------------------------------------------------
# OHLC (candlestick) aggregation
# ---------------------------------------------------------------------------

@query(
    "q_y8_ohlc",
    oracle=f"""
    WITH k AS (
      SELECT event_type, value,
             date_trunc('hour', ts) AS bucket,
             lpad(CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS VARCHAR), 20, '0') || lpad(CAST(event_id AS VARCHAR), 19, '0') AS ord
      FROM events)
    SELECT event_type, bucket,
           arg_min(value, ord) AS open,
           max(value) AS high,
           min(value) AS low,
           arg_max(value, ord) AS close,
           CAST(count(*) AS BIGINT) AS n
    FROM k GROUP BY event_type, bucket
    ORDER BY event_type, bucket
    """,
)
def q_y8_ohlc(spark, sf_dir):
    """OHLC (open/high/low/close) candlestick aggregation per series and
    time bucket — the financial/TSDB rollup: first and last value by event
    time plus the extremes, in ONE aggregate pass via ``min_by``/``max_by``
    (no window, no self-join back to the endpoints). Endpoint selection
    uses the shared fixed-width string key (``functions/ordering.py``)
    whose lexicographic order is exactly (ts, event_id) on both engines —
    no id-width or time-span overflow, unlike an integer packing.

    Scale shape: a single map-side-combinable groupBy — min_by/max_by
    partials carry one (value, key) pair per group per task, so 100 TB of
    ticks reduce to |series x buckets| rows with no shuffle of raw ticks
    beyond the one aggregation exchange. The hour bucket comes from
    ``date_trunc``, a codegen'd expression; sub-bucket ordering never
    materializes.
    """
    e = read_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts", "value"
    )
    ord_key = ORD.ord_key(F.col("ts"), F.col("event_id")).alias("ord")
    k = e.select(
        "event_type", "value", F.date_trunc("hour", "ts").alias("bucket"), ord_key
    )
    return (
        k.groupBy("event_type", "bucket")
        .agg(
            F.min_by("value", "ord").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", "ord").alias("close"),
            F.count("*").cast("bigint").alias("n"),
        )
        .orderBy("event_type", "bucket")
    )


# ---------------------------------------------------------------------------
# Bitmap-index distinct counting
# ---------------------------------------------------------------------------

#: Bits per bitmap word. 63, not 64 — DuckDB range-checks ``1 << 63`` as a
#: signed overflow, and sign-bit-free words keep every intermediate
#: comparable across engines.
BITMAP_BITS = 63


@query(
    "q_y9_bitmap_distinct",
    oracle=f"""
    WITH words AS (
      SELECT event_type,
             user_id // {BITMAP_BITS} AS word_id,
             bit_or(CAST(1 AS BIGINT) << CAST(user_id % {BITMAP_BITS} AS INT))
               AS word
      FROM events GROUP BY event_type, user_id // {BITMAP_BITS}),
    bm AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_words,
             CAST(sum(bit_count(word)) AS BIGINT) AS bitmap_distinct
      FROM words GROUP BY event_type),
    exact AS (
      SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
      FROM events GROUP BY event_type)
    SELECT event_type, n_words, bitmap_distinct, exact_distinct
    FROM bm JOIN exact USING (event_type)
    ORDER BY event_type
    """,
)
def q_y9_bitmap_distinct(spark, sf_dir):
    """Bitmap-index distinct counting (the Druid/ClickHouse bitmap-aggregate
    pattern, public; dense-word equivalent of Roaring, Chambi et al. 2016):
    users fold into fixed ``BITMAP_BITS``-bit words via ``bit_or(1 << (id
    mod w))`` keyed by ``id div w``; the distinct count is the popcount sum.
    The bitmap IS the reusable artifact: per-segment word tables OR-merge
    across segments/days without rescanning raw events — exact distincts
    under incremental maintenance, where HLL (q_a11) trades exactness for
    fixed size. Equality with ``count(DISTINCT ...)`` is value-checked.

    Scale shape: two map-side-combinable aggregations on integer digests —
    (type, word_id) then type; word count is bounded by |id space| / 63,
    not row count, so 100 TB of events reduce to a bitmap table the size
    of the id universe. No shuffle carries raw events; ``bit_or`` partials
    merge associatively exactly like the production segment merge.
    """
    e = read_table(spark, sf_dir, "events").select("event_type", "user_id")
    words = (
        e.withColumn("word_id", (F.col("user_id") / BITMAP_BITS).cast("bigint"))
        .withColumn(
            "bit",
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(user_id % {BITMAP_BITS} AS INT))"
            ),
        )
        .groupBy("event_type", "word_id")
        .agg(F.bit_or("bit").alias("word"))
    )
    bm = words.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_words"),
        F.sum(F.bit_count("word")).cast("bigint").alias("bitmap_distinct"),
    )
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_distinct")
    )
    return bm.join(exact, "event_type").orderBy("event_type")


# ---------------------------------------------------------------------------
# Chi-square test of independence
# ---------------------------------------------------------------------------

@query(
    "q_ya_chi2_independence",
    oracle="""
    WITH obs AS (
      SELECT lang, source, count(*) AS o FROM documents GROUP BY lang, source),
    rows_m AS (SELECT lang, sum(o) AS r FROM obs GROUP BY lang),
    cols_m AS (SELECT source, sum(o) AS c FROM obs GROUP BY source),
    tot AS (SELECT sum(o) AS n FROM obs),
    grid AS (
      SELECT rm.lang, cm.source, rm.r * cm.c / tot.n AS e,
             coalesce(obs.o, 0) AS o
      FROM rows_m rm CROSS JOIN cols_m cm CROSS JOIN tot
      LEFT JOIN obs ON obs.lang = rm.lang AND obs.source = cm.source)
    SELECT lang,
           CAST(sum(o) AS BIGINT) AS n_docs,
           sum((o - e) * (o - e) / e) AS chi2_contrib,
           CAST((SELECT count(*) - 1 FROM cols_m)
                * (SELECT count(*) - 1 FROM rows_m) AS BIGINT) AS dof
    FROM grid GROUP BY lang ORDER BY lang
    """,
)
def q_ya_chi2_independence(spark, sf_dir):
    """Chi-square test of independence between two categorical columns
    (Pearson 1900; the SQL twin of MLlib's ChiSquareTest): observed
    (lang x source) contingency cells vs the independence expectation
    ``row * col / n``, reported as per-lang contributions plus the shared
    degrees of freedom — summing ``chi2_contrib`` gives the statistic.
    ZERO-observed cells are materialized via the margin cross-product and
    contribute ``e`` each; dropping them (the naive groupBy-only version)
    understates the statistic.

    Scale shape: one contingency aggregation over the fact table
    (map-side combinable), then all remaining math happens on the margins
    — |langs| x |sources| cells, broadcast-sized however large the corpus;
    the margins cross-join is cell-count work, not row-count work.
    """
    d = read_table(spark, sf_dir, "documents").select("lang", "source")
    obs = d.groupBy("lang", "source").agg(F.count("*").alias("o"))
    rows_m = obs.groupBy("lang").agg(F.sum("o").alias("r"))
    cols_m = obs.groupBy("source").agg(F.sum("o").alias("c"))
    tot = obs.agg(F.sum("o").alias("n"))
    n_rows = rows_m.agg((F.count("*") - 1).alias("rm1"))
    n_cols = cols_m.agg((F.count("*") - 1).alias("cm1"))
    grid = (
        rows_m.crossJoin(F.broadcast(cols_m))
        .crossJoin(F.broadcast(tot))
        .join(obs, ["lang", "source"], "left")
        .select(
            "lang",
            (F.col("r") * F.col("c") / F.col("n")).alias("e"),
            F.coalesce("o", F.lit(0)).alias("o"),
        )
    )
    dof = n_rows.crossJoin(n_cols).select(
        (F.col("rm1") * F.col("cm1")).cast("bigint").alias("dof")
    )
    return (
        grid.groupBy("lang")
        .agg(
            F.sum("o").cast("bigint").alias("n_docs"),
            F.sum((F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e")).alias(
                "chi2_contrib"
            ),
        )
        .crossJoin(F.broadcast(dof))
        .select("lang", "n_docs", "chi2_contrib", "dof")
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Markov transition matrix over event sequences
# ---------------------------------------------------------------------------

# First-order Markov transition matrix over per-user event sequences, ordered
# by (ts, event_id) so the chains are the same on both engines.
sql_query(
    "q_yb_markov_transitions",
    f"""
    WITH seq AS (
      SELECT event_type AS a,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS b
      FROM events),
    trans AS (SELECT a, b, count(*) AS n FROM seq WHERE b IS NOT NULL GROUP BY a, b),
    outs AS (SELECT a, sum(n) AS n_out FROM trans GROUP BY a)
    SELECT t.a, t.b, CAST(t.n AS BIGINT) AS n, t.n / o.n_out AS p
    FROM trans t JOIN outs o USING (a)
    ORDER BY t.a, t.b
    """,
)


# ---------------------------------------------------------------------------
# Single-source BFS shortest path (iterative frontier expansion)
# ---------------------------------------------------------------------------

#: BFS depth. The customer-supplier bipartite graph is dense (every node
#: within ~3 hops at fixture scale), so 4 levels reach the whole component.
BFS_DEPTH = 4
BFS_SOURCE = "c:0"

_BFS_EDGES_SQL = """
      SELECT DISTINCT 'c:' || o_custkey AS u, 's:' || l_suppkey AS v
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      UNION
      SELECT DISTINCT 's:' || l_suppkey AS u, 'c:' || o_custkey AS v
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
"""


def _bfs_oracle() -> str:
    """Fixed-depth BFS unrolled as a CTE chain (the same style as the
    PageRank recurrence oracle in lakehouse.py): level k = neighbors of
    level k-1 not yet seen."""
    parts = [
        f"WITH e AS ({_BFS_EDGES_SQL}),",
        f"l0 AS (SELECT '{BFS_SOURCE}' AS node),",
    ]
    seen = "SELECT node FROM l0"
    for d in range(1, BFS_DEPTH + 1):
        parts.append(
            f"l{d} AS (SELECT DISTINCT e.v AS node FROM e "
            f"JOIN l{d - 1} ON e.u = l{d - 1}.node "
            f"WHERE e.v NOT IN ({seen})),"
        )
        seen += f" UNION SELECT node FROM l{d}"
    levels = " UNION ALL ".join(
        f"SELECT node, {d} AS dist FROM l{d}" for d in range(BFS_DEPTH + 1)
    )
    return "\n".join(parts)[:-1] + f"\nSELECT node, CAST(dist AS BIGINT) AS dist FROM ({levels}) ORDER BY dist, node"


@query("q_yc_bfs_sssp", oracle=_bfs_oracle())
def q_yc_bfs_sssp(spark, sf_dir):
    """Single-source shortest path (unweighted BFS) on the customer-supplier
    bipartite graph — the iterative-frontier graph primitive alongside
    PageRank (q_xl), connected components (q_x6), and triangles (q_xm):
    ``BFS_DEPTH`` rounds of frontier expansion, each an equi-join of the
    (broadcast-sized) frontier against the edge list plus an anti-join
    against the visited set. The oracle unrolls the same recurrence as a
    CTE chain, so every (node, dist) pair is value-checked.

    Scale shape: per round, the frontier and visited sets carry node ids
    only (digest-width); the edge list is the only big side and is probed
    via hash join with the frontier broadcast — no edge-edge self-join,
    no recursion in the engine. Rounds are bounded by graph diameter
    (O(log n) on small-world graphs); each round's output feeds the next
    without materializing paths.
    """
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    cs = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.concat(F.lit("c:"), F.col("o_custkey")).alias("cu"),
            F.concat(F.lit("s:"), F.col("l_suppkey")).alias("su"),
        )
        .distinct()
    )
    edges = (
        cs.select(F.col("cu").alias("u"), F.col("su").alias("v"))
        .unionByName(cs.select(F.col("su").alias("u"), F.col("cu").alias("v")))
        # Materialize once: every BFS round probes this same edge list, and
        # without the checkpoint each round would re-run the orders/lineitem
        # join + distinct from scratch (measured 17.8s -> ~5s at sf0.1).
        .localCheckpoint(eager=True)
    )

    def bfs_level(dist: DataFrame, d: int) -> DataFrame:
        frontier = dist.filter(F.col("dist") == d - 1).select("node")
        nxt = (
            edges.join(F.broadcast(frontier), edges.u == frontier.node)
            .select(F.col("v").alias("node"))
            .distinct()
        )
        new = nxt.join(F.broadcast(dist.select("node")), "node", "left_anti")
        return dist.unionByName(new.select("node", F.lit(d).alias("dist")))

    source = local_frame(spark, [(BFS_SOURCE, 0)], "node string, dist int")
    dist = iterate(source, bfs_level, BFS_DEPTH)
    return dist.select("node", F.col("dist").cast("bigint").alias("dist")).orderBy(
        "dist", "node"
    )


# ---------------------------------------------------------------------------
# BPE tokenizer training (iterative merge learning)
# ---------------------------------------------------------------------------

#: Merge rounds learned by the trainer query.
BPE_TRAIN_STEPS = 8


def bpe_train(docs: DataFrame) -> DataFrame:
    """Learn ``BPE_TRAIN_STEPS`` BPE merges over the ``text`` of a corpus
    (Sennrich et al. 2016, public) — the full training loop whose single step is
    ``q_y2_bpe_merge_step``: each round counts adjacent symbol pairs
    weighted by word frequency, merges the (weight desc, pair asc) argmax
    corpus-wide, and re-symbolizes.

    Returns one row per learned merge: ``(step, pair, weight)``.

    Spark shape: word frequencies reduce once up front, so every round
    operates on the VOCABULARY (Heaps-law-bounded), not the corpus. The
    merge application is a boundary-anchored ``regexp_replace`` — pure
    JVM, replicating BPE's greedy left-to-right non-overlapping scan —
    and each round collects exactly ONE row (the argmax) to the driver:
    bounded control-flow state, not data. ``localCheckpoint`` per round
    caps lineage growth exactly like the BFS/CC loops.
    """
    import re as _re

    from pyspark.sql import functions as _F

    spark = docs.sparkSession
    freq = (
        docs.select(_F.explode(TXT.tokens("text")).alias("w"))
        .groupBy("w")
        .agg(_F.count("*").alias("f"))
        .select(_F.array_join(_F.split("w", ""), " ").alias("sym"), "f")
        .localCheckpoint(eager=True)
    )
    learned: list[tuple[int, str, int]] = []
    for step in range(1, BPE_TRAIN_STEPS + 1):
        toks = _F.split("sym", " ")
        # Aggregate on the (a, b) STRUCT, never on a joined string: a
        # symbol may itself contain any delimiter character (e.g. "+"
        # after merging "+ +"), so string-encoding the pair and splitting
        # it back is ambiguous. The "a+b" form below is display-only.
        pairs = freq.select(
            _F.explode(
                _F.when(
                    _F.size(toks) >= 2,
                    _F.transform(
                        _F.sequence(_F.lit(1), _F.size(toks) - 1),
                        lambda i: _F.struct(
                            _F.element_at(toks, i).alias("a"),
                            _F.element_at(toks, i + 1).alias("b"),
                        ),
                    ),
                ).otherwise(
                    _F.array().cast("array<struct<a:string,b:string>>")
                )
            ).alias("pair"),
            "f",
        )
        top = (
            pairs.groupBy("pair.a", "pair.b")
            .agg(_F.sum("f").alias("weight"))
            .orderBy(_F.desc("weight"), _F.asc("a"), _F.asc("b"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, weight = top[0].a, top[0].b, int(top[0].weight)
        learned.append((step, f"{a}+{b}", weight))
        pattern = rf"(?<!\S){_re.escape(a)} {_re.escape(b)}(?!\S)"
        freq = freq.select(
            _F.regexp_replace("sym", pattern, a + b).alias("sym"), "f"
        ).localCheckpoint(eager=True)
    return local_frame(spark, learned, "step int, pair string, weight bigint").select(
        _F.col("step").cast("bigint").alias("step"), "pair", "weight"
    )


@query("q_yd_bpe_train", oracle=None)  # iterative: rows-only + golden test
def q_yd_bpe_train(spark, sf_dir):
    """BPE tokenizer training over the documents corpus — the iterative
    composition of ``q_y2_bpe_merge_step`` (see :func:`bpe_train`).
    Rows-only by necessity (a driver-side loop is not one SQL text); the
    golden test replays the identical greedy algorithm in pure Python and
    requires the exact merge sequence (tests/test_corpus_ops.py)."""
    return bpe_train(spread(read_table(spark, sf_dir, "documents")))


# ---------------------------------------------------------------------------
# BPE tokenizer APPLICATION (frozen merge list, corpus-scale encode)
# ---------------------------------------------------------------------------

#: The FROZEN tokenizer artifact this entry applies — a released tokenizer
#: is trained once (``bpe_train`` / q_yd is the trainer) and then applied
#: unchanged to every batch forever; retraining per corpus would change
#: token ids under the model's feet, so the apply step pins its merges as
#: a constant exactly like a production vocab file. TRAINING-CONSISTENT by
#: construction (each side of a merge is a single char or the output of an
#: EARLIER merge, and no later merge creates an earlier merge's pair): for
#: such lists one left-to-right greedy pass per merge, in order, is exactly
#: Sennrich et al. (2016)'s iterative best-pair apply — the invariant a
#: test asserts (tests/test_corpus_ops.py).
BPE_APPLY_MERGES: list[tuple[str, str]] = [
    ("t", "h"),
    ("th", "e"),
    ("i", "n"),
    ("a", "n"),
    ("an", "d"),
    ("e", "r"),
    ("o", "n"),
    ("r", "e"),
]


def bpe_apply_symbols(word) -> "F.Column":
    """Encode one (lowercase alpha) word column: ';'-joined BPE symbols
    after applying ``BPE_APPLY_MERGES`` in order.

    Each merge is ONE left-to-right greedy pass, expressed as a JVM
    higher-order ``aggregate`` over the current symbol list with a string
    accumulator: merge when the accumulator's LAST symbol equals ``a``
    (the ``;``-anchored ``endswith`` makes "…;a" unambiguous — symbols are
    alpha-only, so ';' never occurs inside one) and the next element is
    ``b``. The DuckDB oracle runs the IDENTICAL reduce (``list_reduce``
    with the same CASE), so both engines execute the same algorithm rather
    than two implementations argued equivalent."""
    def _pass(a: str, b: str):
        # Two-arg closure: PySpark derives the HOF's arity from the Python
        # signature, so the merge pair binds via an enclosing scope.
        def merge(acc, x):
            return (
                F.when(acc == "", x)
                .when(
                    ((acc == a) | acc.endswith(";" + a)) & (x == b),
                    F.concat(
                        acc.substr(F.lit(1), F.length(acc) - len(a)),
                        F.lit(a + b),
                    ),
                )
                .otherwise(F.concat(acc, F.lit(";"), x))
            )

        return merge

    w = F.col(word) if isinstance(word, str) else word
    sym = F.array_join(F.split(w, ""), ";")
    for a, b in BPE_APPLY_MERGES:
        sym = F.aggregate(F.split(sym, ";"), F.lit(""), _pass(a, b))
    return sym


def _bpe_apply_sql(word_expr: str) -> str:
    """DuckDB twin of :func:`bpe_apply_symbols`: the same per-merge greedy
    reduce, generated from the same pinned merge list."""
    sym = f"array_to_string(string_split({word_expr}, ''), ';')"
    for a, b in BPE_APPLY_MERGES:
        sym = (
            f"list_reduce(string_split({sym}, ';'), (acc, x) -> "
            f"CASE WHEN (acc = '{a}' OR ends_with(acc, ';{a}')) AND x = '{b}' "
            f"THEN substr(acc, 1, length(acc) - {len(a)}) || '{a}{b}' "
            f"ELSE acc || ';' || x END)"
        )
    return sym


@query(
    "q_ek_bpe_apply",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(
               string_split_regex(lower(trim(text)), '\\s+'),
               x -> regexp_full_match(x, '[a-z]+'))) AS w
      FROM documents),
    vocab AS (SELECT DISTINCT w FROM toks),
    enc AS (
      SELECT w, length(w) AS n_char_w,
             len(string_split({_bpe_apply_sql("w")}, ';')) AS n_sym_w
      FROM vocab)
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tok,
           CAST(sum(e.n_char_w) AS BIGINT) AS n_char,
           CAST(sum(e.n_sym_w) AS BIGINT) AS n_sym
    FROM toks t JOIN enc e USING (w)
    GROUP BY t.doc_id ORDER BY t.doc_id
    """,
)
def q_ek_bpe_apply(spark, sf_dir):
    """BPE tokenizer APPLICATION at corpus scale (round-12 verdict's named
    candidate — completes train→apply: q_yd learns merges, this entry
    encodes every document with a FROZEN merge list, the production
    semantics of a released tokenizer artifact). Per document: alpha
    token count, character count, and the post-merge symbol count — the
    numbers a token-budget planner (q_eh) consumes.

    Spark shape: the merge passes run ONCE PER DISTINCT WORD — the
    vocabulary table (Heaps-law-bounded, grows ~sqrt of corpus) is
    encoded with 8 chained JVM ``aggregate`` higher-order functions (no
    Python anywhere), then joined back to the (doc_id, word) token
    stream and partial-aggregated per doc. At 100 TB the corpus scan
    dominates and the encode cost is amortized over every occurrence of
    a word; encoding per-occurrence multiplies the merge-chain work by
    the corpus/vocab ratio. Measured A/B (BENCHNOTES.md, Round 13): the
    chain is cheap on short words, so the wall-clock crossover sits at
    ~1-2M occurrences on local[32] (3.19s vs 3.97s at 2.7M, gap widening
    monotonically with corpus growth; the tiny encode side
    auto-broadcasts, so the join back is map-side) — below that the
    plans tie; at real vocab/occurrence ratios the per-occurrence chain
    dominates far harder.

    Value check: the DuckDB oracle executes the IDENTICAL greedy reduce
    per merge (generated from the same ``BPE_APPLY_MERGES`` constant),
    so the hash match pins the exact symbol counts, not just row
    counts; a golden test additionally replays Sennrich-style iterative
    best-pair apply in pure Python and requires equality — proving the
    sequential-pass form equals true BPE for this training-consistent
    merge list."""
    toks = (
        spread(read_table(spark, sf_dir, "documents"))
        .select(
            "doc_id",
            F.explode(
                F.filter(TXT.tokens("text"), lambda t: t.rlike("^[a-z]+$"))
            ).alias("w"),
        )
    )
    vocab = toks.select("w").distinct()
    enc = vocab.select(
        "w",
        F.length("w").alias("n_char_w"),
        F.size(F.split(bpe_apply_symbols("w"), ";")).alias("n_sym_w"),
    )
    return (
        toks.join(enc, "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tok"),
            F.sum("n_char_w").cast("bigint").alias("n_char"),
            F.sum("n_sym_w").cast("bigint").alias("n_sym"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Weighted sampling without replacement (Efraimidis-Spirakis)
# ---------------------------------------------------------------------------

#: Sample size for the weighted-priority sample.
WSAMPLE_K = 50

#: Uniform-in-(0,1) from the first 8 md5 hex chars: (v + 1) / (2^32 + 1).
#: Integers <= 2^32 convert to double exactly, so both engines compute the
#: identical u before any libm call.
_WS_U_SQL = "(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 1) / 4294967297.0"


@query(
    "q_ye_weighted_sample",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, n_chars,
             pow({_WS_U_SQL}, 1.0 / n_chars) AS priority
      FROM documents)
    SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars, priority
    FROM keyed ORDER BY priority DESC, doc_id LIMIT {WSAMPLE_K}
    """,
)
def q_ye_weighted_sample(spark, sf_dir):
    """Weighted sampling without replacement (Efraimidis & Spirakis 2006,
    public): each row draws a deterministic md5-derived uniform ``u`` and
    takes priority ``u^(1/w)`` (weight = document length); the top-k
    priorities ARE a weight-proportional sample without replacement — the
    distributed one-pass answer to "sample 50 documents proportional to
    length" that needs no global weight total and no sequential reservoir.

    Determinism: u is an exactly-representable dyadic rational from md5
    bytes, so both engines call ``pow`` on identical inputs; a last-ulp
    libm difference could only reorder two priorities that are within an
    ulp of EACH OTHER — continuous-valued across documents, so the top-k
    cut is stable (contrast the exact round-half boundary designed out of
    q_y5).

    Scale shape: priorities are map-only codegen; ``ORDER BY ... LIMIT k``
    plans as TakeOrderedAndProject — per-task partial top-k then a single
    k-row merge, no global sort, no single-partition window. Weighted
    sampling over 100 TB costs one scan.
    """
    d = read_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
            "bigint"
        )
        + 1
    ) / 4294967297.0
    keyed = d.select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.pow(u, 1.0 / F.col("n_chars")).alias("priority"),
    )
    return keyed.orderBy(F.desc("priority"), F.asc("doc_id")).limit(WSAMPLE_K)


# ---------------------------------------------------------------------------
# Robust outlier detection (median / MAD, JVM-side)
# ---------------------------------------------------------------------------

#: Outlier threshold in robust sigmas (1.4826 * MAD ~ sigma for normals).
MAD_SIGMAS = 3.0


@query(
    "q_yf_robust_outliers",
    oracle=f"""
    WITH med AS (
      SELECT l_returnflag, quantile_disc(l_extendedprice, 0.5) AS med
      FROM lineitem GROUP BY l_returnflag),
    dev AS (
      SELECT l.l_returnflag, abs(l.l_extendedprice - m.med) AS adev, m.med
      FROM lineitem l JOIN med m USING (l_returnflag)),
    mad AS (
      SELECT l_returnflag, any_value(med) AS med,
             quantile_disc(adev, 0.5) AS mad
      FROM dev GROUP BY l_returnflag)
    SELECT d.l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           any_value(m.med) AS median,
           any_value(m.mad) AS mad,
           CAST(sum(CASE WHEN d.adev > {MAD_SIGMAS} * 1.4826 * m.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m USING (l_returnflag)
    GROUP BY d.l_returnflag ORDER BY d.l_returnflag
    """,
)
def q_yf_robust_outliers(spark, sf_dir):
    """Robust per-group outlier detection via median/MAD (Hampel identifier,
    public): flag values more than ``MAD_SIGMAS`` robust sigmas
    (1.4826 * MAD) from the group median — the outlier rule that, unlike
    mean/stddev z-scores, is not itself corrupted by the outliers it
    hunts. The JVM-side twin of the pandas-UDF MAD entry
    (``q_udf_grouped_mad``): ``percentile_disc`` keeps every step a
    built-in aggregate, and DISCRETE medians make both engines pick
    identical data values.

    Scale shape: two aggregate passes (median, then MAD of deviations)
    with the per-group medians broadcast back each time — group count is
    bounded, so the joins are broadcast hash probes; no window, no Python.
    The exact ``percentile_disc`` is a collect-all-values aggregate, so
    with 3 near-global groups a handful of tasks hold the whole column at
    100 TB — this entry exists as the ORACLE FIXTURE; the production
    default at scale is ``q_yn_robust_outliers_approx`` (identical plan
    with mergeable sketches, tolerance-tested against this twin).
    """
    li = read_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    med = li.groupBy("l_returnflag").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY l_extendedprice)").alias("med")
    )
    dev = li.join(F.broadcast(med), "l_returnflag").select(
        "l_returnflag",
        "med",
        F.abs(F.col("l_extendedprice") - F.col("med")).alias("adev"),
    )
    mad = dev.groupBy("l_returnflag").agg(
        F.any_value("med").alias("med"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY adev)").alias("mad"),
    )
    return (
        dev.select("l_returnflag", "adev")
        .join(F.broadcast(mad), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.any_value("med").alias("median"),
            F.any_value("mad").alias("mad"),
            F.sum(
                (F.col("adev") > MAD_SIGMAS * 1.4826 * F.col("mad")).cast("long")
            ).cast("bigint").alias("n_outliers"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Rolling 7-day distinct users (rolling DAU/WAU)
# ---------------------------------------------------------------------------

#: Rolling window width in days.
ROLL_DAYS = 7


@query(
    "q_yg_rolling_distinct",
    oracle=f"""
    WITH daily AS (
      SELECT DISTINCT event_type,
             CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
             user_id
      FROM events),
    fan AS (
      SELECT event_type, user_id, day + CAST(o AS INT) AS obs_day
      FROM daily CROSS JOIN (SELECT unnest(range({ROLL_DAYS})) AS o)),
    days AS (SELECT DISTINCT day FROM daily)
    SELECT f.event_type, f.obs_day AS day,
           CAST(count(DISTINCT f.user_id) AS BIGINT) AS users_7d
    FROM fan f JOIN days d ON f.obs_day = d.day
    GROUP BY f.event_type, f.obs_day
    ORDER BY f.event_type, day
    """,
)
def q_yg_rolling_distinct(spark, sf_dir):
    """Rolling 7-day distinct users per event type (the product-analytics
    WAU curve): for each observed day, how many distinct users acted in
    the trailing week. COUNT DISTINCT over a sliding range frame is not a
    window-function capability — the scale shape is pre-distinct then
    fan-out: reduce raw events to DISTINCT (type, day, user) first (the
    only corpus-sized aggregation), then explode each row into the <=
    ``ROLL_DAYS`` observation days it contributes to and count distinct
    per day. The fan-out multiplies the small daily-distinct table, never
    raw events — same offset-explode-then-equi-join discipline as the PMI
    pair generation (no range join).
    """
    e = read_table(spark, sf_dir, "events").select("event_type", "ts", "user_id")
    daily = e.select(
        "event_type",
        F.date_trunc("day", "ts").cast("date").alias("day"),
        "user_id",
    ).distinct()
    fan = daily.select(
        "event_type",
        "user_id",
        F.explode(
            F.sequence(F.lit(0), F.lit(ROLL_DAYS - 1))
        ).alias("o"),
        "day",
    ).select("event_type", "user_id", F.date_add("day", F.col("o")).alias("obs_day"))
    days = daily.select(F.col("day").alias("obs_day")).distinct()
    return (
        fan.join(F.broadcast(days), "obs_day")
        .groupBy("event_type", F.col("obs_day").alias("day"))
        .agg(F.countDistinct("user_id").cast("bigint").alias("users_7d"))
        .orderBy("event_type", "day")
    )


# ---------------------------------------------------------------------------
# Association rules (pairwise, SQL-expressible twin of FPGrowth's rule stage)
# ---------------------------------------------------------------------------

#: Minimum pair support (absolute basket count) for a reported rule.
RULE_MIN_COUNT = 8


# Pairwise association rules (Agrawal et al. 1993): confidence and lift for
# item pairs in >= RULE_MIN_COUNT baskets; the SQL twin of FPGrowth's rules.
sql_query(
    "q_yh_assoc_rules",
    f"""
    WITH b AS (
      SELECT DISTINCT l_orderkey, l_suppkey AS item FROM lineitem),
    n AS (SELECT count(DISTINCT l_orderkey) AS n_baskets FROM b),
    item AS (SELECT item, count(*) AS c FROM b GROUP BY item),
    pair AS (
      SELECT a.item AS x, bb.item AS y, count(*) AS c_xy
      FROM b a JOIN b bb
        ON a.l_orderkey = bb.l_orderkey AND a.item <> bb.item
      GROUP BY a.item, bb.item
      HAVING count(*) >= {RULE_MIN_COUNT})
    SELECT p.x AS antecedent, p.y AS consequent,
           CAST(p.c_xy AS BIGINT) AS n_xy,
           p.c_xy / ix.c AS confidence,
           (p.c_xy / ix.c) / (iy.c / n.n_baskets) AS lift
    FROM pair p
    JOIN item ix ON ix.item = p.x
    JOIN item iy ON iy.item = p.y
    CROSS JOIN n
    ORDER BY antecedent, consequent
    """,
)


# ---------------------------------------------------------------------------
# Two-proportion A/B z-test
# ---------------------------------------------------------------------------

# Two-proportion z-test: users split by id parity, conversion = any purchase.
sql_query(
    "q_yi_abtest_ztest",
    """
    WITH assign AS (
      SELECT user_id, user_id % 2 AS grp FROM (SELECT DISTINCT user_id FROM events)),
    conv AS (
      SELECT DISTINCT user_id FROM events
      WHERE event_type = 'purchase' AND value >= 190),
    cell AS (
      SELECT a.grp,
             count(*) AS n_users,
             sum(CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END) AS n_conv
      FROM assign a LEFT JOIN conv c ON a.user_id = c.user_id
      GROUP BY a.grp),
    wide AS (
      SELECT
        max(CASE WHEN grp = 0 THEN n_users END) AS n0,
        max(CASE WHEN grp = 0 THEN n_conv END) AS c0,
        max(CASE WHEN grp = 1 THEN n_users END) AS n1,
        max(CASE WHEN grp = 1 THEN n_conv END) AS c1
      FROM cell)
    SELECT CAST(n0 AS BIGINT) AS n_control, CAST(c0 AS BIGINT) AS conv_control,
           CAST(n1 AS BIGINT) AS n_treat, CAST(c1 AS BIGINT) AS conv_treat,
           c1 / n1 - c0 / n0 AS lift_abs,
           CASE WHEN (c0 + c1) > 0 AND (c0 + c1) < (n0 + n1)
                THEN (c1 / n1 - c0 / n0)
                     / sqrt(((c0 + c1) / (n0 + n1))
                            * (1 - (c0 + c1) / (n0 + n1))
                            * (1.0 / n0 + 1.0 / n1)) END AS z_score
    FROM wide
    """,
)


# ---------------------------------------------------------------------------
# Gini coefficient (concentration of spend)
# ---------------------------------------------------------------------------

@query(
    "q_yj_gini",
    oracle="""
    WITH spend AS (
      SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(38,6))) AS s
      FROM orders GROUP BY o_custkey),
    ranked AS (
      SELECT s, row_number() OVER (ORDER BY s, o_custkey) AS r FROM spend),
    agg AS (
      SELECT count(*) AS n, sum(s) AS total,
             sum(CAST(r AS DECIMAL(38,6)) * s) AS rs
      FROM ranked)
    SELECT CAST(n AS BIGINT) AS n_customers,
           CAST(total AS DOUBLE) AS total_spend,
           CAST((2 * rs / (n * total)) - (n + 1.0) / n AS DOUBLE) AS gini
    FROM agg
    """,
)
def q_yj_gini(spark, sf_dir):
    """Gini coefficient of per-customer spend (rank-sum identity
    G = 2*sum(r_i*s_i)/(n*sum(s)) - (n+1)/n, standard econometrics) —
    how concentrated revenue is across customers, the whale-detection
    readout. Rank ties break on customer id so both engines rank
    identically; the rank-weighted sum runs in DECIMAL so the answer is
    bit-stable under any partition order.

    Scale shape: one per-customer aggregation (map-side combinable), then
    a DISTRIBUTED global rank — range-repartition by (s, custkey), rank
    locally within each sorted partition, add broadcast per-partition
    offsets (the dense_id_dictionary recipe, w2_recommend.py:40 — an
    unpartitioned row_number window would funnel every customer through
    ONE task) — followed by one scalar aggregate. The offsets collect is
    numPartitions rows, bounded control state, not data.
    """
    o = read_table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(38,6)")).alias("s")
    )
    # Materialize the range partitioning BEFORE reading it twice: the counts
    # job below and the final aggregate must see the SAME partition
    # assignment, but RangePartitioner re-samples per execution and AQE may
    # re-coalesce an unpinned shuffle — recomputing the plan could shift rows
    # across partitions between the two jobs and silently corrupt the global
    # ranks. localCheckpoint pins the physical layout (same discipline as
    # q_yc_bfs_sssp's edge list).
    parts = (
        spend.repartitionByRange("s", "o_custkey")
        .sortWithinPartitions("s", "o_custkey")
        .localCheckpoint(eager=True)
    )
    with_pid = parts.withColumn("_pid", F.spark_partition_id())
    counts = sorted(tuple(r) for r in with_pid.groupBy("_pid").count().collect())
    offsets, acc = [], 0
    for pid, cnt in counts:
        offsets.append((pid, acc))
        acc += cnt
    offsets_df = local_frame(spark, offsets, "_pid int, _offset long")
    local_rank = F.row_number().over(
        Window.partitionBy("_pid").orderBy("s", "o_custkey")
    )
    ranked = with_pid.join(F.broadcast(offsets_df), "_pid").withColumn(
        "r", F.col("_offset") + local_rank
    )
    agg = ranked.agg(
        F.count("*").alias("n"),
        F.sum("s").alias("total"),
        F.sum(F.col("r").cast("decimal(38,6)") * F.col("s")).alias("rs"),
    )
    return agg.select(
        F.col("n").cast("bigint").alias("n_customers"),
        F.col("total").cast("double").alias("total_spend"),
        ((2 * F.col("rs") / (F.col("n") * F.col("total"))) - (F.col("n") + 1.0) / F.col("n"))
        .cast("double")
        .alias("gini"),
    )


# ---------------------------------------------------------------------------
# kNN classifier evaluation (leave-one-out, exact cosine)
# ---------------------------------------------------------------------------

#: Number of neighbors voting, and the probe subset (fixed id prefix so the
#: probe count is scale-independent and the oracle join stays tiny).
KNN_K = 5
KNN_PROBE_MAX_ID = 40


@query(
    "q_yk_knn_eval",
    oracle=f"""
    WITH probes AS (
      SELECT vec_id AS p_id, embedding AS p_vec, label AS true_label
      FROM embeddings WHERE vec_id < {KNN_PROBE_MAX_ID}),
    scored AS (
      SELECT p.p_id, p.true_label, c.label AS c_label,
             row_number() OVER (
               PARTITION BY p.p_id
               ORDER BY list_cosine_similarity(p.p_vec, c.embedding) DESC,
                        c.vec_id) AS rn
      FROM probes p JOIN embeddings c ON c.vec_id <> p.p_id),
    votes AS (
      SELECT p_id, true_label, c_label, count(*) AS n_votes
      FROM scored WHERE rn <= {KNN_K}
      GROUP BY p_id, true_label, c_label),
    pred AS (
      SELECT p_id, true_label, c_label AS pred_label, n_votes,
             row_number() OVER (PARTITION BY p_id
                                ORDER BY n_votes DESC, c_label) AS vr
      FROM votes)
    SELECT p_id, true_label, pred_label, CAST(n_votes AS BIGINT) AS n_votes,
           CAST(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END AS BIGINT)
             AS correct
    FROM pred WHERE vr = 1 ORDER BY p_id
    """,
)
def q_yk_knn_eval(spark, sf_dir):
    """Leave-one-out k-NN classifier evaluation over the embeddings table:
    each probe vector is classified by majority vote of its ``KNN_K``
    nearest neighbors (exact cosine, self excluded; vote ties break on
    label) and scored against its true label — the standard
    embedding-quality probe (Cover & Hart 1967, public), composing the
    exact-kNN join with a voting layer.

    Scale shape: the probe set is a broadcast (bounded by construction —
    evaluation probes are a sample, not the corpus), so the scoring join
    is a map-side hash probe over the candidate scan: no shuffle carries
    vectors. The per-probe top-k is a rank-filtered window on the probe
    key (WindowGroupLimit: each task keeps k candidates before the
    shuffle); votes and the argmax run on k-row groups. Cosine stays in
    one JVM-side ``aggregate``/``zip_with`` expression (functions/
    vectors.py; lambda functions are evaluated interpreted, through
    ``CodegenFallback``) — no Python, no UDF.
    """
    from ..functions import vectors as V

    emb = read_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < KNN_PROBE_MAX_ID).select(
        F.col("vec_id").alias("p_id"),
        V.as_double_array("embedding").alias("p_vec"),
        F.col("label").alias("true_label"),
    )
    cands = emb.select(
        F.col("vec_id").alias("c_id"),
        V.as_double_array("embedding").alias("c_vec"),
        F.col("label").alias("c_label"),
    )
    scored = (
        cands.join(F.broadcast(probes), F.col("c_id") != F.col("p_id"))
        .select(
            "p_id",
            "true_label",
            "c_label",
            "c_id",
            V.cosine("p_vec", "c_vec").alias("cos"),
        )
    )
    w = Window.partitionBy("p_id").orderBy(F.desc("cos"), F.asc("c_id"))
    votes = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KNN_K)
        .groupBy("p_id", "true_label", "c_label")
        .agg(F.count("*").alias("n_votes"))
    )
    vw = Window.partitionBy("p_id").orderBy(F.desc("n_votes"), F.asc("c_label"))
    return (
        votes.withColumn("vr", F.row_number().over(vw))
        .filter(F.col("vr") == 1)
        .select(
            "p_id",
            "true_label",
            F.col("c_label").alias("pred_label"),
            F.col("n_votes").cast("bigint").alias("n_votes"),
            # Compare the source column, not the same-select "pred_label"
            # alias — lateral column alias resolution is Spark >= 3.4 and
            # flag-dependent; referencing c_label is portable.
            (F.col("c_label") == F.col("true_label")).cast("bigint").alias("correct"),
        )
        .orderBy("p_id")
    )


# ---------------------------------------------------------------------------
# Distribution entropy / KL-vs-uniform (corpus mixture diagnostics)
# ---------------------------------------------------------------------------

# Shannon entropy and KL divergence from uniform over lang and source. Natural
# log on both engines (DuckDB's `log` is base 10).
sql_query(
    "q_yl_entropy",
    """
    WITH src AS (
      SELECT 'lang' AS axis, lang AS grp, count(*) AS c FROM documents GROUP BY lang
      UNION ALL
      SELECT 'source', source, count(*) FROM documents GROUP BY source),
    tot AS (SELECT axis, sum(c) AS n FROM src GROUP BY axis),
    h AS (
      SELECT s.axis, count(*) AS n_groups,
             -sum((s.c / t.n) * ln(s.c / t.n)) AS entropy
      FROM src s JOIN tot t USING (axis) GROUP BY s.axis)
    SELECT axis, CAST(n_groups AS BIGINT) AS n_groups, entropy,
           -- KL >= 0 analytically; a perfectly uniform axis computes to
           -- +/-1ulp of zero depending on summation order, and -0.0 vs 0.0
           -- breaks cross-engine value hashing -> clamp at true zero.
           greatest(0.0, ln(n_groups) - entropy) AS kl_uniform
    FROM h ORDER BY axis
    """,
)


# ---------------------------------------------------------------------------
# Vocabulary coverage curve (tokenizer-size planning)
# ---------------------------------------------------------------------------

#: Vocabulary sizes evaluated on the coverage curve.
COVERAGE_KS = [5, 10, 20, 30]


@query(
    "q_ym_vocab_coverage",
    oracle=rf"""
    WITH toks AS (
      SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                x -> x <> '')) AS term
      FROM documents),
    tf AS (SELECT term, count(*) AS c FROM toks GROUP BY term),
    tot AS (SELECT sum(c) AS n_tokens FROM tf),
    ranked AS (
      SELECT c, row_number() OVER (ORDER BY c DESC, term) AS r FROM tf),
    cum AS (
      SELECT r, sum(c) OVER (ORDER BY r) AS cum_c FROM ranked)
    SELECT cum.r AS vocab_size,
           CAST(cum.cum_c AS BIGINT) AS covered_tokens,
           cum.cum_c / tot.n_tokens AS coverage
    FROM cum CROSS JOIN tot
    WHERE cum.r IN ({", ".join(map(str, COVERAGE_KS))})
    ORDER BY vocab_size
    """,
)
def q_ym_vocab_coverage(spark, sf_dir):
    """Vocabulary coverage curve — what fraction of corpus TOKENS the top-k
    vocabulary terms cover, for the candidate sizes in ``COVERAGE_KS``:
    the tokenizer-budget planning readout that motivates subword methods
    (the curve's long tail is why word-level vocabularies lose, Sennrich
    2016) and pairs with the BPE trainer (q_yd).

    Scale shape: the corpus-sized stage is ONE term count (map-side
    combinable); ranking and the running sum operate on the VOCABULARY
    (Heaps-law-bounded — the same small-table window argument as the
    popularity ranking in q_y1; at extreme vocabularies the distributed
    rank recipe from q_yj applies verbatim).
    """
    d = spread(read_table(spark, sf_dir, "documents")).select("doc_id", "text")
    tf = (
        d.select(F.explode(TXT.tokens("text")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("c"))
    )
    tot = tf.agg(F.sum("c").alias("n_tokens"))
    w_rank = Window.orderBy(F.desc("c"), F.asc("term"))
    w_cum = Window.orderBy("r").rowsBetween(Window.unboundedPreceding, 0)
    cum = (
        tf.withColumn("r", F.row_number().over(w_rank))
        .withColumn("cum_c", F.sum("c").over(w_cum))
        .filter(F.col("r").isin(COVERAGE_KS))
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .select(
            F.col("r").cast("bigint").alias("vocab_size"),
            F.col("cum_c").cast("bigint").alias("covered_tokens"),
            (F.col("cum_c") / F.col("n_tokens")).alias("coverage"),
        )
        .orderBy("vocab_size")
    )


# ---------------------------------------------------------------------------
# Mergeable-sketch percentiles: the 100 TB defaults for the two exact
# percentile_disc entries above (q_yf_robust_outliers, q_y6_equidepth_bins)
# ---------------------------------------------------------------------------

#: approx_percentile accuracy. Error bound is ~1/accuracy of the RANK (the
#: Greenwald-Khanna guarantee): 1e-4 relative rank error — far tighter than
#: any downstream decision these operators feed.
PCTL_ACCURACY = 10_000


@query("q_yn_robust_outliers_approx")  # sketch-valued -> rows-only; bounds property-tested
def q_yn_robust_outliers_approx(spark, sf_dir):
    """Hampel outlier detection with **mergeable** percentile sketches — the
    scale DEFAULT for robust outlier hunting; ``q_yf_robust_outliers`` is
    the exact ``percentile_disc`` twin kept as the oracle fixture.

    Why this is the default: ``percentile_disc`` is a collect-all-values
    aggregate — with 3 near-global groups, 3 tasks each hold and sort an
    entire column's partition of the corpus at 100 TB. ``approx_percentile``
    (Greenwald-Khanna) is a bounded-size MERGEABLE sketch: every partition
    contributes a partial (map-side combine), the merge is sketch-sized,
    and no task ever materializes the column. Same plan shape otherwise
    (two aggregate passes with the per-group scalars broadcast back);
    rank error <= 1/``PCTL_ACCURACY``, asserted vs the exact twin in
    tests/test_properties.py.
    """
    li = read_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    med = li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", 0.5, PCTL_ACCURACY).alias("med")
    )
    dev = li.join(F.broadcast(med), "l_returnflag").select(
        "l_returnflag",
        "med",
        F.abs(F.col("l_extendedprice") - F.col("med")).alias("adev"),
    )
    mad = dev.groupBy("l_returnflag").agg(
        F.any_value("med").alias("med"),
        F.percentile_approx("adev", 0.5, PCTL_ACCURACY).alias("mad"),
    )
    return (
        dev.select("l_returnflag", "adev")
        .join(F.broadcast(mad), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.any_value("med").alias("median"),
            F.any_value("mad").alias("mad"),
            F.sum(
                (F.col("adev") > MAD_SIGMAS * 1.4826 * F.col("mad")).cast("long")
            ).cast("bigint").alias("n_outliers"),
        )
        .orderBy("l_returnflag")
    )


@query("q_yo_equidepth_approx")  # sketch-valued -> rows-only; bounds property-tested
def q_yo_equidepth_approx(spark, sf_dir):
    """Equi-depth binning with a **mergeable** quantile sketch — the scale
    DEFAULT; ``q_y6_equidepth_bins`` is the exact ``percentile_disc`` twin
    kept as the oracle fixture.

    ``approx_percentile`` takes the edge computation from a single
    collect-the-column aggregate to a map-side-combinable sketch merge
    (see q_yn's docstring); the assignment stays the same broadcast
    map-only ``size(filter(...))`` — no join per edge, no global sort.
    Per-bin populations are asserted within sketch tolerance of the exact
    twin's in tests/test_properties.py.
    """
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    edges = o.agg(
        F.percentile_approx(
            "o_totalprice",
            [i / NBINS for i in range(1, NBINS)],
            PCTL_ACCURACY,
        ).alias("e")
    )
    binned = o.crossJoin(F.broadcast(edges)).select(
        "o_totalprice",
        F.size(F.filter("e", lambda x: F.col("o_totalprice") > x)).alias("bin"),
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# Skyline / Pareto frontier (distributed 2-D dominance)
# ---------------------------------------------------------------------------

@query(
    "q_yp_skyline",
    oracle="""
    SELECT p_partkey, p_retailprice, CAST(p_size AS INT) AS p_size
    FROM part p
    WHERE NOT EXISTS (
      SELECT 1 FROM part q
      WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
        AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
    ORDER BY p_partkey
    """,
)
def q_yp_skyline(spark, sf_dir):
    """Pareto frontier (skyline) of parts: minimize price, maximize size —
    keep every part not DOMINATED by another (someone cheaper-or-equal and
    bigger-or-equal, strictly better on at least one axis). The
    multi-objective shortlist operator (Borzsony/Kossmann/Stocker, "The
    Skyline Operator", ICDE 2001 — public).

    Scale shape: the naive formulation is the oracle's O(n^2) NOT EXISTS —
    useless at scale. For 2-D, dominance collapses to a PREFIX-MAX scan:
    sort by price; a part survives iff no strictly-cheaper part has size
    >= its size AND no equal-price part has size > its size. That is (a)
    one per-price aggregate (map-side combinable), (b) a DISTRIBUTED
    running max over price order — range-repartition, per-partition
    window, broadcast per-partition prefix maxima (the q_yj_gini rank
    recipe; the partitioned frame is localCheckpoint-pinned so the offsets
    job and the final join see the same layout), and (c) one equi-joined
    filter pass back against part, left UN-hinted: the per-price frame
    has one row per distinct price — linear in |part| for TPC-H — so AQE
    decides broadcast-vs-shuffle from observed size instead of a hint
    that would force an unbounded broadcast at scale. No O(n^2) anywhere;
    shuffles carry (price, size) pairs only.
    """
    p = read_table(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", F.col("p_size").cast("int").alias("p_size")
    )
    per_price = p.groupBy("p_retailprice").agg(F.max("p_size").alias("mx"))
    parts = (
        per_price.repartitionByRange("p_retailprice")
        .sortWithinPartitions("p_retailprice")
        .localCheckpoint(eager=True)  # pin layout: offsets job + final read
    )
    with_pid = parts.withColumn("_pid", F.spark_partition_id())
    pmax = sorted(
        tuple(r) for r in with_pid.groupBy("_pid").agg(F.max("mx").alias("m")).collect()
    )
    prior, run = [], None
    for pid, m in pmax:
        prior.append((pid, run))
        run = m if run is None else max(run, m)
    prior_df = local_frame(spark, prior, "_pid int, _prior int")
    w = Window.partitionBy("_pid").orderBy("p_retailprice").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked = (
        with_pid.join(F.broadcast(prior_df), "_pid")
        .withColumn(
            "strict_prev", F.greatest(F.max("mx").over(w), F.col("_prior"))
        )
        .select("p_retailprice", "mx", "strict_prev")
    )
    # No broadcast hint on `ranked`: it has one row per DISTINCT retail
    # price, which for TPC-H part grows linearly with |part| (retail price
    # is a function of partkey) — a forced broadcast would OOM executors at
    # 100×. The equi-join is correct shuffled; AQE picks broadcast at small
    # scale on observed size and falls back to shuffle when the side grows.
    return (
        p.join(ranked, "p_retailprice")
        .filter(
            (F.col("strict_prev").isNull() | (F.col("strict_prev") < F.col("p_size")))
            & (F.col("mx") <= F.col("p_size"))
        )
        .select("p_partkey", "p_retailprice", "p_size")
        .orderBy("p_partkey")
    )


# ---------------------------------------------------------------------------
# Bloom-filter pre-pruned semi join (explicit runtime filter)
# ---------------------------------------------------------------------------

#: Bloom geometry: 256 bits as 4 longs, 3 md5-derived probes per key.
BLOOM_WORDS = 4
BLOOM_BITS = BLOOM_WORDS * 64
BLOOM_K = 3


def _bloom_pos(key_col, i: int):
    """Bit position i (0..BLOOM_K-1) for a key: first 8 md5 hex chars as an
    int, mod the bitmap size — identical bytes on any engine."""
    return (
        F.conv(
            F.substring(F.md5(F.concat_ws("|", F.lit(str(i)), key_col.cast("string"))), 1, 8),
            16,
            10,
        ).cast("long")
        % BLOOM_BITS
    )


@query(
    "q_yq_bloom_prune_join",
    oracle="""
    SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q_yq_bloom_prune_join(spark, sf_dir):
    """Semi join with an EXPLICIT bloom-filter runtime pre-filter (the
    pattern Spark's InjectRuntimeFilter applies internally, made portable
    and visible): build a 256-bit bloom over the selective dim keys
    (negative-balance suppliers) as FOUR bit_or-aggregated longs, cross-
    join-broadcast that single row to the fact scan, drop fact rows
    failing any of the 3 md5-derived bit probes, THEN run the exact
    SHUFFLED (SHUFFLE_HASH-hinted) semi join on the survivors. False
    positives are removed by the exact join; false negatives are
    impossible (every inserted key's bits are set) — so the result equals
    the plain semi join, which is exactly what the oracle checks (Bloom
    1970, public).

    Scale shape: the bloom is O(1) bytes regardless of dim cardinality —
    at 100 TB, when the dim side is too big to broadcast as a hash set
    but its BLOOM still fits in a few KB, the pre-filter drops most fact
    rows BEFORE the shuffle the (then shuffled) exact join needs. Probes
    are pure codegen bit arithmetic (conv/shift/and) — no Python, no UDF.
    The no-false-negative property is asserted in tests/test_corpus_ops.py.
    """
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_returnflag", "l_extendedprice"
    )
    dim = (
        read_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    # pyspark's shiftleft/shiftright helpers take a literal shift count, so
    # the variable-shift bit arithmetic goes through SQL exprs on named
    # position columns (still pure codegen — no Python).
    keyed = dim
    for i in range(BLOOM_K):
        keyed = keyed.withColumn(f"p{i}", _bloom_pos(F.col("s_suppkey"), i))
    word_exprs = []
    for wi in range(BLOOM_WORDS):
        parts_ = [
            f"CASE WHEN CAST(p{i} / 64 AS INT) = {wi} "
            f"THEN shiftleft(CAST(1 AS BIGINT), CAST(p{i} % 64 AS INT)) "
            f"ELSE CAST(0 AS BIGINT) END"
            for i in range(BLOOM_K)
        ]
        word_exprs.append(F.bit_or(F.expr(" | ".join(parts_))).alias(f"w{wi}"))
    bloom = keyed.agg(*word_exprs)

    probed = li.crossJoin(F.broadcast(bloom))
    for i in range(BLOOM_K):
        probed = probed.withColumn(f"p{i}", _bloom_pos(F.col("l_suppkey"), i))
    words = " ".join(
        f"WHEN {wi} THEN w{wi}" for wi in range(BLOOM_WORDS)
    )
    hits = [
        F.expr(
            f"(shiftrightunsigned(CASE CAST(p{i} / 64 AS INT) {words} END, "
            f"CAST(p{i} % 64 AS INT)) & 1) = 1"
        )
        for i in range(BLOOM_K)
    ]
    cond = hits[0]
    for h in hits[1:]:
        cond = cond & h
    pruned = probed.filter(cond).select(
        "l_suppkey", "l_returnflag", "l_extendedprice", "w0"
    )
    # SHUFFLE_HASH, not broadcast: the operator's premise is a dim side too
    # big to broadcast as a hash set — the demonstration only holds if the
    # exact semi join actually shuffles, so the bloom pre-filter is the
    # thing that shrinks the shuffled fact side. The `+ 0 * w0` term in
    # the equi key (w0 is a bloom word: the product is always 0, and null
    # only when dim is empty — where a null key matching nothing equals
    # the plain semi join's empty result) pins that order: the key
    # expression references the bloom side of the cross join and is NOT a
    # separable conjunct, so Catalyst's PushDownLeftSemiAntiJoin — which
    # re-ordered the semi join below the probe (shuffling the UNpruned
    # fact side) under both a plain condition and a separable always-true
    # w0 term — cannot push through. Probe-below-exchange is
    # plan-asserted in tests/test_plans.py.
    return (
        pruned.join(
            dim.hint("shuffle_hash"),
            (pruned.l_suppkey + 0 * pruned.w0) == dim.s_suppkey,
            "left_semi",
        )
        .groupBy("l_returnflag")
        .agg(
            F.count("*").cast("bigint").alias("n_lines"),
            F.sum(F.col("l_extendedprice").cast("decimal(38,6)"))
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Set-similarity join with prefix filtering (PPJoin-style)
# ---------------------------------------------------------------------------

#: Jaccard threshold for the prefix-filtered similarity join. Set elements
#: are word TRIGRAM shingles: the synthetic fixture's 31-word unigram
#: vocabulary is a prefix filter's worst case (every "rare" token is still
#: near-universal, so candidates degenerate toward all-pairs — measured 148s
#: at sf0.1 on unigrams/bigrams); trigrams lift the element vocabulary to
#: ~16k-27k with dfs in single digits — the Heaps/Zipf regime the algorithm
#: targets (~2k candidates at sf0.01, ~500k at sf0.1, vs ~8M for bigrams).
SETSIM_TAU = 0.5


@query(
    "q_yr_setsim_prefix_join",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, len(toks) - 2),
               i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS gs
      FROM (SELECT doc_id,
                   list_filter(string_split_regex(lower(trim(text)), '\s+'),
                               x -> x <> '') AS toks
            FROM documents)
      WHERE len(toks) >= 3)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.gs, b.gs))::DOUBLE
                 / len(list_distinct(list_concat(a.gs, b.gs))), 6) AS jaccard
    FROM t a JOIN t b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.gs, b.gs))::DOUBLE
            / len(list_distinct(list_concat(a.gs, b.gs))) >= {SETSIM_TAU}
    ORDER BY id_a, id_b
    """,
)
def q_yr_setsim_prefix_join(spark, sf_dir):
    """All-pairs set-similarity join at Jaccard >= tau via PREFIX FILTERING
    (SSJoin/PPJoin family — Chaudhuri, Ganti & Kaushik, ICDE 2006; Xiao
    et al., WWW 2008 — public): two docs can reach tau only if they share
    an element inside their (global-frequency-ordered, rare-first) PREFIX
    of length ``n - ceil(tau*n) + 1``, so candidates are generated by an
    equi-join on PREFIX elements only and the exact Jaccard verify runs
    on candidates. UNBLOCKED — unlike ``q_ns_jaccard_pairs`` (blocked on
    source), completeness here is the prefix-filter theorem, which the
    quadratic oracle value-checks pair-for-pair.

    Scale shape: one element-frequency aggregate (map-side combinable);
    per-doc rare-first ordering is an in-row array_sort over (df,
    element) structs — no window. The candidate join carries ONLY
    (doc_id, set_size, prefix_pos, prefix_element) — arrays never enter
    the fan-out or the pair-dedup — and applies BOTH of PPJoin's
    candidate-pruning filters inside the join condition, before the two
    array re-attachment joins that dominate cost (Xiao et al. 2008 §3):
    the LENGTH filter (`tau*|a| <= |b| <= |a|/tau`, else Jaccard can't
    reach tau no matter the overlap) and the POSITIONAL filter (a match
    on prefix positions (i, j) bounds attainable overlap by
    `min(|a|-i, |b|-j)`, which must reach `ceil(tau/(1+tau)*(|a|+|b|))`
    — the overlap a tau-Jaccard pair needs). Keeping a pair when ANY
    prefix co-occurrence passes is exact: under the shared global element
    order the pair's FIRST co-occurrence has the loosest bound, so a pair
    whose every occurrence fails provably can't reach tau. The verify
    re-attaches the two ordered arrays by doc-id equi-joins (AQE turns
    these into broadcast probes while the doc-side stays small; at corpus
    scale they are plain shuffle joins moving each doc's array once per
    surviving candidate side). Rare-first ordering pushes near-universal
    elements out of every prefix, so the stopword key that explodes a
    naive token join generates no pairs.
    """
    d = spread(read_table(spark, sf_dir, "documents")).select("doc_id", "text")
    toks = d.select("doc_id", TXT.tokens("text").alias("toks")).filter(
        F.size("toks") >= 3
    )
    grams = toks.select(
        "doc_id",
        F.array_distinct(
            F.transform(
                F.slice("toks", 1, F.size("toks") - 2),
                lambda t, i: F.concat_ws(
                    " ", t, F.element_at("toks", i + 2), F.element_at("toks", i + 3)
                ),
            )
        ).alias("gs"),
    )
    g_df = (
        grams.select(F.explode("gs").alias("g"))
        .groupBy("g")
        .agg(F.count("*").alias("df"))
    )
    # `ordered` feeds the prefix stream AND both verify-side re-joins; no
    # explicit materialization — Catalyst's ReuseExchange dedupes the three
    # identical subplans (measured at sf0.1 solo: plain 24s, eager
    # localCheckpoint 35s, lazy cache 36s — both "optimizations" lose by
    # defeating exchange reuse / AQE sizing; the in-suite 68s spike is the
    # same late-suite GC artifact as q_x6, not a plan problem).
    ordered = (
        grams.select("doc_id", F.explode("gs").alias("g"))
        .join(g_df, "g")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("df", "g"))).alias("ord"))
        .select("doc_id", F.transform("ord", lambda s: s["g"]).alias("gs_ord"))
    )
    prefix_len = (
        F.size("gs_ord")
        - F.ceil(F.lit(SETSIM_TAU) * F.size("gs_ord")).cast("int")
        + 1
    )
    # slim prefix stream: (doc_id, set size, 0-based prefix position,
    # prefix element) — no arrays in the fan-out
    pfx = ordered.select(
        F.col("doc_id"),
        F.size("gs_ord").alias("sz"),
        F.posexplode(F.slice("gs_ord", 1, prefix_len)).alias("pos", "pg"),
    )
    # PPJoin candidate pruning, inside the join condition so it runs on the
    # (doc_id, sz, pos) ints during the hash-join probe — before dedup and
    # before any array moves: length filter (size ratio within [tau, 1/tau])
    # and positional filter (attainable overlap from this co-occurrence
    # onward must reach the tau-implied required overlap alpha).
    alpha = F.ceil(
        F.lit(SETSIM_TAU) / (1.0 + SETSIM_TAU)
        * (F.col("a.sz") + F.col("b.sz"))
    )
    ubound = F.least(
        F.col("a.sz") - F.col("a.pos"), F.col("b.sz") - F.col("b.pos")
    )
    cands = (
        pfx.alias("a")
        .join(
            pfx.alias("b"),
            (F.col("a.pg") == F.col("b.pg"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("b.sz") >= SETSIM_TAU * F.col("a.sz"))
            & (F.col("a.sz") >= SETSIM_TAU * F.col("b.sz"))
            & (ubound >= alpha),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    with_arrays = (
        cands.join(ordered.select(F.col("doc_id").alias("id_a"),
                                  F.col("gs_ord").alias("ta")), "id_a")
        .join(ordered.select(F.col("doc_id").alias("id_b"),
                             F.col("gs_ord").alias("tb")), "id_b")
    )
    inter = F.size(F.array_intersect("ta", "tb"))
    union = F.size(F.array_union("ta", "tb"))
    jac = inter.cast("double") / union
    return (
        with_arrays.select(
            "id_a", "id_b", F.round(jac, 6).alias("jaccard"), jac.alias("_j")
        )
        .filter(F.col("_j") >= SETSIM_TAU)
        .drop("_j")
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# Haversine nearest neighbors (geo top-k)
# ---------------------------------------------------------------------------

#: Probe point (Paris) and earth radius in km — shared with the oracle.
GEO_LAT0, GEO_LON0, GEO_R = 48.8566, 2.3522, 6371.0
GEO_K = 20


def _geo_sql(lat_expr: str, lon_expr: str) -> str:
    """Haversine distance (km) SQL — identical text for both engines."""
    return (
        f"round(2.0 * {GEO_R} * asin(sqrt("
        f"pow(sin(radians(({lat_expr}) - ({GEO_LAT0})) / 2), 2)"
        f" + cos(radians({GEO_LAT0})) * cos(radians({lat_expr}))"
        f" * pow(sin(radians(({lon_expr}) - ({GEO_LON0})) / 2), 2))), 6)"
    )


#: Deterministic synthetic coordinates from the customer key (fixture has no
#: geo columns; same arithmetic on both engines).
#: (CAST to DOUBLE: Spark parses the `100.0` literal as DECIMAL and would
#: otherwise carry decimal lat/lon through to the output schema.)
_GEO_LAT = "CAST(((c_custkey * 7919) % 17000) / 100.0 - 85.0 AS DOUBLE)"
_GEO_LON = "CAST(((c_custkey * 104729) % 36000) / 100.0 - 180.0 AS DOUBLE)"


@query(
    "q_ys_haversine_knn",
    oracle=f"""
    SELECT c_custkey, {_GEO_LAT} AS lat, {_GEO_LON} AS lon,
           {_geo_sql(_GEO_LAT, _GEO_LON)} AS dist_km
    FROM customer
    ORDER BY dist_km, c_custkey
    LIMIT {GEO_K}
    """,
)
def q_ys_haversine_knn(spark, sf_dir):
    """Geo nearest-neighbors: top-k customers by great-circle (haversine)
    distance to a probe point. The geospatial function family — radians /
    trig / spherical distance — over synthesized-but-deterministic
    coordinates, value-checked against the oracle computing the SAME
    formula text.

    Scale shape: brute-force scan + ``TakeOrderedAndProject`` (per-
    partition top-k, k-row merge on the driver — no global sort), the
    exact-kNN baseline. At 100 TB the same two-stage discipline as vector
    ANN applies: bucket by coarse geohash/S2 cell, probe only cells whose
    bounding box can beat the current k-th distance (the q_ns_ann_ivf
    recipe with cells for centroids). Distance is one codegen'd trig
    expression — no UDF.
    """
    c = read_table(spark, sf_dir, "customer").select("c_custkey")
    return (
        c.withColumn("lat", F.expr(_GEO_LAT))
        .withColumn("lon", F.expr(_GEO_LON))
        .withColumn("dist_km", F.expr(_geo_sql("lat", "lon")))
        .orderBy("dist_km", "c_custkey")
        .limit(GEO_K)
    )


# ---------------------------------------------------------------------------
# Kaplan-Meier survival curve (customer churn)
# ---------------------------------------------------------------------------

#: Customers whose LAST order lands on/after this date are right-censored
#: (still active when observation ended).
KM_CUTOFF = "2001-01-01"


# Kaplan-Meier survival of customer lifetime as exp of summed logs, with an
# explicit zero clamp (Spark's ln(0) is NULL, DuckDB's is -inf).
sql_query(
    "q_yt_survival_km",
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
      SELECT dur, count(*) AS n_all,
             sum(observed) AS n_deaths
      FROM life GROUP BY dur),
    risk AS (
      SELECT dur, n_all, n_deaths,
             (SELECT n FROM tot)
               - coalesce(sum(n_all) OVER (ORDER BY dur
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS at_risk
      FROM per_d),
    km AS (
      SELECT dur, n_deaths, at_risk,
             CASE WHEN min(1.0 - n_deaths::DOUBLE / at_risk)
                       OVER (ORDER BY dur) <= 0.0 THEN 0.0
                  ELSE exp(sum(ln(1.0 - n_deaths::DOUBLE / at_risk))
                           OVER (ORDER BY dur)) END AS s
      FROM risk)
    SELECT CAST(dur AS BIGINT) AS duration_days,
           CAST(n_deaths AS BIGINT) AS n_churned,
           CAST(at_risk AS BIGINT) AS at_risk,
           round(s, 6) AS survival
    FROM km WHERE n_deaths > 0 ORDER BY duration_days
    """,
)


# ---------------------------------------------------------------------------
# Finite-window EWMA (TSDB smoothing primitive)
# ---------------------------------------------------------------------------

#: Smoothing factor and truncation depth. The classic recursive EWMA is not
#: window-expressible; truncating at EWMA_K lags (weight (1-a)^j < 0.5% of
#: the head at j=16, a=0.3) makes it a bounded ROWS frame both engines
#: compute identically, re-normalized over the weights actually present.
EWMA_ALPHA = 0.3
EWMA_K = 16


@query(
    "q_yu_ewma",
    oracle=f"""
    WITH w AS (
      SELECT user_id, event_id, ts, value,
             list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN {EWMA_K - 1} PRECEDING
                                        AND CURRENT ROW) AS trail
      FROM events WHERE user_id IS NOT NULL)
    SELECT user_id, event_id,
           round(list_sum(list_transform(list_reverse(trail),
                   (x, i) -> x * pow(1.0 - {EWMA_ALPHA}, i - 1)))
                 / list_sum(list_transform(list_reverse(trail),
                   (x, i) -> pow(1.0 - {EWMA_ALPHA}, i - 1))), 6) AS ewma
    FROM w ORDER BY user_id, event_id
    """,
)
def q_yu_ewma(spark, sf_dir):
    """Exponentially weighted moving average per user over event time — the
    TSDB smoothing primitive (RFC-free classic; Hunter, "The
    exponentially weighted moving average", JQT 1986 — public), truncated
    at ``EWMA_K`` lags so the infinite recursion becomes a bounded ROWS
    frame: ewma_t = sum_j (1-a)^j x_(t-j) / sum_j (1-a)^j over the trail
    actually present (self-normalizing at series heads).

    Scale shape: ONE window pass with a constant-width ROWS frame
    (bounded state per row — never holds a user's whole series), then the
    weighting is a JVM-side higher-order fold over a <= K-element array
    in-row (zip_with + aggregate, evaluated interpreted through
    ``CodegenFallback``; no Python, no explode — the row count never
    multiplies). Per-user ordering ties break on event_id so both
    engines assemble identical trails.
    """
    ev = read_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(EWMA_K - 1), 0)
    )
    trail = F.reverse(F.collect_list("value").over(w))
    decay = 1.0 - EWMA_ALPHA
    wts = F.transform(trail, lambda x, i: F.pow(F.lit(decay), i.cast("double")))
    wx = F.zip_with(trail, wts, lambda x, wt: x * wt)
    ewma = F.aggregate(wx, F.lit(0.0), lambda acc, v: acc + v) / F.aggregate(
        wts, F.lit(0.0), lambda acc, v: acc + v
    )
    return (
        ev.select(
            "user_id",
            "event_id",
            F.round(ewma, 6).alias("ewma"),
        )
        .orderBy("user_id", "event_id")
    )


# ---------------------------------------------------------------------------
# ROC AUC (rank-sum / Mann-Whitney, distributed rank)
# ---------------------------------------------------------------------------

# ROC AUC via the rank-sum (Mann-Whitney U) identity; score ties break on
# event_id so both engines rank identically.
sql_query(
    "q_yv_auc",
    """
    WITH scored AS (
      SELECT value AS score,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label,
             event_id
      FROM events),
    ranked AS (
      SELECT label, row_number() OVER (ORDER BY score, event_id) AS r
      FROM scored),
    agg AS (
      SELECT sum(CASE WHEN label = 1 THEN r ELSE 0 END) AS rank_sum,
             sum(label) AS n_pos, count(*) - sum(label) AS n_neg
      FROM ranked)
    SELECT CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
           round((rank_sum - n_pos * (n_pos + 1) / 2.0)
                 / (CAST(n_pos AS DOUBLE) * n_neg), 6) AS auc
    FROM agg
    """,
)


# ---------------------------------------------------------------------------
# Winsorized statistics (robust mean via percentile clipping)
# ---------------------------------------------------------------------------

#: Winsorization tail fraction (clip below p05 / above p95).
WINSOR_P = 0.05


@query(
    "q_yw_winsorize",
    oracle=f"""
    WITH cuts AS (
      SELECT l_returnflag,
             quantile_disc(l_extendedprice, {WINSOR_P}) AS lo,
             quantile_disc(l_extendedprice, {1 - WINSOR_P}) AS hi
      FROM lineitem GROUP BY l_returnflag)
    SELECT l.l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN l_extendedprice < lo THEN 1
                         WHEN l_extendedprice > hi THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clipped,
           round(CAST(avg(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE), 6)
             AS raw_mean,
           round(CAST(avg(CAST(greatest(lo, least(hi, l_extendedprice))
                               AS DECIMAL(38,6))) AS DOUBLE), 6)
             AS winsor_mean
    FROM lineitem l JOIN cuts USING (l_returnflag)
    GROUP BY l.l_returnflag ORDER BY l.l_returnflag
    """,
)
def q_yw_winsorize(spark, sf_dir):
    """Winsorized mean per group: clip values below p05 / above p95 to the
    percentile edges, then average — the robust-statistics companion to
    the Hampel rule (q_yf): instead of FLAGGING outliers it bounds their
    influence (Tukey/Winsor, classical). Reports raw vs winsorized mean
    and how many rows were clipped. Both means average DECIMAL(38,6)-cast
    values on BOTH engines (exact sum, one double division at the end) —
    double summation order differs per engine/partitioning, the same
    reason q_a4 decimal-casts money sums and q_yx does for its averages.

    Scale shape: one percentile aggregate per group broadcast back into a
    map-only greatest/least clip, then one map-side-combinable average —
    same two-pass broadcast discipline as q_yf. Exact ``percentile_disc``
    keeps the oracle fixture; at 100 TB the mergeable approx_percentile
    swaps in exactly as in q_yn/q_yo.
    """
    li = read_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    cuts = li.groupBy("l_returnflag").agg(
        F.expr(
            f"percentile_disc({WINSOR_P}) WITHIN GROUP (ORDER BY l_extendedprice)"
        ).alias("lo"),
        F.expr(
            f"percentile_disc({1 - WINSOR_P}) WITHIN GROUP (ORDER BY l_extendedprice)"
        ).alias("hi"),
    )
    clipped = li.join(F.broadcast(cuts), "l_returnflag")
    return (
        clipped.groupBy("l_returnflag")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(
                (
                    (F.col("l_extendedprice") < F.col("lo"))
                    | (F.col("l_extendedprice") > F.col("hi"))
                ).cast("long")
            ).cast("bigint").alias("n_clipped"),
            F.round(
                F.avg(F.col("l_extendedprice").cast("decimal(38,6)")).cast("double"),
                6,
            ).alias("raw_mean"),
            F.round(
                F.avg(
                    F.greatest("lo", F.least("hi", F.col("l_extendedprice"))).cast(
                        "decimal(38,6)"
                    )
                ).cast("double"),
                6,
            ).alias("winsor_mean"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Day-of-week seasonality index (time-series decomposition readout)
# ---------------------------------------------------------------------------

@query(
    "q_yx_seasonality",
    oracle="""
    WITH base AS (
      SELECT event_type, dayofweek(CAST(ts AS TIMESTAMP)) AS dow,
             CAST(value AS DECIMAL(38,6)) AS v
      FROM events),
    per AS (
      SELECT event_type, dow, count(*) AS n,
             CAST(avg(v) AS DOUBLE) AS dow_avg
      FROM base GROUP BY event_type, dow),
    overall AS (
      SELECT event_type, CAST(avg(v) AS DOUBLE) AS all_avg
      FROM base GROUP BY event_type)
    SELECT p.event_type, CAST(p.dow AS INT) AS dow, CAST(p.n AS BIGINT) AS n,
           round(p.dow_avg, 6) AS dow_avg,
           round(p.dow_avg / o.all_avg, 6) AS seasonal_index
    FROM per p JOIN overall o USING (event_type)
    ORDER BY event_type, dow
    """,
)
def q_yx_seasonality(spark, sf_dir):
    """Day-of-week seasonal index per event type: mean value per (type,
    weekday) relative to the type's overall mean — the classical
    multiplicative seasonality readout (index > 1 = above-trend weekday).
    Means are computed over DECIMAL-cast values so both engines average
    the identical exact sum before the one double division.

    Scale shape: two map-side-combinable aggregates over the same scan
    (Catalyst reuses the exchange) joined on the 5-row type key —
    broadcast. DuckDB's dayofweek() is 0=Sunday while Spark's dayofweek()
    is 1=Sunday, so the Spark side uses ``dayofweek(ts) - 1`` to match;
    both engines index the SAME calendar days (fixture timestamps are tz-
    naive UTC on both sides).
    """
    ev = read_table(spark, sf_dir, "events").select(
        "event_type",
        (F.dayofweek("ts") - 1).cast("int").alias("dow"),
        F.col("value").cast("decimal(38,6)").alias("v"),
    )
    per = ev.groupBy("event_type", "dow").agg(
        F.count("*").cast("bigint").alias("n"),
        F.avg("v").cast("double").alias("dow_avg"),
    )
    overall = ev.groupBy("event_type").agg(
        F.avg("v").cast("double").alias("all_avg")
    )
    return (
        per.join(F.broadcast(overall), "event_type")
        .select(
            "event_type",
            "dow",
            "n",
            F.round("dow_avg", 6).alias("dow_avg"),
            F.round(F.col("dow_avg") / F.col("all_avg"), 6).alias("seasonal_index"),
        )
        .orderBy("event_type", "dow")
    )


# ---------------------------------------------------------------------------
# Q-Q decile comparison (distribution drift diagnostics)
# ---------------------------------------------------------------------------

@query(
    "q_yy_qq_deciles",
    oracle="""
    WITH a AS (
      SELECT quantile_disc(o_totalprice,
               [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS qs
      FROM orders WHERE o_orderpriority IN ('1-URGENT','2-HIGH')),
    b AS (
      SELECT quantile_disc(o_totalprice,
               [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS qs
      FROM orders WHERE o_orderpriority NOT IN ('1-URGENT','2-HIGH'))
    SELECT i AS decile, a.qs[i] AS q_urgent, b.qs[i] AS q_other,
           round(a.qs[i] / b.qs[i], 6) AS qq_ratio
    FROM a, b, unnest(range(1, 10)) t(i)
    ORDER BY decile
    """,
)
def q_yy_qq_deciles(spark, sf_dir):
    """Q-Q decile comparison between two order populations (urgent vs
    other priority): the distribution-drift diagnostic that compares
    QUANTILES pairwise instead of means — a flat qq_ratio curve means the
    populations differ only in scale/none; a tilted curve localizes WHERE
    (which decile) the distributions diverge. Discrete quantiles keep
    edges as actual data values both engines agree on.

    Scale shape: two percentile aggregates (one scan, Catalyst reuses the
    exchange) each collapsing to a 9-element array; the decile table is a
    posexplode of two broadcast 1-row frames — no join over data. The
    mergeable approx_percentile swap-in (q_yn/q_yo) applies verbatim at
    100 TB.
    """
    o = read_table(spark, sf_dir, "orders").select("o_orderpriority", "o_totalprice")
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    qs = ", ".join(
        f"percentile_disc({i / 10}) WITHIN GROUP (ORDER BY o_totalprice)"
        for i in range(1, 10)
    )
    a = o.filter(urgent).agg(F.expr(f"array({qs})").alias("qa"))
    b = o.filter(~urgent).agg(F.expr(f"array({qs})").alias("qb"))
    both = a.crossJoin(F.broadcast(b))
    return (
        both.select(F.posexplode("qa").alias("i", "q_urgent"), "qb")
        .select(
            (F.col("i") + 1).cast("bigint").alias("decile"),
            "q_urgent",
            F.expr("qb[i]").alias("q_other"),
            F.round(F.col("q_urgent") / F.expr("qb[i]"), 6).alias("qq_ratio"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# Categorical mutual information (lang ; source)
# ---------------------------------------------------------------------------

# Mutual information between lang and source, in nats. Each term is one log
# of an integer ratio; clamped at 0 against -1ulp summation noise.
sql_query(
    "q_yz_mutual_information",
    """
    WITH joint AS (
      SELECT lang, source, count(*) AS c FROM documents GROUP BY lang, source),
    tot AS (SELECT sum(c) AS n FROM joint),
    px AS (SELECT lang, sum(c) AS cx FROM joint GROUP BY lang),
    py AS (SELECT source, sum(c) AS cy FROM joint GROUP BY source),
    terms AS (
      SELECT j.c / t.n * ln((j.c * t.n)::DOUBLE / (px.cx * py.cy)) AS term
      FROM joint j CROSS JOIN tot t
      JOIN px USING (lang) JOIN py USING (source))
    SELECT CAST((SELECT n FROM tot) AS BIGINT) AS n_docs,
           CAST((SELECT count(*) FROM px) AS BIGINT) AS n_lang,
           CAST((SELECT count(*) FROM py) AS BIGINT) AS n_source,
           round(greatest(0.0, sum(term)), 6) AS mutual_information
    FROM terms
    """,
)


# ---------------------------------------------------------------------------
# CUPED-adjusted A/B metric (variance reduction via pre-period covariate)
# ---------------------------------------------------------------------------

#: Pre/post split point for the CUPED covariate (fixture spans Jan 2024).
CUPED_SPLIT = "2024-01-15"


# CUPED-adjusted A/B means (Deng et al., WSDM 2013). Moment sums are exact
# DECIMAL, so theta differs between engines only in its one division.
sql_query(
    "q_z1_abtest_cuped",
    f"""
    WITH per_user AS (
      SELECT user_id, user_id % 2 AS grp,
             sum(CASE WHEN ts <  TIMESTAMP '{CUPED_SPLIT}'
                      THEN CAST(value AS DECIMAL(38,6)) ELSE 0 END) AS x,
             sum(CASE WHEN ts >= TIMESTAMP '{CUPED_SPLIT}'
                      THEN CAST(value AS DECIMAL(38,6)) ELSE 0 END) AS y
      FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
    moments AS (
      SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x*y) AS sxy, sum(x*x) AS sxx
      FROM per_user),
    theta AS (
      SELECT n, CAST(sx AS DOUBLE)/n AS xbar,
             CAST(sxy - sx*sy/n AS DOUBLE) / CAST(sxx - sx*sx/n AS DOUBLE) AS th
      FROM moments),
    adj AS (
      SELECT p.grp,
             avg(CAST(p.y AS DOUBLE)) AS raw_mean,
             avg(CAST(p.y AS DOUBLE) - t.th * (CAST(p.x AS DOUBLE) - t.xbar))
               AS adj_mean,
             count(*) AS n_users
      FROM per_user p CROSS JOIN theta t GROUP BY p.grp)
    SELECT CAST(grp AS INT) AS grp, CAST(n_users AS BIGINT) AS n_users,
           round(raw_mean, 6) AS raw_mean, round(adj_mean, 6) AS adj_mean,
           round((SELECT th FROM theta), 6) AS theta
    FROM adj ORDER BY grp
    """,
)


# ---------------------------------------------------------------------------
# Inter-arrival burstiness (gap statistics per user)
# ---------------------------------------------------------------------------

@query(
    "q_z2_interarrival",
    oracle="""
    WITH gaps AS (
      SELECT user_id,
             epoch_us(CAST(ts AS TIMESTAMP))
               - lag(epoch_us(CAST(ts AS TIMESTAMP)))
                 OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM events WHERE user_id IS NOT NULL),
    stats AS (
      SELECT user_id, count(*) AS n_gaps,
             sum(gap_us) AS s1,
             sum(CAST(gap_us AS HUGEINT) * gap_us) AS s2
      FROM gaps WHERE gap_us IS NOT NULL GROUP BY user_id)
    SELECT user_id, CAST(n_gaps AS BIGINT) AS n_gaps,
           round(s1 / n_gaps / 1e6, 6) AS mean_gap_s,
           round(sqrt(greatest(0.0,
                 (s2 - CAST(s1 AS DOUBLE) * s1 / n_gaps) / n_gaps)) / 1e6, 6)
             AS std_gap_s,
           round(sqrt(greatest(0.0,
                 (s2 - CAST(s1 AS DOUBLE) * s1 / n_gaps) / n_gaps))
                 / nullif(s1 / n_gaps, 0), 6) AS burstiness_cv
    FROM stats ORDER BY user_id
    """,
)
def q_z2_interarrival(spark, sf_dir):
    """Inter-arrival gap statistics per user: mean/std of the gaps between
    consecutive events and their coefficient of variation — the
    burstiness readout (CV ~ 1 = Poisson-like arrivals, CV >> 1 = bursty
    sessions; Goh & Barabási 2008 — public). Gaps are exact integer
    MICROSECONDS (epoch-microsecond longs both engines agree on), so the
    moment sums s1/s2 are exact integer arithmetic; mean/std convert to
    seconds in one double step each (population std, computed from the
    two moments — no streaming variance accumulation order to diverge).

    Scale shape: one lag window per user (narrow frame, sorted once by
    the same shuffle the groupBy reuses), one map-side-combinable moment
    aggregate. No data-sized driver state.
    """
    ev = read_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gaps = ev.select(
        "user_id", (us - F.lag(us).over(w)).alias("gap_us")
    ).filter(F.col("gap_us").isNotNull())
    # gap^2 overflows int64 (multi-day gaps in microseconds square to
    # ~1e24) — widen to DECIMAL(38,0) before the product; DuckDB twin uses
    # HUGEINT. Both stay exact integers.
    gd = F.col("gap_us").cast("decimal(38,0)")
    stats = gaps.groupBy("user_id").agg(
        F.count("*").alias("n_gaps"),
        F.sum("gap_us").alias("s1"),
        F.sum(gd * F.col("gap_us")).alias("s2"),
    )
    var = (F.col("s2") - F.col("s1").cast("double") * F.col("s1") / F.col("n_gaps")) / F.col(
        "n_gaps"
    )
    std = F.sqrt(F.greatest(F.lit(0.0), var))
    mean = F.col("s1") / F.col("n_gaps")
    return (
        stats.select(
            "user_id",
            F.col("n_gaps").cast("bigint").alias("n_gaps"),
            F.round(mean / 1e6, 6).alias("mean_gap_s"),
            F.round(std / 1e6, 6).alias("std_gap_s"),
            F.round(std / F.nullif(mean, F.lit(0)), 6).alias("burstiness_cv"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# KMV distinct-count sketch (k minimum values, md5-portable, oracle-exact)
# ---------------------------------------------------------------------------


@query(
    "q_z3_kmv_distinct",
    oracle=f"""
    WITH hashed AS (
      SELECT DISTINCT md5(l_partkey::VARCHAR) AS h
      FROM lineitem),
    exact AS (SELECT count(*) AS n_exact FROM hashed),
    kmin AS (
      SELECT h, row_number() OVER (ORDER BY h) AS r FROM hashed),
    kth AS (SELECT h AS kth_hash, r AS k_actual FROM kmin
            WHERE r = (SELECT least({KMV_K}, n_exact) FROM exact))
    SELECT CAST(k_actual AS BIGINT) AS k,
           kth_hash,
           CAST(round((k_actual - 1)
                 / (CAST(('0x' || substring(kth_hash, 1, 15))::BIGINT AS DOUBLE)
                    / CAST(1152921504606846976 AS DOUBLE))) AS BIGINT)
             AS kmv_estimate,
           CAST(n_exact AS BIGINT) AS n_exact
    FROM kth CROSS JOIN exact
    """,
)
def q_z3_kmv_distinct(spark, sf_dir):
    """KMV (k-minimum-values) distinct-count sketch (Bar-Yossef et al.,
    RANDOM 2002 — public): hash every key, keep the K smallest DISTINCT
    hash values; if the k-th smallest maps to fraction u of the hash
    space, distinct ≈ (k-1)/u. Unlike the JVM-internal HLL
    (q_a6_approx_distinct, rows-only by necessity), KMV over md5 is
    ENGINE-PORTABLE — the k-th smallest hash is a deterministic value
    both engines compute bit-identically, so this sketch entry is
    hash-checked by the oracle, estimate included. u comes from the
    first 15 hex chars as a 60-bit integer over 2^60 — exact in a
    double, same literal both sides.

    Scale shape: a distinct-hash aggregate then a global k-smallest —
    TakeOrderedAndProject territory (per-partition top-k merge, k rows
    to the driver-side plan, no global sort); the sketch property that
    matters at 100 TB is MERGEABILITY (union = keep k smallest of the
    union), which the estimate-accuracy property test exercises
    (tests/test_corpus_ops.py).
    """
    li = read_table(spark, sf_dir, "lineitem").select(
        F.md5(F.col("l_partkey").cast("string")).alias("h")
    )
    hashed = li.distinct()
    n_exact = hashed.count()
    # Small-fixture guard (round-6 advice): with fewer than KMV_K distinct
    # keys both engines use k_actual = min(K, n_distinct) — the estimate is
    # then exact-ish by construction and the k-th hash still deterministic,
    # instead of the Spark side silently aggregating a short sketch while
    # the oracle's `r = K` row vanishes.
    k_actual = min(KMV_K, n_exact)
    kth = hashed.orderBy("h").limit(k_actual).agg(F.max("h").alias("kth_hash"))
    # 2^60 as an exact double; u = first 60 bits / 2^60
    space = float(1 << 60)
    u = F.conv(F.substring("kth_hash", 1, 15), 16, 10).cast("double") / F.lit(space)
    return kth.select(
        F.lit(k_actual).cast("bigint").alias("k"),
        "kth_hash",
        F.round((F.lit(k_actual) - 1) / u).cast("bigint").alias("kmv_estimate"),
        F.lit(n_exact).cast("bigint").alias("n_exact"),
    ).filter(F.col("kth_hash").isNotNull())


# ---------------------------------------------------------------------------
# Calibration curve (reliability diagram bins)
# ---------------------------------------------------------------------------

#: Number of equal-width score bins in the reliability diagram.
CALIB_BINS = 10


# Calibration (reliability) diagram: score = value / 200 (the fixture's value
# range), label = purchase event.
sql_query(
    "q_z4_calibration",
    f"""
    WITH scored AS (
      SELECT least({CALIB_BINS - 1},
                   CAST(floor(value / 200.0 * {CALIB_BINS}) AS INT)) AS bin,
             value / 200.0 AS score,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label
      FROM events WHERE value >= 0 AND value <= 200)
    SELECT CAST(bin AS INT) AS bin, CAST(count(*) AS BIGINT) AS n,
           round(avg(score), 6) AS mean_score,
           round(avg(CAST(label AS DOUBLE)), 6) AS frac_positive
    FROM scored GROUP BY bin ORDER BY bin
    """,
)


# ---------------------------------------------------------------------------
# Maximum drawdown (running-max deficit per customer)
# ---------------------------------------------------------------------------

@query(
    "q_z5_drawdown",
    oracle="""
    WITH series AS (
      SELECT o_custkey, o_orderdate, o_orderkey,
             sum(CAST(o_totalprice AS DECIMAL(38,6)))
               OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
               AS equity
      FROM orders),
    dd AS (
      SELECT o_custkey, equity,
             max(equity) OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate, o_orderkey) AS peak
      FROM series)
    SELECT o_custkey,
           CAST(count(*) AS BIGINT) AS n_points,
           CAST(max(peak - equity) AS DOUBLE) AS max_drawdown,
           CAST(max(equity) AS DOUBLE) AS final_peak
    FROM dd GROUP BY o_custkey ORDER BY o_custkey
    """,
)
def q_z5_drawdown(spark, sf_dir):
    """Maximum drawdown per customer over the cumulative order-value
    series: running peak minus current cumulative value, maximized — the
    classic risk statistic computed as two stacked windows (running sum,
    then running max) and one aggregate. With monotone non-negative
    increments the drawdown is 0 throughout (orders only add value), so
    the entry pins the WINDOW-STACKING semantics — cumulative frames
    feeding cumulative frames with decimal-exact arithmetic — rather
    than a financial story; on a signed series (returns) the same plan
    computes the real statistic.

    Scale shape: both windows share ONE per-customer sort (same
    partition key and ordering — Spark plans a single Window node), then
    a map-side-combinable aggregate. Decimal running sums keep the
    series bit-identical across engines.
    """
    o = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wcum = w.rowsBetween(Window.unboundedPreceding, 0)
    series = o.select(
        "o_custkey",
        "o_orderdate",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(38,6)")).over(wcum).alias("equity"),
    )
    dd = series.withColumn("peak", F.max("equity").over(wcum))
    return (
        dd.groupBy("o_custkey")
        .agg(
            F.count("*").cast("bigint").alias("n_points"),
            F.max(F.col("peak") - F.col("equity")).cast("double").alias("max_drawdown"),
            F.max("equity").cast("double").alias("final_peak"),
        )
        .orderBy("o_custkey")
    )


# ---------------------------------------------------------------------------
# k-core extraction (iterative peel)
# ---------------------------------------------------------------------------

#: Core order: nodes that survive iterated removal of degree-<K nodes.
KCORE_K = 4
KCORE_MOD = 100


def kcore(edges: DataFrame, k: int = KCORE_K, max_rounds: int = 50) -> DataFrame:
    """Nodes of the k-core of an undirected edge list ``(u, v)`` (Seidman,
    "Network structure and minimum degree", Social Networks 1983 —
    public): repeatedly delete nodes of degree < k until none remain; the
    surviving subgraph (unique, order-independent) is the k-core.

    Loop discipline — the PEEL pattern, distinct from the engine's other
    loops (pointer-jumping CC contracts labels, PageRank/BFS re-derive
    values; peeling REMOVES rows): each round computes degrees
    (map-side-combinable agg over 2-int rows) and drops low-degree nodes
    by anti-joining the edge list on BOTH endpoints. The low-degree count
    of the peeled list is the termination probe (one scalar per round,
    bounded control state); rounds are data-dependent but bounded by the
    peel depth (<= max node degree, in practice a handful). The loop is
    ``operators.iterate``: a peel cut short by ``max_rounds`` raises,
    because a partially-peeled edge list is not a k-core.

    Scale: per-round cost shrinks monotonically (edges only leave);
    degree agg + two broadcast-able anti joins per round, digest-free.
    """

    def low_degree(ed: DataFrame) -> DataFrame:
        deg = (
            ed.select(F.col("u").alias("node"))
            .unionByName(ed.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("deg"))
        )
        return deg.filter(F.col("deg") < k).select("node")

    def peel(ed: DataFrame, _: int) -> DataFrame:
        low = low_degree(ed)
        return (
            ed.join(low.withColumnRenamed("node", "u"), "u", "left_anti")
            .join(low.withColumnRenamed("node", "v"), "v", "left_anti")
            .select("u", "v")
        )

    ed = iterate(
        edges.localCheckpoint(eager=True),
        peel,
        max_rounds,
        lambda _, ed: low_degree(ed).count() == 0,
    )
    return (
        ed.select(F.col("u").alias("node"))
        .unionByName(ed.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("core_degree"))
    )


@query("q_z6_kcore")  # data-dependent peel rounds -> rows-only; properties tested
def q_z6_kcore(spark, sf_dir):
    """k-core (k=4) of the folded supplier→part link graph (same graph
    family as q_xl_pagerank / q_xm_triangles) — the dense-substructure
    extraction used for community cores and spam-farm detection. Rows-only
    by design: the peel's round count is data-dependent so no SQL oracle
    can unroll it; the test layer pins the two defining properties —
    every surviving node has >= k neighbors among survivors, and every
    peeled node fails that bound against the survivor set (maximality) —
    plus exactness on a hand-built graph (tests/test_corpus_ops.py).
    """
    li = read_table(spark, sf_dir, "lineitem")
    edges = (
        li.select(
            (F.col("l_suppkey") % KCORE_MOD).alias("u"),
            (F.col("l_partkey") % KCORE_MOD).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        # undirected: canonical orientation so (a,b)/(b,a) collapse
        .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
        .distinct()
    )
    return kcore(edges).orderBy("node")


# ---------------------------------------------------------------------------
# Lorenz curve (decile concentration profile — the Gini's curve)
# ---------------------------------------------------------------------------

@query(
    "q_z7_lorenz",
    oracle="""
    WITH spend AS (
      SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(38,6))) AS s
      FROM orders GROUP BY o_custkey),
    edges AS (
      SELECT quantile_disc(s, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS e,
             count(*) AS n_total, sum(s) AS s_total
      FROM spend),
    binned AS (
      SELECT len(list_filter(edges.e, x -> spend.s > x)) AS decile,
             spend.s, edges.n_total, edges.s_total
      FROM spend CROSS JOIN edges),
    per AS (
      SELECT decile, count(*) AS n, sum(s) AS s_sum,
             max(n_total) AS n_total, max(s_total) AS s_total
      FROM binned GROUP BY decile)
    SELECT CAST(decile AS INT) AS decile, CAST(n AS BIGINT) AS n_customers,
           round(CAST(sum(n) OVER w AS DOUBLE) / n_total, 6) AS cum_pop_share,
           round(CAST(sum(s_sum) OVER w AS DOUBLE) / CAST(s_total AS DOUBLE), 6)
             AS cum_spend_share
    FROM per
    WINDOW w AS (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ORDER BY decile
    """,
)
def q_z7_lorenz(spark, sf_dir):
    """Lorenz curve of customer spend at decile grain — the CURVE behind
    the Gini scalar (q_yj): cumulative population share vs cumulative
    spend share, the concentration profile that localizes WHERE
    inequality lives (whales vs long tail). Decile edges are discrete
    quantiles (engine-identical data values); spend sums are exact
    decimals; only the two final shares divide in double.

    Scale shape: one per-customer aggregate, ONE quantile aggregate
    collapsing to 9 scalars broadcast into a map-only bin assignment
    (the q_y6 equi-depth recipe — no ntile, no global sort), a 10-group
    aggregate, and cumulative windows over 10 rows.
    """
    o = read_table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(38,6)")).alias("s")
    )
    qs = ", ".join(
        f"percentile_disc({i / 10}) WITHIN GROUP (ORDER BY s)" for i in range(1, 10)
    )
    edges = spend.agg(
        F.expr(f"array({qs})").alias("e"),
        F.count("*").alias("n_total"),
        F.sum("s").alias("s_total"),
    )
    binned = spend.crossJoin(F.broadcast(edges)).select(
        F.size(F.filter("e", lambda x: F.col("s") > x)).alias("decile"),
        "s",
        "n_total",
        "s_total",
    )
    per = binned.groupBy("decile").agg(
        F.count("*").alias("n"),
        F.sum("s").alias("s_sum"),
        F.max("n_total").alias("n_total"),
        F.max("s_total").alias("s_total"),
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per.select(
            F.col("decile").cast("int").alias("decile"),
            F.col("n").cast("bigint").alias("n_customers"),
            F.round(
                F.sum("n").over(w).cast("double") / F.col("n_total"), 6
            ).alias("cum_pop_share"),
            F.round(
                F.sum("s_sum").over(w).cast("double") / F.col("s_total").cast("double"),
                6,
            ).alias("cum_spend_share"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# Benford first-digit audit (fraud/data-quality screen)
# ---------------------------------------------------------------------------

# Benford audit: first-digit frequencies of order totals (read from their
# DECIMAL(18,2) text) against log10(1 + 1/d).
sql_query(
    "q_z8_benford",
    """
    WITH digits AS (
      SELECT CAST(substring(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS STRING), 1, 1)
                  AS INT) AS d
      FROM orders WHERE o_totalprice >= 1),
    obs AS (SELECT d, count(*) AS n FROM digits GROUP BY d),
    tot AS (SELECT sum(n) AS total FROM obs)
    SELECT CAST(d AS INT) AS digit, CAST(n AS BIGINT) AS n,
           round(CAST(n AS DOUBLE) / total, 6) AS observed_p,
           round(log10(1.0 + 1.0 / d), 6) AS benford_p,
           round(CAST(n AS DOUBLE) / total - log10(1.0 + 1.0 / d), 6) AS deviation
    FROM obs CROSS JOIN tot ORDER BY digit
    """,
)


# ---------------------------------------------------------------------------
# KMV sketch set operations (union / intersection / Jaccard from sketches)
# ---------------------------------------------------------------------------

@query(
    "q_zg_kmv_setops",
    oracle=f"""
    WITH a AS (SELECT DISTINCT md5(o_custkey::VARCHAR) AS h FROM orders),
    b AS (SELECT DISTINCT md5(c_custkey::VARCHAR) AS h
          FROM customer WHERE c_acctbal > 0),
    sa AS (SELECT h FROM a ORDER BY h LIMIT {KMV_K}),
    sb AS (SELECT h FROM b ORDER BY h LIMIT {KMV_K}),
    su AS (SELECT h FROM (SELECT h FROM sa UNION SELECT h FROM sb)
           ORDER BY h LIMIT {KMV_K}),
    kth AS (SELECT max(h) AS t, count(*) AS k_u FROM su),
    common AS (
      SELECT count(*) AS c FROM sa JOIN sb USING (h) CROSS JOIN kth
      WHERE h <= t),
    est AS (
      SELECT k_u, t, c,
             (k_u - 1) / (CAST(('0x' || substring(t, 1, 15))::BIGINT AS DOUBLE)
                          / CAST(1152921504606846976 AS DOUBLE)) AS est_u
      FROM kth CROSS JOIN common),
    exact AS (
      SELECT (SELECT count(*) FROM a) AS n_a,
             (SELECT count(*) FROM b) AS n_b,
             (SELECT count(*) FROM (SELECT h FROM a UNION SELECT h FROM b))
               AS n_union,
             (SELECT count(*) FROM a JOIN b USING (h)) AS n_inter)
    SELECT CAST(k_u AS BIGINT) AS k_u,
           t AS kth_hash,
           CAST(round(est_u) AS BIGINT) AS est_union,
           CAST(round(c * est_u / k_u) AS BIGINT) AS est_inter,
           round(CAST(c AS DOUBLE) / k_u, 6) AS jaccard_est,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST(n_union AS BIGINT) AS n_union, CAST(n_inter AS BIGINT) AS n_inter
    FROM est CROSS JOIN exact
    """,
)
def q_zg_kmv_setops(spark, sf_dir):
    """KMV sketch SET OPERATIONS (Beyer et al., SIGMOD 2007 — public): from
    two independently-built k-minimum-values sketches (customers with
    orders vs positive-balance customers), estimate |A ∪ B|, |A ∩ B| and
    the Jaccard similarity WITHOUT touching the raw sets again — the
    mergeability payoff the single-set entry (q_z3) only property-tests.
    Union sketch = k smallest of the merged sketch hashes; intersection
    via the ρ = |S_A ∩ S_B ∩ S_U| / k estimator. md5 portability makes
    every step — sketch contents, threshold hash, the estimates
    themselves — bit-identical in DuckDB, so the sketch algebra is
    hash-checked, with the exact cardinalities alongside as the audit
    columns.

    Scale shape: each sketch is a distinct-hash aggregate + TakeOrdered
    top-k (k rows); everything after operates on ≤ 3k rows driver-free.
    At 100 TB the exact audit columns would be dropped and ONLY the
    sketch algebra remains — per-partition sketches OR-merge exactly like
    the bitmap entry (q_y9).
    """
    a = (
        read_table(spark, sf_dir, "orders")
        .select(F.md5(F.col("o_custkey").cast("string")).alias("h"))
        .distinct()
    )
    b = (
        read_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 0)
        .select(F.md5(F.col("c_custkey").cast("string")).alias("h"))
        .distinct()
    )
    n_a, n_b = a.count(), b.count()
    n_union = a.union(b).distinct().count()
    n_inter = a.join(b, "h").count()
    sa = a.orderBy("h").limit(KMV_K)
    sb = b.orderBy("h").limit(KMV_K)
    su = sa.union(sb).distinct().orderBy("h").limit(KMV_K)
    kth = su.agg(F.max("h").alias("t"), F.count("*").alias("k_u"))
    common = (
        sa.join(sb, "h")
        .crossJoin(F.broadcast(kth))
        .filter(F.col("h") <= F.col("t"))
        .agg(F.count("*").alias("c"))
    )
    space = float(1 << 60)
    est = kth.crossJoin(F.broadcast(common)).select(
        "k_u", "t", "c",
        (
            (F.col("k_u") - 1)
            / (F.conv(F.substring("t", 1, 15), 16, 10).cast("double") / F.lit(space))
        ).alias("est_u"),
    )
    return est.select(
        F.col("k_u").cast("bigint").alias("k_u"),
        F.col("t").alias("kth_hash"),
        F.round("est_u").cast("bigint").alias("est_union"),
        F.round(F.col("c") * F.col("est_u") / F.col("k_u")).cast("bigint").alias(
            "est_inter"
        ),
        F.round(F.col("c").cast("double") / F.col("k_u"), 6).alias("jaccard_est"),
        F.lit(n_a).cast("bigint").alias("n_a"),
        F.lit(n_b).cast("bigint").alias("n_b"),
        F.lit(n_union).cast("bigint").alias("n_union"),
        F.lit(n_inter).cast("bigint").alias("n_inter"),
    )


# ---------------------------------------------------------------------------
# Portable HyperLogLog (register-level oracle-checked)
# ---------------------------------------------------------------------------

#: Register count m = 256 (p = 8). Estimator constants are embedded as
#: arithmetic in the shared close, not pre-rounded literals.
HLL_M = 256

#: Leading-zero rank of the 54-bit suffix w (after the 6-bit register
#: index is stripped from the 60-bit md5 prefix): rho = 54 - bit_length
#: + 1, computed as a shared-text integer CASE chain — both engines
#: compare the identical BIGINT against the identical power-of-two
#: literals, so register values are bit-identical.
_HLL_RHO = (
    "(CASE "
    + " ".join(f"WHEN w >= {1 << k} THEN {54 - k}" for k in range(53, -1, -1))
    + " ELSE 55 END)"
)

#: Shared-text estimate close. s_int = sum(2^(55 - M_j)) + V * 2^55 is
#: an exact BIGINT (max ~2^63); the raw HLL estimate alpha_m * m^2 / S
#: with S = s_int / 2^55 becomes one double division of a cast integer
#: — the only float work. Small-range (V > 0, raw <= 2.5m) switches to
#: linear counting m * ln(m / V) per Flajolet et al. 2007; the ln runs
#: on a small rational and is integer-rounded, so a sub-ULP libm
#: difference cannot flip the output.
_HLL_EST = (
    "CAST(round(CASE WHEN v_empty > 0 AND"
    " (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 * 36028797018963968.0"
    " / CAST(s_int AS DOUBLE) <= 640.0"
    " THEN 256.0 * ln(256.0 / v_empty)"
    " ELSE (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 * 36028797018963968.0"
    " / CAST(s_int AS DOUBLE) END) AS BIGINT)"
)


@query(
    "q_aw_hll_distinct",
    oracle=f"""
    WITH hashed AS (
      SELECT DISTINCT event_type,
             ('0x' || substring(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
      FROM events WHERE user_id IS NOT NULL),
    split AS (
      SELECT event_type, h % {HLL_M} AS reg, h // {HLL_M} AS w FROM hashed),
    regs AS (
      SELECT event_type, reg, max({_HLL_RHO}) AS m_reg
      FROM split GROUP BY event_type, reg),
    grouped AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_regs,
             SUM(1::BIGINT << (55 - m_reg))
               + ({HLL_M} - count(*)) * (1::BIGINT << 55) AS s_int,
             {HLL_M} - CAST(count(*) AS BIGINT) AS v_empty
      FROM regs GROUP BY event_type),
    exact AS (
      SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
      FROM events WHERE user_id IS NOT NULL GROUP BY event_type)
    SELECT g.event_type, n_regs, v_empty,
           {_HLL_EST} AS hll_estimate,
           n_exact,
           round(CAST({_HLL_EST} - n_exact AS DOUBLE) / n_exact, 6) AS rel_error
    FROM grouped g JOIN exact e ON e.event_type = g.event_type
    ORDER BY g.event_type
    """,
)
def q_aw_hll_distinct(spark, sf_dir):
    """Per-group HyperLogLog distinct-count sketch (Flajolet, Fusy,
    Gandouet & Meunier, AofA 2007 — public) built from PORTABLE md5
    register arithmetic, so — unlike the JVM DataSketches twin
    (``q_a11_sketch_merge``, rows-only by necessity) — the registers,
    the empty-register count, AND the final estimate (linear-counting
    small-range correction included) are all hash-checked against the
    oracle. Complements the global KMV entry (``q_z3``): KMV keeps k
    order statistics, HLL keeps m = {HLL_M} max-rank registers — the
    sketch that wins when groups are many and memory is per-group.

    Exactness: the 60-bit md5 prefix splits into a 6-bit register index
    and 54-bit suffix with INTEGER ops (no float division of the hash);
    rank-of-leftmost-one is a shared-text integer CASE; the register sum
    is carried as the exact BIGINT sum(2^(55-M_j)) + V*2^55, making the
    closing division the only float.

    Scale shape: one distinct-hash pass (combinable), one (group,
    register) max — both map-side partial aggregates; state per group is
    {HLL_M} bytes-ish, the whole point of HLL at 100 TB (billions of
    groups x tiny registers, all mergeable). The exact-distinct audit
    join is per-group-count sized.

    Reference scope: ∅ — the reference has no sketches; north-star
    corpus-statistics surface.
    """
    ev = read_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    hashed = ev.select(
        "event_type",
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        .alias("h"),
    ).distinct()
    split = hashed.selectExpr(
        "event_type", f"h % {HLL_M} AS reg", f"h DIV {HLL_M} AS w"
    )
    regs = (
        split.select("event_type", "reg", F.expr(_HLL_RHO).alias("rho"))
        .groupBy("event_type", "reg")
        .agg(F.max("rho").alias("m_reg"))
    )
    grouped = regs.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_regs"),
        (
            F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 55 - m_reg)"))
            + (F.lit(HLL_M) - F.count("*"))
            * F.expr("shiftleft(CAST(1 AS BIGINT), 55)")
        ).alias("s_int"),
        (F.lit(HLL_M) - F.count("*")).cast("bigint").alias("v_empty"),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_exact")
    )
    return (
        grouped.join(F.broadcast(exact), "event_type")
        .selectExpr(
            "event_type",
            "n_regs",
            "v_empty",
            f"{_HLL_EST} AS hll_estimate",
            "n_exact",
            f"round(CAST({_HLL_EST} - n_exact AS DOUBLE) / n_exact, 6)"
            " AS rel_error",
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Edit-distance join (deletion-neighborhood blocked, exact verify)
# ---------------------------------------------------------------------------


@query(
    "q_av_edit_distance_join",
    oracle="""
    WITH n AS (SELECT c_custkey, lower(c_name) AS name FROM customer)
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           a.name AS name_a, b.name AS name_b,
           CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
    FROM n a JOIN n b
      ON b.c_custkey > a.c_custkey
     AND abs(length(a.name) - length(b.name)) <= 1
     AND levenshtein(a.name, b.name) = 1
    ORDER BY id_a, id_b
    """,
)
def q_av_edit_distance_join(spark, sf_dir):
    """All-pairs edit-distance join at Levenshtein distance 1 — the
    typo-duplicate detector — via DELETION-NEIGHBORHOOD blocking
    (FastSS, Bocek et al. 2007; popularized as SymSpell — public):
    lev(a, b) <= 1 implies a and b share a key in {s} ∪ del1(s) (equal
    strings share s; an insertion/deletion means one IS a deletion of
    the other; a substitution at position i means deleting i from both
    yields the same string). Candidates come from an equi-join on those
    keys; the exact levenshtein verify runs on candidates only. The
    quadratic oracle value-checks the blocking's completeness
    pair-for-pair — the same proof obligation as the grid-blocked geo
    join (q_ze).

    Scale shape: each name emits len+1 keys (one explode, map-only);
    the candidate join is an equi-join on short string keys whose group
    sizes are bounded by the alphabet (a deletion key matches at most
    |alphabet| substitution variants), so no quadratic blowup and no
    skewed key — the failure mode of naive first-k-chars blocking. At
    100 TB the key stream shuffles once; the verify is in-row (no
    second shuffle after the pair dedup).

    Reference scope: ∅ — dedup-family north-star surface (fuzzy matching
    complement to the token-level MinHash entries).
    """
    c = read_table(spark, sf_dir, "customer").select(
        "c_custkey", F.lower(F.col("c_name")).alias("name")
    )
    keys = c.selectExpr(
        "c_custkey",
        "name",
        "explode(array_append("
        "  transform(sequence(1, length(name)),"
        "            i -> concat(substring(name, 1, i - 1),"
        "                        substring(name, i + 1))),"
        "  name)) AS k",
    )
    cand = (
        keys.alias("a")
        .join(
            keys.alias("b"),
            (F.col("a.k") == F.col("b.k"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey")),
        )
        .select(
            F.col("a.c_custkey").alias("id_a"),
            F.col("b.c_custkey").alias("id_b"),
            F.col("a.name").alias("name_a"),
            F.col("b.name").alias("name_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.select(
            "id_a",
            "id_b",
            "name_a",
            "name_b",
            F.levenshtein("name_a", "name_b").cast("bigint").alias("dist"),
        )
        .filter(F.col("dist") == 1)
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# Containment join (asymmetric set inclusion, prefix-filtered)
# ---------------------------------------------------------------------------

#: Containment threshold: |A ∩ B| / |A| >= tau — "at least this fraction
#: of A's shingles also appear in B", the near-INCLUSION detector
#: (quotes, excerpts, doc versions) that symmetric Jaccard misses when
#: |B| >> |A|.
CONTAIN_TAU = 0.8


@query(
    "q_b3_containment_join",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, len(toks) - 2),
               i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS gs
      FROM (SELECT doc_id,
                   list_filter(string_split_regex(lower(trim(text)), '\s+'),
                               x -> x <> '') AS toks
            FROM documents)
      WHERE len(toks) >= 3)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.gs, b.gs)) AS BIGINT) AS n_shared,
           CAST(len(a.gs) AS BIGINT) AS sz_a,
           round(len(list_intersect(a.gs, b.gs))::DOUBLE / len(a.gs), 6)
             AS containment
    FROM t a JOIN t b ON a.doc_id <> b.doc_id
    WHERE len(list_intersect(a.gs, b.gs))::DOUBLE / len(a.gs)
            >= {CONTAIN_TAU}
    ORDER BY id_a, id_b
    """,
)
def q_b3_containment_join(spark, sf_dir):
    """All-pairs CONTAINMENT join at |A∩B|/|A| >= tau over 3-gram
    shingles — the asymmetric cousin of the PPJoin entry (q_yr): it
    finds documents mostly INCLUDED in another (excerpts, quoted
    passages, version supersets), which Jaccard structurally misses when
    the container is much larger. Prefix filtering adapts (Chaudhuri et
    al. ICDE 2006 §4, public): A can reach containment tau only if one
    of the first |A| - ceil(tau*|A|) + 1 elements of its rare-first
    ordering appears in B; B, the container side, must be indexed on ALL
    elements (any of them may cover A's prefix). Candidates therefore
    come from an equi-join of A-prefix against B-full; the exact verify
    (one intersect over the two re-attached arrays) runs on candidates
    only, and the quadratic oracle value-checks the filter's
    completeness pair-for-pair.

    Scale shape: same digests-and-ints discipline as q_yr — the fan-out
    carries (doc_id, size, element) only, arrays re-attach per surviving
    candidate; rare-first ordering keeps near-universal shingles out of
    every prefix, so no stopword key explodes the candidate join. The
    B-side full index is the inherent extra cost of asymmetry (elements
    x docs rows, one shuffle), which is why the symmetric join stays the
    default when inclusion semantics aren't needed.

    Semi-prune experiment (measured, BENCHNOTES.md, Round 10): a
    BROADCAST semi-join of the B-full index against the distinct
    A-prefix grams is ~neutral on the natural fixture (warm 10.6s vs
    10.2s plain) and wins ~1.5-2x on a skewed vocabulary (one hot gram
    in 30% of docs: 8.7-12.7s vs 16.9s) — r9's apparent loss was the
    checkpoint confound, not the prune. It is still NOT the default
    because its win is broadcast-bounded: prefix grams are the RARE
    grams (cardinality ~ the distinct-gram vocabulary, billions at
    100 TB — not broadcastable), and a shuffle-based semi-join pays the
    same pg-keyed shuffle the candidate join already pays, where a
    non-matching hot key costs one shuffle pass and zero output. Apply
    the prune only when the prefix vocabulary provably fits a broadcast.
    """
    d = spread(read_table(spark, sf_dir, "documents")).select("doc_id", "text")
    toks = d.select("doc_id", TXT.tokens("text").alias("toks")).filter(
        F.size("toks") >= 3
    )
    grams = toks.select(
        "doc_id",
        F.array_distinct(
            F.transform(
                F.slice("toks", 1, F.size("toks") - 2),
                lambda t, i: F.concat_ws(
                    " ", t, F.element_at("toks", i + 2), F.element_at("toks", i + 3)
                ),
            )
        ).alias("gs"),
    )
    g_df = (
        grams.select(F.explode("gs").alias("g"))
        .groupBy("g")
        .agg(F.count("*").alias("df"))
    )
    # NO pin — measured, twice now (same verdict as q_yr): `ordered` feeds
    # four consumers and the sf0.001 static plan shows zero ReusedExchange
    # (8 scans / 24 exchanges), yet an eager localCheckpoint still LOSES
    # at sf0.1 solo: plain 14.0s vs pinned 25.4s (r12 A/B, BENCHNOTES) —
    # materializing the corpus-sized shingle arrays to block storage and
    # defeating AQE's runtime sizing costs more than the recomputes, which
    # are cheap scan+explode chains (the expensive rare-first aggregation
    # IS reused at runtime by AQE's stage-level exchange reuse even though
    # the pre-execution plan doesn't print ReusedExchange nodes).
    ordered = (
        grams.select("doc_id", F.explode("gs").alias("g"))
        .join(g_df, "g")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("df", "g"))).alias("ord"))
        .select("doc_id", F.transform("ord", lambda s: s["g"]).alias("gs_ord"))
    )
    prefix_len = (
        F.size("gs_ord")
        - F.ceil(F.lit(CONTAIN_TAU) * F.size("gs_ord")).cast("int")
        + 1
    )
    pfx_a = ordered.select(
        F.col("doc_id").alias("id_a"),
        F.size("gs_ord").alias("sz_a"),
        F.explode(F.slice("gs_ord", 1, prefix_len)).alias("pg"),
    )
    full_b = ordered.select(
        F.col("doc_id").alias("id_b"),
        F.explode("gs_ord").alias("pg"),
    )
    cands = (
        pfx_a.join(full_b, "pg")
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    with_arrays = cands.join(
        ordered.select(F.col("doc_id").alias("id_a"), F.col("gs_ord").alias("ta")),
        "id_a",
    ).join(
        ordered.select(F.col("doc_id").alias("id_b"), F.col("gs_ord").alias("tb")),
        "id_b",
    )
    inter = F.size(F.array_intersect("ta", "tb"))
    cont = inter.cast("double") / F.size("ta")
    return (
        with_arrays.select(
            "id_a",
            "id_b",
            inter.cast("bigint").alias("n_shared"),
            F.size("ta").cast("bigint").alias("sz_a"),
            F.round(cont, 6).alias("containment"),
            cont.alias("_c"),
        )
        .filter(F.col("_c") >= CONTAIN_TAU)
        .drop("_c")
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# Signed feature hashing (the hashing trick, portable twin)
# ---------------------------------------------------------------------------

FH_DIM = 64

#: Shared-text md5 bucket / sign split: the first 8 hex chars drive the
#: bucket, the 9th hex digit's parity drives the sign (independent bits
#: of the same digest — Weinberger et al. 2009's paired hash functions).
_FH_BUCKET_DUCK = f"('0x' || substring(md5(tok), 1, 8))::BIGINT % {FH_DIM}"
_FH_SIGN_DUCK = (
    "CASE WHEN ('0x' || substring(md5(tok), 9, 1))::BIGINT % 2 = 0"
    " THEN 1 ELSE -1 END"
)


@query(
    "q_b6_feature_hashing",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                x -> x <> '')) AS tok
      FROM documents),
    hashed AS (
      SELECT doc_id,
             {_FH_BUCKET_DUCK} AS bucket,
             {_FH_SIGN_DUCK} AS sign
      FROM toks)
    SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
           CAST(SUM(sign) AS BIGINT) AS weight
    FROM hashed GROUP BY doc_id, bucket
    HAVING SUM(sign) <> 0
    ORDER BY doc_id, bucket
    """,
)
def q_b6_feature_hashing(spark, sf_dir):
    """Signed FEATURE HASHING (the "hashing trick" — Weinberger et al.,
    ICML 2009, public): every token maps to one of {FH_DIM} buckets by
    md5, with a second independent md5 bit choosing ±1 so collisions
    cancel in expectation (the unbiasedness trick). The PORTABLE twin of
    MLlib's HashingTF (W1's pipeline stage, rows-only by necessity —
    murmur3 inside the JVM): md5 arithmetic makes bucket, sign AND the
    final sparse weights engine-identical, so the vectorizer itself is
    hash-checked. Zero-weight cells are dropped (exact cancellation) —
    the sparse representation a 1e9-dimension hashed space relies on.

    Scale shape: map-only hash + one combinable (doc, bucket) aggregate;
    output is bounded by nnz ≤ min(tokens, dim) per doc. No vocabulary
    state anywhere — the entire reason feature hashing exists at 100 TB
    (CountVectorizer's vocab broadcast does not scale; this needs none).
    """
    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = d.select("doc_id", F.explode(TXT.tokens("text")).alias("tok"))
    hashed = toks.select(
        "doc_id",
        (
            F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("bigint")
            % FH_DIM
        ).alias("bucket"),
        F.when(
            F.conv(F.substring(F.md5("tok"), 9, 1), 16, 10).cast("bigint") % 2
            == 0,
            1,
        )
        .otherwise(-1)
        .alias("sign"),
    )
    return (
        hashed.groupBy("doc_id", "bucket")
        .agg(F.sum("sign").cast("bigint").alias("weight"))
        .filter(F.col("weight") != 0)
        .select("doc_id", F.col("bucket").cast("bigint"), "weight")
        .orderBy("doc_id", "bucket")
    )


# ---------------------------------------------------------------------------
# Positional-index phrase search
# ---------------------------------------------------------------------------


@query(
    "q_b7_phrase_search",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
                         x -> x <> '') AS ts
      FROM documents),
    bigrams AS (
      SELECT doc_id, unnest(list_transform(
               generate_series(1, len(ts) - 1),
               i -> ts[i] || ' ' || ts[i + 1])) AS bg
      FROM toks WHERE len(ts) >= 2),
    top AS (
      SELECT bg AS phrase FROM bigrams
      GROUP BY bg ORDER BY count(*) DESC, bg LIMIT 1)
    SELECT b.doc_id, t.phrase,
           CAST(count(*) AS BIGINT) AS n_occurrences
    FROM bigrams b JOIN top t ON b.bg = t.phrase
    GROUP BY b.doc_id, t.phrase
    ORDER BY b.doc_id
    """,
)
def q_b7_phrase_search(spark, sf_dir):
    """PHRASE SEARCH over a POSITIONAL inverted index (the IR-engine
    primitive — Manning, Raghavan & Schütze, IIR §2.4, public): the
    corpus's most frequent bigram (deterministic tie-break: count desc,
    phrase asc) is matched by joining the (term, doc, position) postings
    of its two words on ``doc_id`` and ``pos2 = pos1 + 1`` — the
    adjacency equi-join that generalizes to any phrase length, unlike
    the bigram-equality shortcut the ORACLE uses (the two formulations
    are value-equal, which the hash compare proves; the Spark side
    deliberately exercises the index shape). Complements the
    document-level inverted index (q_xw) and BM25 ranking (q_za).

    Scale shape: postings build is one posexplode (map-only); the phrase
    probe joins ONLY the two terms' postings (term-selective — the index
    is partitioned by term at scale, so each phrase word is one posting
    scan), co-grouped on doc_id. The top-phrase pick is a global
    TakeOrderedAndProject of the bigram counts, broadcast as one row.
    """
    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = d.select("doc_id", TXT.tokens("text").alias("ts")).filter(
        F.size("ts") >= 2
    )
    pos = toks.select(
        "doc_id", F.posexplode("ts").alias("pos", "tok")
    )  # 0-based position
    bigrams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(ts) - 1),"
                " i -> concat(element_at(ts, i), ' ', element_at(ts, i + 1)))"
            )
        ).alias("bg"),
    )
    top = (
        bigrams.groupBy("bg")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("bg"))
        .limit(1)
        .select(
            F.col("bg").alias("phrase"),
            F.split(F.col("bg"), " ").getItem(0).alias("w1"),
            F.split(F.col("bg"), " ").getItem(1).alias("w2"),
        )
    )
    p1 = pos.crossJoin(F.broadcast(top)).filter(F.col("tok") == F.col("w1"))
    p2 = pos.select(
        F.col("doc_id").alias("doc_id2"),
        F.col("pos").alias("pos2"),
        F.col("tok").alias("tok2"),
    )
    matches = p1.join(
        p2,
        (F.col("doc_id") == F.col("doc_id2"))
        & (F.col("pos2") == F.col("pos") + 1)
        & (F.col("tok2") == F.col("w2")),
    )
    return (
        matches.groupBy("doc_id", "phrase")
        .agg(F.count("*").cast("bigint").alias("n_occurrences"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Weighted single-source shortest path (bounded Bellman-Ford)
# ---------------------------------------------------------------------------

SSSP_ROUNDS = 4
#: Deterministic integer edge weight derived from the raw keys (shared
#: definition, exact on both engines).
_SSSP_W_SQL = "(o_custkey * 7 + l_suppkey * 13) % 97 + 1"

_SSSP_EDGES_SQL = f"""
    SELECT DISTINCT 'c:' || o_custkey AS u, 's:' || l_suppkey AS v,
           CAST({_SSSP_W_SQL} AS BIGINT) AS w
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    UNION ALL
    SELECT DISTINCT 's:' || l_suppkey AS u, 'c:' || o_custkey AS v,
           CAST({_SSSP_W_SQL} AS BIGINT) AS w
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
"""


def _sssp_oracle() -> str:
    """Bounded Bellman-Ford unrolled as a CTE chain (the q_yc BFS oracle
    style): round k's tentative distances = min over (round k-1 table
    UNION all one-edge relaxations of it)."""
    parts = [
        f"WITH e AS ({_SSSP_EDGES_SQL}),",
        f"d0 AS (SELECT '{BFS_SOURCE}' AS node, CAST(0 AS BIGINT) AS dist),",
    ]
    for k in range(1, SSSP_ROUNDS + 1):
        parts.append(
            f"d{k} AS (SELECT node, min(dist) AS dist FROM ("
            f"SELECT node, dist FROM d{k - 1} "
            f"UNION ALL "
            f"SELECT e.v AS node, d{k - 1}.dist + e.w AS dist "
            f"FROM e JOIN d{k - 1} ON e.u = d{k - 1}.node) GROUP BY node),"
        )
    chain = "\n".join(parts)[:-1]
    return (
        chain
        + f"\nSELECT node, CAST(dist AS BIGINT) AS dist FROM d{SSSP_ROUNDS}"
        " ORDER BY dist, node"
    )


@query("q_bc_weighted_sssp", oracle=_sssp_oracle())
def q_bc_weighted_sssp(spark, sf_dir):
    """WEIGHTED single-source shortest path — bounded Bellman-Ford
    (Bellman 1958, public): ``SSSP_ROUNDS`` relaxation rounds over the
    customer-supplier graph with deterministic integer edge weights, the
    weighted complement of the unweighted BFS entry (q_yc — hop counts
    can't model cost). Unlike BFS, a node's distance can IMPROVE in a
    later round, so each round is relax-then-min rather than
    frontier-minus-visited; distances are exact BIGINTs, every (node,
    dist) pair hash-checked against the unrolled CTE oracle.

    Scale shape: per round, one hash join of the (node, dist) table
    against the checkpointed edge list plus one combinable min — the
    distance table carries two columns and is broadcast while it fits;
    rounds are bounded (k-hop semantics — the documented contract, not
    convergence detection, which q_xl2 demonstrates elsewhere). No
    paths are materialized.
    """
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    raw = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.concat(F.lit("c:"), F.col("o_custkey")).alias("cu"),
            F.concat(F.lit("s:"), F.col("l_suppkey")).alias("su"),
            F.expr(f"CAST({_SSSP_W_SQL} AS BIGINT)").alias("w"),
        )
        .distinct()
    )
    edges = (
        raw.select(F.col("cu").alias("u"), F.col("su").alias("v"), "w")
        .unionByName(raw.select(F.col("su").alias("u"), F.col("cu").alias("v"), "w"))
        .localCheckpoint(eager=True)  # probed every round (the q_yc lesson)
    )

    def relax(dist: DataFrame, _: int) -> DataFrame:
        relaxed = edges.join(F.broadcast(dist), edges.u == dist.node).select(
            F.col("v").alias("node"), (F.col("dist") + F.col("w")).alias("dist")
        )
        return dist.unionByName(relaxed).groupBy("node").agg(F.min("dist").alias("dist"))

    source = local_frame(spark, [(BFS_SOURCE, 0)], "node string, dist long")
    dist = iterate(source, relax, SSSP_ROUNDS)
    return dist.select("node", F.col("dist").cast("bigint").alias("dist")).orderBy(
        "dist", "node"
    )


# ---------------------------------------------------------------------------
# Minimum spanning forest (distributed Borůvka)
# ---------------------------------------------------------------------------

MST_MAX_ROUNDS = 25
#: Deterministic integer edge weight (q_bc SSSP family). Ties are broken
#: by the full (w, u, v) struct ordering, making the MST unique.
_MST_W_SQL = "(c * 7 + s * 13) % 97 + 1"
#: Per-round parent-pair tables (component grain, shrinking at least
#: geometrically) at or below this row count are resolved with a
#: driver-local union-find — the same bounded-driver contract as the
#: quantizer fit. Above it, distributed pointer jumping with a FIXED
#: ceil(log2(n)) hop budget (no per-hop convergence probes). The bound's
#: cost on 4 cores: at 1M pairs, building the root frame with
#: ``local_frame`` and its broadcast left join into a 2M-row label table
#: take 5.5 s (``createDataFrame`` 3.7-4.0 s); at the pair counts the
#: benchmark reaches (~16k components at sf0.1) ``local_frame`` is the
#: faster one. 4M pairs measured 28 s — too much driver serialization for
#: a "bounded" contract (see BENCHNOTES round 10).
MST_DRIVER_UNION_MAX = 1_000_000
#: Node tables at or below this row count are broadcast into the
#: edge-to-component label joins (comp is 16 bytes/row — 2M rows ≈ 32 MB).
_MST_BROADCAST_NODES = 2_000_000


def boruvka_mst(edges: DataFrame) -> DataFrame:
    """Minimum spanning forest of an undirected weighted edge list
    ``(u, v, w)`` (``u < v`` canonical, BIGINT ids) by distributed
    Borůvka (Borůvka 1926; the GraphX/Pregel MSF standard — each round
    every component selects its minimum outgoing edge, selected edges
    merge components, repeat). With ties broken by the total (w, u, v)
    struct order the forest is UNIQUE, so output is value-testable.

    Loop discipline: outer rounds halve (at least) the component count —
    <= log2(V) data-dependent rounds, each one edge-to-component join
    pair + a map-side-combinable struct-min per component. Component
    merging resolves the per-round parent pairs (component grain:
    exactly one row per component with an outgoing edge, so <= node
    count in round 1 and geometrically shrinking after) with a
    DRIVER-LOCAL union-find when the table fits the bounded-driver
    contract (``MST_DRIVER_UNION_MAX``, same sanction as the quantizer
    fit) — the round-8 per-hop pointer-jumping loop with its eager
    localCheckpoint + two distributed convergence probes PER HOP
    launched hundreds of jobs on a <=16k-row frame and died in
    Catalyst's size-estimation arithmetic at bench scale. Beyond the
    driver bound, pointer jumping runs distributed with a FIXED
    ceil(log2(n)) + 1 hop budget (synchronous p <- p[p] squares chain
    coverage per hop, so log2 of the table size provably reaches every
    root — no convergence probes needed), checkpointing every third hop
    to keep plans shallow. Outer loop raises on MST_MAX_ROUNDS exhaustion
    (q_z6 kcore contract: a partial forest is silently wrong).

    Scale: edges shuffle only on component labels (the node->label side
    is broadcast when the node table is small); the struct-min is a
    partial aggregate (no window over edges); per-round work shrinks as
    components merge. 100 TB graphs: same shapes, component table stays
    node-grain, and only rounds whose surviving-component count exceeds
    4M ever take the distributed-jump branch.
    """
    spark = edges.sparkSession
    comp = (
        edges.select(F.col("u").alias("node"))
        .unionByName(edges.select(F.col("v").alias("node")))
        .distinct()
        .select("node", F.col("node").alias("comp"))
        .localCheckpoint(eager=True)
    )
    n_nodes = comp.count()
    ed = edges.localCheckpoint(eager=True)
    picked = None
    converged = False
    for _ in range(MST_MAX_ROUNDS):
        cu = comp.select(F.col("node").alias("u"), F.col("comp").alias("cu"))
        cv = comp.select(F.col("node").alias("v"), F.col("comp").alias("cv"))
        if n_nodes <= _MST_BROADCAST_NODES:
            cu, cv = F.broadcast(cu), F.broadcast(cv)
        e2 = (
            ed.join(cu, "u")
            .join(cv, "v")
            .filter(F.col("cu") != F.col("cv"))
            .localCheckpoint(eager=True)
        )
        pick = F.struct("w", "u", "v").alias("pick")
        cand = e2.select(
            F.col("cu").alias("c"), pick, F.col("cv").alias("other")
        ).unionByName(
            e2.select(F.col("cv").alias("c"), pick, F.col("cu").alias("other"))
        )
        # sel is COMPONENT-grain (one row per component with an outgoing
        # edge) but its lineage is the edge-scale struct-min shuffle —
        # checkpoint it so the convergence count, the forest append, and
        # the merge branch below all read the materialized small frame
        # instead of re-running the edge aggregate up to four times.
        sel = cand.groupBy("c").agg(
            F.min(F.struct("pick", "other")).alias("m")
        ).select(
            "c",
            F.col("m.pick.u").alias("u"),
            F.col("m.pick.v").alias("v"),
            F.col("m.pick.w").alias("w"),
            F.col("m.other").alias("p"),
        ).localCheckpoint(eager=True)
        # One count probes convergence AND sizes the merge strategy —
        # nothing is collected until the driver bound is known to hold.
        n_pairs = sel.count()
        if n_pairs == 0:
            converged = True
            break
        new_edges = sel.select("u", "v", "w").distinct()
        picked = (
            new_edges
            if picked is None
            else picked.unionByName(new_edges)
        ).localCheckpoint(eager=True)
        if n_pairs <= MST_DRIVER_UNION_MAX:
            pairs = sel.select("c", "p").collect()
            # Bounded-driver branch: union-find with path compression;
            # roots normalize to the minimum member id (deterministic,
            # though output edges are label-independent either way).
            parent: dict = {}

            def _find(x):
                while parent.setdefault(x, x) != x:
                    parent[x] = parent[parent[x]]
                    x = parent[x]
                return x

            for r in pairs:
                a, b = _find(r.c), _find(r.p)
                if a != b:
                    if a < b:
                        parent[b] = a
                    else:
                        parent[a] = b
            root = local_frame(
                spark,
                [(c, _find(c)) for c in list(parent)],
                "comp long, newc long",
            )
            root = F.broadcast(root)
        else:
            # Distributed branch (component count beyond the driver
            # bound): break mutual 2-cycles toward the smaller id, then
            # pointer-jump a fixed log2(n)+1 hops — chain coverage
            # squares per synchronous hop, so the budget provably roots
            # every chain of length <= n without per-hop probes.
            par = sel.select("c", "p")
            back = par.select(
                F.col("c").alias("bp"), F.col("p").alias("c_back")
            )
            par = par.join(
                back, (par.p == back.bp) & (par.c == back.c_back), "left"
            ).select(
                "c",
                F.when(
                    F.col("c_back").isNotNull() & (F.col("c") < F.col("p")),
                    F.col("c"),
                )
                .otherwise(F.col("p"))
                .alias("p"),
            ).localCheckpoint(eager=True)
            hops = max(1, math.ceil(math.log2(max(2, n_pairs))) + 1)
            for h in range(hops):
                nxt = par.select(
                    F.col("c").alias("pc"), F.col("p").alias("pp")
                )
                par = par.join(nxt, par.p == nxt.pc, "left").select(
                    "c", F.coalesce("pp", "p").alias("p")
                )
                if h % 3 == 2 or h == hops - 1:
                    par = par.localCheckpoint(eager=True)
            root = par.select(
                F.col("c").alias("comp"), F.col("p").alias("newc")
            )
        comp = (
            comp.join(root, "comp", "left")
            .select("node", F.coalesce("newc", "comp").alias("comp"))
            .localCheckpoint(eager=True)
        )
    if not converged:
        raise RuntimeError(
            f"boruvka_mst: forest not complete within MST_MAX_ROUNDS={MST_MAX_ROUNDS}"
        )
    if picked is None:
        return edges.select("u", "v", "w").limit(0)
    return picked.distinct()


@query("q_cg_boruvka_mst")  # data-dependent rounds -> rows-only; golden-tested
def q_cg_boruvka_mst(spark, sf_dir):
    """MINIMUM SPANNING FOREST of the customer-supplier trade graph
    (distributed Borůvka) — the backbone extraction used for
    single-linkage clustering, network design, and graph sparsification
    (an MSF is the minimal structure preserving connectivity). Nodes are
    2*custkey / 2*suppkey+1; edges are distinct trading pairs with the
    q_bc-family deterministic weight, pre-collapsed to MIN weight per
    pair so the input is edge-grain before any iteration. Rows-only by
    design (round count is data-dependent, no SQL unroll); the test
    layer checks the forest EDGE-FOR-EDGE against a pure-Python Kruskal
    on the same edge list plus the structural invariants |F| = V - #CC
    and acyclicity (tests/test_corpus_ops.py).

    Scale shape: see ``boruvka_mst`` — component-label shuffles and
    partial struct-min aggregates only; nothing node- or edge-sized ever
    reaches the driver.
    """
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s")
        )
        .distinct()
    )
    edges = (
        pairs.select(
            (F.col("c") * 2).alias("u"),
            (F.col("s") * 2 + 1).alias("v"),
            F.expr(_MST_W_SQL).cast("bigint").alias("w"),
        )
        .groupBy("u", "v")
        .agg(F.min("w").alias("w"))
    )
    return boruvka_mst(edges).orderBy("u", "v")
