"""Training-data pipeline operators: chunking, packing, contamination, mixing.

These extend the north-star LLM-data-pipeline surface (dedup / similarity /
text analysis / multimodal, ``north_star.py``) with the remaining ops a
large-scale corpus-preparation pipeline runs between "raw documents" and
"training sequences":

- **chunking** — split long documents into overlapping fixed-size windows
  (the unit most tokenizer pipelines feed downstream);
- **sequence packing** — assign documents to fixed-token-budget bins so
  training batches waste no context (fixed-boundary packing is the
  SQL-expressible variant: greedy first-fit needs per-partition state and
  is covered by the ``applyInPandas`` surface instead);
- **contamination check** — flag corpus documents sharing word n-grams with
  a held-out benchmark set (the standard train/test leakage guard);
- **source mixing** — deterministic weighted downsampling per source to hit
  a target corpus mixture.

All four are pure DataFrame plans (no Python in the hot path) and carry a
DuckDB oracle. At 100 TB each is a scan + one shuffle: chunking/mixing are
narrow (explode / filter, no shuffle at all), packing shuffles once on
``source``, contamination broadcasts the benchmark n-gram side (benchmarks
are small by construction) so the corpus side never shuffles.

Parity notes (Spark vs DuckDB): fixture ``documents.text`` is never NULL,
but expressions still avoid constructs whose NULL semantics differ
(``greatest`` skips NULLs in Spark, propagates them in DuckDB). The naming
prefix ``q_x*`` sorts AFTER every existing registry entry, so these never
displace already-verified queries from a bounded alphabetical check window.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions import text as TXT
from ..operators.cdc import CDC_AVG, CDC_MAX, CDC_MIN
from ..sources import local_frame, read_table, spread
from .registry import query, sql_query

#: Chunking geometry. Sized to the synthetic fixture (docs <= ~550 chars) so
#: chunking is non-vacuous — production corpora would use e.g. 2048/1536.
CHUNK_CHARS = 128
CHUNK_STRIDE = 96
CHUNK_OVERLAP = CHUNK_CHARS - CHUNK_STRIDE

#: Fixed-boundary packing budget (tokens per training sequence).
PACK_BUDGET = 256

#: Word-n-gram order for the contamination check. 3 (not the production
#: 8-13) because the synthetic fixture's docs are ~40-80 tokens of a small
#: vocabulary — n=3 yields a non-vacuous ~1/3 hit rate at sf0.01.
CONTAM_N = 3

#: Benchmark membership predicate: every 97th doc plays the held-out set.
CONTAM_BENCH_MOD = 97


# ---------------------------------------------------------------------------
# Chunking
# ---------------------------------------------------------------------------

@query(
    "q_x1_chunk_docs",
    oracle=f"""
    SELECT d.doc_id,
           u.i AS chunk_id,
           substring(d.text, (u.i * {CHUNK_STRIDE} + 1)::INT, {CHUNK_CHARS}) AS chunk,
           CAST(length(substring(d.text, (u.i * {CHUNK_STRIDE} + 1)::INT,
                                 {CHUNK_CHARS})) AS BIGINT) AS chunk_len
    FROM documents d,
         LATERAL (SELECT unnest(range(0,
                    greatest(1, ceil((length(d.text) - {CHUNK_OVERLAP})
                                     / {CHUNK_STRIDE}.0)::BIGINT))) AS i) u
    ORDER BY doc_id, chunk_id
    """,
)
def q_x1_chunk_docs(spark, sf_dir):
    """Overlapping fixed-size character chunks per document.

    ``k = max(1, ceil((len - overlap) / stride))`` windows starting at
    ``i * stride``; the last window always reaches the end of the text and
    every character is covered by at least one chunk. Narrow plan: explode
    of a computed ``sequence`` — no shuffle, chunking 100 TB is a map-only
    stage. (Reference scope: the reference has no chunker; this extends its
    text pipeline, COMP5349_2.py:151, toward training-data prep.)
    """
    d = read_table(spark, sf_dir, "documents").select("doc_id", "text", F.length("text").alias("n"))
    k = F.ceil((F.col("n") - CHUNK_OVERLAP) / float(CHUNK_STRIDE))
    k = F.greatest(F.lit(1).cast("long"), k)
    return (
        d.select("doc_id", "text", F.explode(F.sequence(F.lit(0).cast("long"), k - 1)).alias("chunk_id"))
        .select(
            "doc_id",
            "chunk_id",
            F.substring("text", F.col("chunk_id").cast("int") * CHUNK_STRIDE + 1, CHUNK_CHARS).alias("chunk"),
        )
        .withColumn("chunk_len", F.length("chunk").cast("bigint"))
        .orderBy("doc_id", "chunk_id")
    )


# ---------------------------------------------------------------------------
# Sequence packing (fixed-boundary)
# ---------------------------------------------------------------------------

@query(
    "q_x2_pack_sequences",
    oracle=rf"""
    WITH t AS (
      SELECT source, doc_id,
             CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                  x -> x <> '')) AS BIGINT) AS n_tokens
      FROM documents),
    b AS (
      SELECT source, n_tokens,
             CAST(floor(coalesce(sum(n_tokens) OVER (
                    PARTITION BY source ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  / {PACK_BUDGET}.0) AS BIGINT) AS bin_id
      FROM t)
    SELECT source, bin_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS bin_tokens
    FROM b GROUP BY source, bin_id ORDER BY source, bin_id
    """,
)
def q_x2_pack_sequences(spark, sf_dir):
    """Fixed-boundary token packing: docs stream per source in doc_id order
    and a doc lands in bin ``floor(tokens_before / budget)``.

    One shuffle on ``source`` (window + groupBy share the partitioning —
    Catalyst reuses the exchange), then the aggregation is partial-merge.
    The running sum is per-source, never global, so no single-partition
    window at any scale. Greedy first-fit (order-dependent state) is the
    ``applyInPandas`` twin, intentionally not this query.
    """
    docs = read_table(spark, sf_dir, "documents").select(
        "source", "doc_id", TXT.token_count("text").cast("bigint").alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    binned = docs.withColumn(
        "bin_id",
        F.floor(F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / float(PACK_BUDGET)),
    )
    return (
        binned.groupBy("source", "bin_id")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("bin_tokens"),
        )
        .orderBy("source", "bin_id")
    )


# ---------------------------------------------------------------------------
# Contamination check
# ---------------------------------------------------------------------------

@query(
    "q_x3_contamination",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
                         x -> x <> '') AS t
      FROM documents),
    grams AS (
      SELECT DISTINCT doc_id, g FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(t) - {CONTAM_N - 2}, 1)),
                                     i -> array_to_string(t[i:i+{CONTAM_N - 1}], ' '))) AS g
        FROM toks)),
    hits AS (
      SELECT d.doc_id, CAST(count(DISTINCT b.doc_id) AS BIGINT) AS n_hits
      FROM grams d
      JOIN grams b ON d.g = b.g
                  AND b.doc_id % {CONTAM_BENCH_MOD} = 0
                  AND d.doc_id <> b.doc_id
      GROUP BY d.doc_id)
    SELECT doc.doc_id,
           coalesce(h.n_hits, 0) AS n_hits,
           CAST(coalesce(h.n_hits, 0) > 0 AS INT) AS contaminated
    FROM documents doc LEFT JOIN hits h ON doc.doc_id = h.doc_id
    ORDER BY doc.doc_id
    """,
)
def q_x3_contamination(spark, sf_dir):
    """Benchmark-contamination guard: per document, how many held-out
    benchmark documents share at least one word n-gram with it.

    The benchmark side (every ``CONTAM_BENCH_MOD``-th doc here; in
    production the eval sets) is tiny relative to the corpus, so its
    distinct n-grams are **broadcast** — the 100 TB corpus side is scanned
    once, exploded, and hash-probed with **no shuffle of the corpus
    n-grams**: corpus grams are deliberately NOT deduped (that would be a
    full shuffle of the exploded corpus) because ``count_distinct(bench_id)``
    absorbs duplicate (doc_id, gram) pairs; only the broadcast side is
    distinct'd, and its ``doc_id % k`` filter pushes below the explode so
    non-benchmark docs never reach it. The final left join back to
    ``documents`` keeps row count stable (uncontaminated docs report 0).
    """
    return _contamination_report(spread(read_table(spark, sf_dir, "documents")))


def _contamination_report(d):
    """The q_x3 plan over any ``(doc_id, text)`` DataFrame (test seam)."""
    grams = d.select(
        "doc_id", F.explode(TXT.word_ngrams(TXT.tokens("text"), CONTAM_N)).alias("g")
    )
    bench = (
        grams.filter(F.col("doc_id") % CONTAM_BENCH_MOD == 0)
        .distinct()
        .withColumnRenamed("doc_id", "bench_id")
    )
    hits = (
        grams.join(
            F.broadcast(bench),
            on=[grams["g"] == bench["g"], grams["doc_id"] != bench["bench_id"]],
        )
        .groupBy("doc_id")
        .agg(F.count_distinct("bench_id").cast("bigint").alias("n_hits"))
    )
    return (
        d.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_hits", F.lit(0).cast("bigint")).alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) > 0).cast("int").alias("contaminated"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Source mixing
# ---------------------------------------------------------------------------

# Deterministic weighted source mixing: a document survives iff a Knuth
# multiplicative hash of its id lands under its source's rate (20%..100%),
# so the mixture is reproducible across runs and engines.
sql_query(
    "q_x4_mix_sources",
    """
    WITH d AS (
      SELECT source,
             (substring(source, 4)::INT % 5) * 20 + 20 AS weight_pct,
             CASE WHEN (doc_id * 2654435761) % 100
                       < (substring(source, 4)::INT % 5) * 20 + 20
                  THEN 1 ELSE 0 END AS kept
      FROM documents)
    SELECT source,
           any_value(weight_pct) AS weight_pct,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(kept) AS BIGINT) AS n_kept,
           sum(kept) / count(*)::DOUBLE AS kept_ratio
    FROM d GROUP BY source ORDER BY source
    """,
)


# ---------------------------------------------------------------------------
# TF-IDF top terms (SQL twin of the MLlib CountVectorizer/IDF pipeline)
# ---------------------------------------------------------------------------

@query(
    "q_x5_tfidf_topterms",
    oracle=r"""
    WITH toks AS (
      SELECT source, doc_id,
             unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                x -> x <> '')) AS term
      FROM documents),
    tf AS (SELECT source, term, CAST(count(*) AS BIGINT) AS tf
           FROM toks GROUP BY source, term),
    df AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
           FROM toks GROUP BY term),
    n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
    scored AS (
      SELECT tf.source, tf.term, tf.tf, df.df,
             tf.tf * ln(n.n_docs / df.df) AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n),
    ranked AS (
      SELECT *, CAST(row_number() OVER (
                 PARTITION BY source ORDER BY tfidf DESC, term) AS BIGINT) AS rnk
      FROM scored)
    SELECT source, rnk, term, tf, df, tfidf
    FROM ranked WHERE rnk <= 5 ORDER BY source, rnk
    """,
)
def q_x5_tfidf_topterms(spark, sf_dir):
    """Top-5 TF-IDF terms per source, as a pure SQL plan.

    The oracle-checkable twin of the W1 MLlib ``CountVectorizer -> IDF``
    pipeline (reference COMP5349_2.py:151-160): term frequency per source,
    document frequency over the corpus, ``tf * ln(N / df)``, ranked with a
    deterministic ``(score DESC, term)`` tie-break. Two shuffles (tf by
    (source, term), df by term) + a broadcast of the scalar N; the top-k
    window prunes to WindowGroupLimit so only 5 rows per source survive the
    final sort.
    """
    docs = spread(read_table(spark, sf_dir, "documents"))
    toks = docs.select("source", "doc_id", F.explode(TXT.tokens("text")).alias("term"))
    tf = toks.groupBy("source", "term").agg(F.count("*").cast("bigint").alias("tf"))
    df_tab = toks.groupBy("term").agg(
        F.count_distinct("doc_id").cast("bigint").alias("df")
    )
    n = docs.agg(F.count("*").cast("double").alias("n_docs"))
    scored = (
        tf.join(df_tab, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "source", "term", "tf", "df",
            (F.col("tf") * F.log(F.col("n_docs") / F.col("df"))).alias("tfidf"),
        )
    )
    w = Window.partitionBy("source").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 5)
        .select("source", "rnk", "term", "tf", "df", "tfidf")
        .orderBy("source", "rnk")
    )


# ---------------------------------------------------------------------------
# Connected components (oracle-checked via recursive-CTE transitive closure)
# ---------------------------------------------------------------------------

#: Word-n-gram order for the duplicate-candidate edge set: 4 keeps the
#: fixture graph sparse (~400 edges / 500 docs at sf0.01) with non-trivial
#: multi-hop components.
CC_N = 4


@query(
    "q_x6_cc_clusters",
    oracle=rf"""
    WITH RECURSIVE
    toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
                         x -> x <> '') AS t
      FROM documents),
    grams AS (
      SELECT DISTINCT doc_id, g FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(t) - {CC_N - 2}, 1)),
                                     i -> array_to_string(t[i:i+{CC_N - 1}], ' '))) AS g
        FROM toks)),
    pairs AS (
      SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
      FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id),
    edges AS (
      SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs),
    reach(node, peer) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.node, e.dst FROM reach r JOIN edges e ON r.peer = e.src),
    rep AS (
      SELECT node, least(min(peer), node) AS rep_id
      FROM reach GROUP BY node),
    labeled AS (
      SELECT d.doc_id, coalesce(rep.rep_id, d.doc_id) AS rep_id
      FROM documents d LEFT JOIN rep ON d.doc_id = rep.node)
    SELECT doc_id, rep_id,
           CAST(count(*) OVER (PARTITION BY rep_id) AS BIGINT) AS cluster_size
    FROM labeled ORDER BY doc_id
    """,
)
def q_x6_cc_clusters(spark, sf_dir):
    """Duplicate-cluster connected components, value-checked end to end.

    Edges are documents sharing a word ``CC_N``-gram — a deterministic
    stand-in for the MinHash/SimHash candidate pairs the dedup family feeds
    this operator in production. Candidate pairs come from ONE partial-agg
    shuffle: group by gram, ``collect_set`` the doc ids (map-side combine
    shrinks the shuffle; the set also dedups within-doc gram repeats), then
    emit each group's sorted id combinations JVM-side (``transform`` over
    ``slice`` — the same pair set the classic gram self-join would produce,
    minus the self-join's extra distinct shuffle over the full exploded gram
    table). At 100 TB a stopword-like hot gram needs the jaccard-style
    block-size guard (``dedup.ngram_jaccard_pairs``) or MinHash routing;
    unguarded here because the oracle must see the identical pair set. Then
    ``operators.dedup.keep_one_representatives`` runs label propagation with
    pointer jumping to fixpoint. The DuckDB oracle computes the same
    components via a recursive-CTE transitive closure, upgrading this family
    from rows-only to value-checked (closure is O(component²) — fine at
    oracle scale; the Spark side is the log-diameter-bounded scale path).
    """
    from ..operators.dedup import keep_one_representatives

    d = spread(read_table(spark, sf_dir, "documents"))
    grams = d.select(
        "doc_id", F.explode(TXT.word_ngrams(TXT.tokens("text"), CC_N)).alias("g")
    )
    ids = F.array_sort(F.collect_set("doc_id"))
    grouped = (
        grams.groupBy("g")
        .agg(ids.alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    combos = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + F.lit(2), F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    pairs = (
        grouped.select(F.explode(combos).alias("p"))
        .select(F.col("p.id_a"), F.col("p.id_b"))
        .distinct()
    )
    reps = keep_one_representatives(pairs, d.select("doc_id"), "doc_id")
    w = Window.partitionBy("rep_id")
    return (
        reps.withColumn("cluster_size", F.count("*").over(w).cast("bigint"))
        .select("doc_id", "rep_id", "cluster_size")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Greedy (next-fit) packing — the stateful applyInPandas twin of q_x2
# ---------------------------------------------------------------------------

@query(
    "q_x7_pack_greedy",
    oracle=rf"""
    WITH RECURSIVE t AS (
      SELECT source, doc_id,
             CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                  x -> x <> '')) AS BIGINT) AS n_tokens,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM documents),
    rec AS (
      SELECT source, doc_id, n_tokens, rn,
             CAST(0 AS BIGINT) AS bin_id, n_tokens AS fill
      FROM t WHERE rn = 1
      UNION ALL
      SELECT t.source, t.doc_id, t.n_tokens, t.rn,
             CASE WHEN r.fill + t.n_tokens > {PACK_BUDGET}
                  THEN r.bin_id + 1 ELSE r.bin_id END,
             CASE WHEN r.fill + t.n_tokens > {PACK_BUDGET}
                  THEN t.n_tokens ELSE r.fill + t.n_tokens END
      FROM rec r JOIN t ON t.source = r.source AND t.rn = r.rn + 1)
    SELECT source, doc_id, n_tokens, bin_id
    FROM rec ORDER BY source, doc_id
    """,
)
def q_x7_pack_greedy(spark, sf_dir):
    """Greedy next-fit sequence packing: per source, docs stream in doc_id
    order; a bin accumulates docs until the next one would overflow the
    token budget, which closes it and opens a new bin.

    The packing state (current bin, current fill) is order-dependent — not
    expressible as window functions — so this is the **sanctioned stateful
    escape hatch**: Arrow-batched ``applyInPandas`` per source, one
    sequential pass inside each group (pandas column scan, not per-row
    Python UDF calls). One shuffle on ``source``; at 100 TB the group is a
    source shard and the pass is O(shard). Value-checked end to end: the
    DuckDB oracle replays the identical recursion as a recursive CTE over
    ``row_number`` — this is the only applyInPandas surface with a full
    value oracle (the others are vs-batch-twin or property-tested).
    Fixed-boundary packing (pure SQL, no Python) is ``q_x2``.
    """
    docs = read_table(spark, sf_dir, "documents").select(
        "source", "doc_id", TXT.token_count("text").cast("bigint").alias("n_tokens")
    )
    return (
        docs.groupBy("source")
        .applyInPandas(
            _greedy_pack_pdf,
            "source string, doc_id bigint, n_tokens bigint, bin_id bigint",
        )
        .orderBy("source", "doc_id")
    )


def _greedy_pack_pdf(pdf):
    """Next-fit packing over one source group (applyInPandas kernel).

    Arrow hands the whole group as one pandas frame; the sequential pass is
    a single column scan in-process, not per-row UDF dispatch."""
    pdf = pdf.sort_values("doc_id").reset_index(drop=True)
    bins = []
    fill = 0
    b = 0
    for nt in pdf["n_tokens"]:
        if fill > 0 and fill + int(nt) > PACK_BUDGET:
            b += 1
            fill = 0
        fill += int(nt)
        bins.append(b)
    pdf["bin_id"] = bins
    return pdf


# ---------------------------------------------------------------------------
# Within-document repetition signals (Gopher-style quality filter)
# ---------------------------------------------------------------------------

#: Flag thresholds, calibrated on the fixture so the gate is non-vacuous
#: (~25% of sf0.01 docs trip top2 > 0.05; a handful trip dup3 > 0.10).
#: Production corpora would use the published MassiveText-style settings
#: (top-2-gram fraction 0.18, dup-3-gram fraction 0.30 — Rae et al. 2021).
REP_TOP2_MAX = 0.05
REP_DUP3_MAX = 0.10


@query(
    "q_x8_repetition",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
                         x -> x <> '') AS t
      FROM documents),
    g AS (
      SELECT doc_id, 1 AS n,
             unnest(t) AS gram
      FROM toks
      UNION ALL
      SELECT doc_id, 2 AS n,
             unnest(list_transform(range(1, greatest(len(t), 1)),
                                   i -> array_to_string(t[i:i+1], ' '))) AS gram
      FROM toks
      UNION ALL
      SELECT doc_id, 3 AS n,
             unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
                                   i -> array_to_string(t[i:i+2], ' '))) AS gram
      FROM toks),
    c AS (SELECT doc_id, n, gram, count(*) AS c FROM g GROUP BY 1, 2, 3),
    p AS (
      SELECT doc_id,
             sum(c) FILTER (n = 1) AS tot1,
             max(c) FILTER (n = 2) AS max2,
             sum(c) FILTER (n = 2) AS tot2,
             sum(c) FILTER (n = 3 AND c > 1) AS dup3,
             sum(c) FILTER (n = 3) AS tot3
      FROM c GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(coalesce(p.tot1, 0) AS BIGINT) AS n_tokens,
           coalesce(p.max2::DOUBLE / p.tot2::DOUBLE, 0.0) AS top2_frac,
           coalesce(p.dup3::DOUBLE / p.tot3::DOUBLE, 0.0) AS dup3_frac,
           CAST(coalesce(p.max2::DOUBLE / p.tot2::DOUBLE, 0.0) > {REP_TOP2_MAX}
                OR coalesce(p.dup3::DOUBLE / p.tot3::DOUBLE, 0.0) > {REP_DUP3_MAX}
                AS INT) AS flagged
    FROM documents d LEFT JOIN p ON d.doc_id = p.doc_id
    ORDER BY d.doc_id
    """,
)
def q_x8_repetition(spark, sf_dir):
    """Within-document repetition signals — the standard LLM-corpus quality
    gate for boilerplate/spam (top-n-gram and duplicate-n-gram fractions,
    per MassiveText/Gopher, Rae et al. 2021, public): per document, the
    fraction of 2-grams taken by the single most frequent 2-gram and the
    fraction of 3-grams that occur more than once; a doc trips the gate
    when either exceeds its threshold.

    One corpus scan: unigrams/2-grams/3-grams explode together under an
    order tag, one ``(doc_id, n, gram)`` count, one per-doc conditional
    rollup — so at 100 TB this is explode → two partial-agg shuffles on
    keys that include ``doc_id`` (near-perfectly distributed, no skew), and
    the text column itself is never shuffled. The left join back to
    ``documents`` keeps row count stable (empty docs report zeros).
    """
    return _repetition_report(spread(read_table(spark, sf_dir, "documents")))


def _repetition_report(d):
    """The q_x8 plan over any ``(doc_id, text)`` DataFrame (test seam)."""
    toks = d.select("doc_id", TXT.tokens("text").alias("t"))
    tag = lambda col, n: F.transform(  # noqa: E731
        col, lambda g: F.struct(F.lit(n).alias("n"), g.alias("gram"))
    )
    grams = toks.select(
        "doc_id",
        F.explode(
            F.concat(
                tag(F.col("t"), 1),
                tag(TXT.word_ngrams(F.col("t"), 2), 2),
                tag(TXT.word_ngrams(F.col("t"), 3), 3),
            )
        ).alias("s"),
    ).select("doc_id", F.col("s.n").alias("n"), F.col("s.gram").alias("gram"))
    counts = grams.groupBy("doc_id", "n", "gram").agg(F.count("*").alias("c"))
    per = counts.groupBy("doc_id").agg(
        F.sum(F.when(F.col("n") == 1, F.col("c"))).alias("tot1"),
        F.max(F.when(F.col("n") == 2, F.col("c"))).alias("max2"),
        F.sum(F.when(F.col("n") == 2, F.col("c"))).alias("tot2"),
        F.sum(F.when((F.col("n") == 3) & (F.col("c") > 1), F.col("c"))).alias("dup3"),
        F.sum(F.when(F.col("n") == 3, F.col("c"))).alias("tot3"),
    )
    top2 = F.coalesce(F.col("max2") / F.col("tot2"), F.lit(0.0))
    dup3 = F.coalesce(F.col("dup3") / F.col("tot3"), F.lit(0.0))
    return (
        d.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("tot1", F.lit(0)).cast("bigint").alias("n_tokens"),
            top2.alias("top2_frac"),
            dup3.alias("dup3_frac"),
            ((top2 > REP_TOP2_MAX) | (dup3 > REP_DUP3_MAX)).cast("int").alias("flagged"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Bigram language-model quality score (CCNet-style perplexity filter)
# ---------------------------------------------------------------------------

@query(
    "q_x9_lm_score",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
                         x -> x <> '') AS t
      FROM documents),
    bgw AS (
      SELECT doc_id, g, string_split(g, ' ')[1] AS w1 FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(t), 1)),
                                     i -> array_to_string(t[i:i+1], ' '))) AS g
        FROM toks)),
    c2 AS (SELECT g, count(*) AS c2 FROM bgw GROUP BY g),
    c1 AS (SELECT w1, count(*) AS c1 FROM bgw GROUP BY w1),
    v  AS (SELECT count(DISTINCT w1)::DOUBLE AS v FROM bgw),
    s AS (
      SELECT b.doc_id,
             CAST(count(*) AS BIGINT) AS n_bigrams,
             round(avg(ln((c2.c2 + 1.0) / (c1.c1 + v.v))), 4) AS lm_score
      FROM bgw b JOIN c2 USING (g) JOIN c1 USING (w1) CROSS JOIN v
      GROUP BY b.doc_id)
    SELECT d.doc_id,
           coalesce(s.n_bigrams, 0) AS n_bigrams,
           coalesce(s.lm_score, 0.0) AS lm_score
    FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id
    ORDER BY d.doc_id
    """,
)
def q_x9_lm_score(spark, sf_dir):
    """Bigram language-model quality score — the CCNet-style "how much does
    this doc look like the corpus" filter (Wenzek et al. 2020, public): the
    corpus itself is the LM (add-one-smoothed bigram model,
    ``P(w2|w1) = (c(w1 w2)+1) / (c(w1)+V)``) and each document scores the
    mean log-probability of its bigrams. Low scores = out-of-distribution /
    garbled text; production pipelines bucket the corpus by this score.

    Shape at 100 TB: two corpus explodes — one to train the model, one to
    score against it (the floor for a corpus-trained model). The model
    tables are **vocabulary-bounded aggregates** (``c2`` per bigram; ``c1``
    and ``V`` derived from ``c2``, never from a corpus re-explode) — far
    smaller than the corpus, so AQE broadcasts them and the scoring join
    never shuffles the exploded corpus side; otherwise it is a hash join on
    near-uniform n-gram keys. The V scalar rides along as a 1-row
    broadcast. Scores round to 4dp on both engines (avg-of-logs is
    summation-order-sensitive in the last bits).
    """
    return _lm_score_report(spread(read_table(spark, sf_dir, "documents")))


def _lm_score_report(d):
    """The q_x9 plan over any ``(doc_id, text)`` DataFrame (test seam).

    Exactly TWO corpus explodes — train (build ``c2``) and score — which is
    the floor for a corpus-trained model. The context counts ``c1`` and the
    vocabulary size ``V`` are derived FROM the vocabulary-bounded ``c2``
    aggregate (``c1(w1) = Σ_g c2(w1 g)``), never by re-exploding the corpus.
    """
    bigrams = F.explode(TXT.word_ngrams(TXT.tokens("text"), 2))
    c2 = (
        d.select(bigrams.alias("g"))
        .groupBy("g")
        .agg(F.count("*").alias("c2"))
        .withColumn("w1", F.split("g", " ").getItem(0))
        # The trained model, referenced 3x (c1, V, scoring join). Without the
        # persist each reference RE-EXPLODES the corpus (lineage recompute);
        # with it the train pass runs once and the cached table is
        # vocabulary-bounded — the one thing worth caching at 100 TB.
        .persist()
    )
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    v = c2.agg(F.count_distinct("w1").cast("double").alias("v"))
    s = (
        d.select("doc_id", bigrams.alias("g"))
        .join(c2.drop("w1"), "g")
        .withColumn("w1", F.split("g", " ").getItem(0))
        .join(c1, "w1")
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.round(
                F.avg(F.log((F.col("c2") + F.lit(1.0)) / (F.col("c1") + F.col("v")))), 4
            ).alias("lm_score"),
        )
    )
    return (
        d.select("doc_id")
        .join(s, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0).cast("bigint")).alias("n_bigrams"),
            F.coalesce("lm_score", F.lit(0.0)).alias("lm_score"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Deterministic holdout split (train / val / test)
# ---------------------------------------------------------------------------

@query(
    "q_xa_split_holdout",
    oracle=r"""
    WITH d AS (
      SELECT source,
             substring(md5(doc_id::VARCHAR), 32, 1) AS h,
             CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                  x -> x <> '')) AS BIGINT) AS nt
      FROM documents)
    SELECT source,
           CASE WHEN h = 'f' THEN 'test'
                WHEN h IN ('d', 'e') THEN 'val'
                ELSE 'train' END AS split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(nt) AS BIGINT) AS n_tokens
    FROM d GROUP BY source, split ORDER BY source, split
    """,
)
def q_xa_split_holdout(spark, sf_dir):
    """Deterministic train/val/test assignment: a document's split is a pure
    function of its id (last hex nibble of ``md5(doc_id)`` — 13/16 train,
    2/16 val, 1/16 test), so the split is stable across runs, engines, and
    re-shards — the property a training pipeline needs so no eval document
    ever drifts into train when the corpus is re-processed. md5-of-string is
    bit-identical between Spark and DuckDB, which makes the assignment
    itself (not just the counts) oracle-checkable.

    Map-only over the corpus (the assignment is a row predicate; the same
    expression used as a filter IS the production splitter); this query
    reports the realized per-source mixture for audit — one partial-agg
    shuffle on ``(source, split)``, a handful of rows out.
    """
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 32, 1)
    split = (
        F.when(h == "f", F.lit("test"))
        .when(h.isin("d", "e"), F.lit("val"))
        .otherwise(F.lit("train"))
    )
    return (
        read_table(spark, sf_dir, "documents")
        .select("source", split.alias("split"), TXT.token_count("text").cast("bigint").alias("nt"))
        .groupBy("source", "split")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("nt").cast("bigint").alias("n_tokens"),
        )
        .orderBy("source", "split")
    )


# ---------------------------------------------------------------------------
# Line-level boilerplate removal (CCNet-style)
# ---------------------------------------------------------------------------

#: A line is boilerplate when it appears in more than this fraction of the
#: corpus' documents. Content lines in the fixture are unique per doc, so
#: the threshold separates cleanly at any scale factor.
BOILER_DOC_FRACTION = 0.05


@query(
    "q_xb_boilerplate",
    oracle=f"""
    WITH injected AS (
      SELECT doc_id,
             'subscribe to newsletter variant ' || CAST(doc_id % 3 AS VARCHAR)
               || chr(10) || text ||
             CASE WHEN doc_id % 5 <> 0
                  THEN chr(10) || 'copyright footer variant '
                       || CAST(doc_id % 2 AS VARCHAR)
                  ELSE '' END AS text2
      FROM documents),
    lines AS (
      SELECT doc_id, unnest(string_split(text2, chr(10))) AS line
      FROM injected),
    boiler AS (
      SELECT line FROM lines
      GROUP BY line
      HAVING count(DISTINCT doc_id) >
             {BOILER_DOC_FRACTION} * (SELECT count(*) FROM documents)),
    bl AS (SELECT coalesce(list(line), []) AS bl FROM boiler),
    cleaned AS (
      SELECT i.doc_id,
             list_filter(string_split(i.text2, chr(10)),
                         x -> NOT list_contains(b.bl, x)) AS keep,
             len(string_split(i.text2, chr(10))) AS n_before
      FROM injected i CROSS JOIN bl b)
    SELECT doc_id,
           CAST(n_before AS BIGINT) AS n_lines,
           CAST(n_before - len(keep) AS BIGINT) AS n_removed,
           array_to_string(keep, chr(10)) AS clean_text
    FROM cleaned ORDER BY doc_id
    """,
)
def q_xb_boilerplate(spark, sf_dir):
    """CCNet-style line-level boilerplate removal, value-checked end to end.

    Web-scraped corpora repeat navigation/footer lines across millions of
    pages; CCNet-style pipelines drop any line occurring in more than a
    small fraction of documents. Fixture docs have no newlines, so (same
    pattern as q_ns_scrub's injected PII) deterministic boilerplate is
    injected first — a header in every doc (3 variants by ``doc_id % 3``)
    and a footer in 80% of docs (2 variants) — then removed by frequency.

    Scale shape: one partial-agg shuffle counts distinct docs per line
    (map-side combine collapses the per-doc repeats), the surviving
    boilerplate set is SMALL BY DEFINITION (each line covers > fraction*N
    docs, so there are < 1/fraction of them) and **broadcast**; the corpus
    is then cleaned with JVM array functions (``filter`` +
    ``array_contains`` against the broadcast set) — the full text never
    shuffles, and the rebuild preserves line order without a window.
    """
    d = spread(read_table(spark, sf_dir, "documents"))
    text2 = F.concat(
        F.lit("subscribe to newsletter variant "),
        (F.col("doc_id") % 3).cast("string"),
        F.lit("\n"),
        F.col("text"),
        F.when(
            F.col("doc_id") % 5 != 0,
            F.concat(
                F.lit("\ncopyright footer variant "),
                (F.col("doc_id") % 2).cast("string"),
            ),
        ).otherwise(F.lit("")),
    )
    injected = d.select("doc_id", text2.alias("text2"))
    lines = injected.select(
        "doc_id", F.explode(F.split("text2", "\n")).alias("line")
    )
    n_docs = d.agg(F.count("*").alias("n_docs"))
    boiler = (
        lines.groupBy("line")
        .agg(F.count_distinct("doc_id").alias("line_df"))
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("line_df") > BOILER_DOC_FRACTION * F.col("n_docs"))
        .agg(F.collect_set("line").alias("bl"))
    )
    split_lines = F.split("text2", "\n")
    keep = F.filter(split_lines, lambda x: ~F.array_contains("bl", x))
    return (
        injected.crossJoin(F.broadcast(boiler))
        .select(
            "doc_id",
            F.size(split_lines).cast("bigint").alias("n_lines"),
            (F.size(split_lines) - F.size(keep)).cast("bigint").alias("n_removed"),
            F.array_join(keep, "\n").alias("clean_text"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Incremental dedup (new batch vs existing corpus)
# ---------------------------------------------------------------------------

@query(
    "q_xd_incremental_dedup",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 4 <> 0),
    batch AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0
      UNION ALL
      SELECT doc_id + 2000000 AS doc_id, text FROM documents
      WHERE doc_id % 8 = 1),
    fp AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
      FROM batch),
    cfp AS (
      SELECT DISTINCT
             md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
      FROM corpus),
    fresh AS (
      SELECT f.doc_id, f.fp FROM fp f ANTI JOIN cfp c ON f.fp = c.fp),
    keep AS (
      SELECT min(doc_id) AS doc_id FROM fresh GROUP BY fp)
    SELECT b.doc_id,
           CAST(b.doc_id >= 2000000 AS INT) AS reingested
    FROM batch b SEMI JOIN keep k ON b.doc_id = k.doc_id
    ORDER BY b.doc_id
    """,
)
def q_xd_incremental_dedup(spark, sf_dir):
    """Incremental dedup, value-checked end to end: documents split into an
    existing "lake" (3/4 of ids) and a new ingest batch (the other 1/4,
    plus planted re-ingests — every 8th lake doc re-submitted under a new
    id, which ``operators.dedup.dedup_against`` must drop because the
    content fingerprint already exists in the corpus). Expected output:
    every genuinely-new doc survives, every planted re-ingest is dropped
    (``reingested`` = 0 for all survivors).

    Scale shape (see the operator): the anti-join and keep-one shuffle only
    16-byte md5 digests; neither side's text moves, and md5-of-normalized-
    text is bit-identical across engines so the whole decision — not just
    the counts — is oracle-checked.
    """
    from ..operators.dedup import dedup_against

    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.filter(F.col("doc_id") % 4 != 0)
    batch = d.filter(F.col("doc_id") % 4 == 0).unionByName(
        d.filter(F.col("doc_id") % 8 == 1).select(
            (F.col("doc_id") + 2_000_000).alias("doc_id"), "text"
        )
    )
    survivors = dedup_against(batch, corpus)
    return survivors.select(
        "doc_id", (F.col("doc_id") >= 2_000_000).cast("int").alias("reingested")
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Content-defined chunking (CDC)
# ---------------------------------------------------------------------------

def _cdc_cte(src: str, prefix: str) -> str:
    """Reusable DuckDB CDC replay: chunk the docs CTE ``src`` (columns
    doc_id, text) into ``{prefix}chunks(doc_id, chunk_id, chunk, n_bytes)``.
    Same codepoint-level rolling hash as operators.cdc (``ord(text[i])`` is
    the codepoint of the i-th character, matching the operator's utf-32
    view; precomputed power constants), same candidate rule, and the
    sequential min/max boundary selection as a recursive CTE (the
    greedy-packing oracle pattern). ``n_bytes`` is ``strlen`` — the true
    UTF-8 byte length, as the operator reports."""
    from ..operators.cdc import _BASE, _MOD, _WINDOW

    avg, min_s, max_s = CDC_AVG, CDC_MIN, CDC_MAX
    pows = [pow(_BASE, j, _MOD) for j in range(_WINDOW)]
    hash_expr = (
        "("
        + " + ".join(f"CAST(ord(t[i+{j}]) AS BIGINT) * {pows[j]}" for j in range(_WINDOW))
        + f") % {_MOD}"
    )
    cand = f"list_min(list_filter(p.cands, e -> e >= c.nxt + {min_s}))"
    inf = 1 << 40
    return f"""
    {prefix}pos AS (
      SELECT doc_id, text AS t, length(text) AS n,
        list_sort(list_filter(
          list_transform(range(1, greatest(length(text) - {_WINDOW - 2}, 1)),
                         i -> CASE WHEN ({hash_expr.replace('t[', 'text[')}) % {avg} = {avg - 1}
                              THEN i + {_WINDOW - 1} ELSE NULL END),
          x -> x IS NOT NULL)) AS cands
      FROM {src}),
    {prefix}cuts(doc_id, k, last, nxt) AS (
      SELECT doc_id, -1, 0, 0 FROM {prefix}pos
      UNION ALL
      SELECT p.doc_id, c.k + 1, c.nxt,
        CASE
          WHEN {cand} IS NOT NULL
               AND {cand} <= (CASE WHEN c.nxt + {max_s} <= p.n
                                   THEN c.nxt + {max_s} ELSE {inf} END)
            THEN {cand}
          WHEN c.nxt + {max_s} <= p.n THEN c.nxt + {max_s}
          WHEN c.nxt < p.n THEN p.n
          ELSE NULL
        END
      FROM {prefix}cuts c JOIN {prefix}pos p USING (doc_id)
      WHERE c.nxt IS NOT NULL AND c.nxt < p.n
    ),
    {prefix}chunks AS (
      SELECT c.doc_id, CAST(c.k AS BIGINT) AS chunk_id,
             substring(p.t, c.last + 1, c.nxt - c.last) AS chunk,
             CAST(strlen(substring(p.t, c.last + 1, c.nxt - c.last)) AS BIGINT)
               AS n_bytes
      FROM {prefix}cuts c JOIN {prefix}pos p USING (doc_id)
      WHERE c.k >= 0 AND c.nxt IS NOT NULL
      UNION ALL  -- empty doc → one empty chunk (operator's [0] boundary)
      SELECT doc_id, CAST(0 AS BIGINT), '', CAST(0 AS BIGINT)
      FROM {prefix}pos WHERE n = 0
    )"""


def _cdc_oracle() -> str:
    return f"""
    WITH RECURSIVE
    {_cdc_cte("documents", "")}
    SELECT doc_id, chunk_id, chunk, n_bytes
    FROM chunks ORDER BY doc_id, chunk_id
    """


@query("q_xe_cdc_chunks", oracle=_cdc_oracle())
def q_xe_cdc_chunks(spark, sf_dir):
    """Content-defined chunking, value-checked end to end.

    Unlike fixed-offset chunking (q_x1 — every boundary moves when a byte
    is inserted upstream), CDC boundaries are a pure function of LOCAL
    content (rolling-hash condition), so identical suffixes re-chunk
    identically across corpus versions — the property chunk-level dedup and
    delta storage need. Map-only mapInPandas (the rolling hash is
    inherently per-byte sequential — the sanctioned Python escape hatch;
    window hashes are numpy-vectorized); no shuffle. The DuckDB oracle
    replays the hash with precomputed power constants and the sequential
    min/max boundary selection as a recursive CTE, so the whole decision —
    byte-exact chunks — is hash-checked, not just counts. Edit-stability
    and losslessness are property-tested (tests/test_pipeline_ops.py).
    """
    from ..operators.cdc import cdc_chunks

    return cdc_chunks(spread(read_table(spark, sf_dir, "documents"))).orderBy("doc_id", "chunk_id")


# ---------------------------------------------------------------------------
# Chunk-level cross-version dedup (the CDC payoff, composed)
# ---------------------------------------------------------------------------

#: Deterministic "new crawl" edit: every 3rd document gains this prefix.
CHUNK_DEDUP_EDIT = "REVISED 2026: "


def _chunk_dedup_oracle() -> str:
    v2_src = f"""(
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0
                  THEN '{CHUNK_DEDUP_EDIT}' || text ELSE text END AS text
      FROM documents)"""
    return f"""
    WITH RECURSIVE
    {_cdc_cte("documents", "v1")},
    {_cdc_cte(v2_src, "v2")},
    v1fp AS (SELECT DISTINCT md5(chunk) AS fp FROM v1chunks),
    stats AS (
      SELECT CAST(c.doc_id % 3 = 0 AS INT) AS edited,
             CAST(count(*) AS BIGINT) AS n_chunks,
             CAST(sum(CASE WHEN f.fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup
      FROM v2chunks c LEFT JOIN v1fp f ON md5(c.chunk) = f.fp
      GROUP BY 1)
    SELECT edited, n_chunks, n_dup,
           round(n_dup * 1.0 / n_chunks, 6) AS dedup_ratio
    FROM stats ORDER BY edited
    """


@query("q_xf_chunk_dedup", oracle=_chunk_dedup_oracle())
def q_xf_chunk_dedup(spark, sf_dir):
    """Chunk-level dedup across two corpus versions — the composed payoff of
    content-defined chunking, value-checked end to end.

    Version 2 simulates a re-crawl: every 3rd document gains a deterministic
    prefix (page chrome changed, body identical). Both versions are
    CDC-chunked, v1's chunk fingerprints form the dedup index, and v2's
    chunks probe it. Because CDC boundaries are content-defined, edited
    documents still share almost all their chunks with v1 (only the head
    re-chunks), so the edited class shows a high dedup ratio — with
    fixed-offset chunking it would be ~0 and the re-crawl would be stored
    twice. Unedited docs dedup at exactly 1.0 (byte-identical chunking —
    determinism across runs, pinned by the oracle).

    Scale shape: chunking is map-only; the dedup join shuffles 16-byte
    md5 digests (never chunk text — same discipline as
    q_xd_incremental_dedup); output is 2 audit rows.
    """
    from ..operators.cdc import cdc_chunks

    d = spread(read_table(spark, sf_dir, "documents")).select("doc_id", "text")
    v2_docs = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0, F.concat(F.lit(CHUNK_DEDUP_EDIT), F.col("text"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    v1fp = cdc_chunks(d).select(F.md5("chunk").alias("fp")).distinct()
    v2 = cdc_chunks(v2_docs).select(
        (F.col("doc_id") % 3 == 0).cast("int").alias("edited"),
        F.md5("chunk").alias("fp"),
    )
    return (
        v2.join(v1fp.withColumn("hit", F.lit(1)), "fp", "left")
        .groupBy("edited")
        .agg(
            F.count("*").cast("bigint").alias("n_chunks"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("bigint").alias("n_dup"),
        )
        .select(
            "edited",
            "n_chunks",
            "n_dup",
            F.round(F.col("n_dup") / F.col("n_chunks"), 6).alias("dedup_ratio"),
        )
        .orderBy("edited")
    )


def build_chunk_fp_index(docs: "DataFrame", table: str) -> "DataFrame":
    """Persist the distinct CDC chunk fingerprints of ``docs`` as an
    8-bucket managed table (hash-bucketed AND sorted on ``fp``) and return
    it. This is the production "delta ingest" index shape: the
    distinct+shuffle on the corpus's fingerprints is paid ONCE at write
    time; every later crawl probes the index with an equi-join on ``fp``
    that reads the index bucket-aligned — no exchange on the index side
    (plan-asserted in tests/test_bucketing.py), only the (much smaller)
    new batch shuffles. At 100 TB the index is far bigger than any
    ingest batch, so which side re-shuffles is the whole cost model."""
    from ..operators.cdc import cdc_chunks
    from ..sources.bucketing import write_bucketed

    fps = cdc_chunks(docs).select(F.md5("chunk").alias("fp")).distinct()
    return write_bucketed(fps, table, ["fp"], 8)


@query("q_xg_chunk_dedup_bucketed", oracle=_chunk_dedup_oracle())
def q_xg_chunk_dedup_bucketed(spark, sf_dir):
    """q_xf's chunk-level cross-version dedup, probed against a PERSISTED
    bucketed fingerprint index instead of a recomputed one — the
    production delta-ingest shape (same oracle: persistence must not
    change the answer). The v1 index is rebuilt here each run for
    determinism (a production pipeline writes it once per corpus
    version); the join itself reads the index with no exchange when the
    plan goes sort-merge (bucket-aligned scan), so only the new crawl's
    fingerprints ever shuffle. Index table name carries the sf tag so
    scales never cross-contaminate."""
    import re as _re

    from ..operators.cdc import cdc_chunks

    tag = _re.sub(r"\W+", "_", sf_dir).strip("_")
    d = spread(read_table(spark, sf_dir, "documents")).select("doc_id", "text")
    idx = build_chunk_fp_index(d, f"chunk_fp_index_v1_{tag}")
    v2_docs = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0, F.concat(F.lit(CHUNK_DEDUP_EDIT), F.col("text"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    v2 = cdc_chunks(v2_docs).select(
        (F.col("doc_id") % 3 == 0).cast("int").alias("edited"),
        F.md5("chunk").alias("fp"),
    )
    return (
        v2.join(idx.withColumn("hit", F.lit(1)), "fp", "left")
        .groupBy("edited")
        .agg(
            F.count("*").cast("bigint").alias("n_chunks"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("bigint").alias("n_dup"),
        )
        .select(
            "edited",
            "n_chunks",
            "n_dup",
            F.round(F.col("n_dup") / F.col("n_chunks"), 6).alias("dedup_ratio"),
        )
        .orderBy("edited")
    )


# ---------------------------------------------------------------------------
# Paragraph-level exact dedup (RefinedWeb-style sub-document dedup)
# ---------------------------------------------------------------------------

@query(
    "q_xh_para_dedup",
    oracle="""
    WITH p AS (
      SELECT doc_id, doc_id // 4 AS page_id, doc_id % 4 AS pos, text,
             md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
      FROM documents),
    k AS (SELECT fp, min(doc_id) AS keep_id FROM p GROUP BY fp)
    SELECT page_id,
           CAST(count(*) AS BIGINT) AS n_paras,
           CAST(count(*) FILTER (WHERE doc_id = keep_id) AS BIGINT) AS n_kept,
           coalesce(string_agg(text, chr(10) ORDER BY pos)
                      FILTER (WHERE doc_id = keep_id), '') AS clean_text
    FROM p JOIN k USING (fp)
    GROUP BY page_id ORDER BY page_id
    """,
)
def q_xh_para_dedup(spark, sf_dir):
    """Paragraph-level exact dedup across the corpus (RefinedWeb-style:
    drop every later occurrence of a repeated paragraph, keep the first,
    reassemble pages), value-checked end to end.

    Fixture docs are single paragraphs, so pages are synthesized by
    grouping 4 consecutive docs (page = doc_id div 4, paragraph position =
    doc_id mod 4); the fixture's natural exact-duplicate documents become
    exactly the repeated-paragraphs-across-pages pattern this operator
    exists for. Keep policy: global first occurrence (min doc id) per
    content fingerprint — same digest as q_ns_dedup_exact, so sub-document
    and document dedup compose on one fingerprint definition.

    Scale shape: the keep decision aggregates (fp 16B, id) pairs only —
    one partial-agg shuffle, no text; the keep-set joins back on the id
    (digest-sized rows on the build side), and full text moves exactly
    once, in the final page-reassembly shuffle, which any reassembling
    dedup needs. No window over fp: min-per-group + equi-join replaces the
    row_number pattern, so no single-partition sort and map-side combine
    collapses duplicate-heavy fingerprints early.
    """
    d = spread(read_table(spark, sf_dir, "documents")).select("doc_id", "text")
    paras = d.select(
        "doc_id",
        (F.col("doc_id") - (F.col("doc_id") % 4)).alias("page_base"),
        (F.col("doc_id") % 4).alias("pos"),
        "text",
        TXT.fingerprint("text").alias("fp"),
    ).withColumn("page_id", (F.col("page_base") / 4).cast("bigint"))
    keep_ids = (
        paras.select("fp", "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
        .withColumn("kept", F.lit(1))
    )
    flagged = paras.join(keep_ids, "doc_id", "left")
    kept_struct = F.when(
        F.col("kept") == 1, F.struct(F.col("pos"), F.col("text"))
    )
    return (
        flagged.groupBy("page_id")
        .agg(
            F.count("*").cast("bigint").alias("n_paras"),
            F.sum(F.coalesce("kept", F.lit(0))).cast("bigint").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)), lambda s: s.text
                ),
                "\n",
            ).alias("clean_text"),
        )
        .orderBy("page_id")
    )


# ---------------------------------------------------------------------------
# Cross-document repeated-span removal (exact-substring dedup, n-gram grain)
# ---------------------------------------------------------------------------

#: Span width (tokens) for cross-document duplicated-text removal. Production
#: exact-substring dedup uses ~50-token spans (Lee et al. 2021, public);
#: 6 is sized to the ~40-80-token fixture docs so removal is non-vacuous.
SPAN_N = 6
#: ord = doc_id * _SPAN_ORD + pos must be injective; fixture docs are far
#: below a million tokens.
_SPAN_ORD = 1 << 20


@query(
    "q_xi_span_dedup",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
                         x -> x <> '') AS t
      FROM documents),
    spans AS (
      SELECT doc_id, t,
             unnest(range(1, greatest(len(t) - {SPAN_N - 2}, 1))) AS pos
      FROM toks),
    grams AS (
      SELECT doc_id, pos,
             doc_id * {_SPAN_ORD} + pos AS ord,
             md5(array_to_string(t[pos:pos+{SPAN_N - 1}], ' ')) AS gfp
      FROM spans),
    gstat AS (
      SELECT gfp, count(*) AS c, min(ord) AS mino FROM grams GROUP BY gfp),
    dups AS (
      SELECT g.doc_id, g.pos
      FROM grams g JOIN gstat s USING (gfp)
      WHERE s.c >= 2 AND g.ord <> s.mino),
    cov AS (
      SELECT DISTINCT doc_id, pos + o AS tpos
      FROM dups, range({SPAN_N}) oo(o)),
    tok_pos AS (
      SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS tpos FROM toks),
    kept AS (
      SELECT tp.doc_id, tp.tpos, tp.t[tp.tpos] AS tok
      FROM tok_pos tp ANTI JOIN cov c
        ON tp.doc_id = c.doc_id AND tp.tpos = c.tpos),
    stats AS (
      SELECT tk.doc_id,
             CAST(len(tk.t) AS BIGINT) AS n_tokens,
             CAST(coalesce(d.n_dup, 0) AS BIGINT) AS n_dup_spans,
             CAST(len(tk.t) - coalesce(k.n_kept, 0) AS BIGINT) AS n_removed,
             coalesce(k.clean, '') AS clean_text
      FROM toks tk
      LEFT JOIN (SELECT doc_id, count(*) AS n_dup FROM dups GROUP BY doc_id) d
        USING (doc_id)
      LEFT JOIN (SELECT doc_id, count(*) AS n_kept,
                        string_agg(tok, ' ' ORDER BY tpos) AS clean
                 FROM kept GROUP BY doc_id) k
        USING (doc_id))
    SELECT doc_id, n_tokens, n_dup_spans, n_removed, clean_text
    FROM stats ORDER BY doc_id
    """,
)
def q_xi_span_dedup(spark, sf_dir):
    """Cross-document repeated-span removal, value-checked end to end — the
    n-gram-granular approximation of exact-substring dedup (Lee et al.
    2021, "Deduplicating Training Data Makes Language Models Better",
    public): any ``SPAN_N``-token span occurring more than once across the
    corpus keeps only its globally-first occurrence (min (doc, pos) order);
    every other occurrence's tokens are removed and the documents
    reassembled. Document-level dedup (q_ns_dedup_*) misses this entirely:
    a paragraph quoted by a thousand distinct pages survives all of them.

    Scale shape: the dup decision aggregates span FINGERPRINTS (md5 of the
    gram — identical in DuckDB, so the oracle parity survives; the gram
    text itself never shuffles); duplicate occurrences explode to at most
    ``SPAN_N x dup_spans`` covered token positions (duplicate-density
    bound, not corpus bound); the reassembly anti-join + groupBy shuffles
    token-position pairs once. No window over the corpus, no Python.
    """
    d = spread(read_table(spark, sf_dir, "documents")).select("doc_id", "text")
    toks = d.select("doc_id", TXT.tokens("text").alias("t"))
    grams = toks.select(
        "doc_id",
        F.posexplode(TXT.word_ngrams(F.col("t"), SPAN_N)).alias("pos0", "gram"),
    ).select(
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),
        (F.col("doc_id") * _SPAN_ORD + F.col("pos0") + 1).alias("ord"),
        F.md5("gram").alias("gfp"),
    )
    gstat = grams.groupBy("gfp").agg(
        F.count("*").alias("c"), F.min("ord").alias("mino")
    )
    dups = (
        grams.join(gstat, "gfp")
        .filter((F.col("c") >= 2) & (F.col("ord") != F.col("mino")))
        .select("doc_id", "pos")
    )
    cov = (
        dups.select(
            "doc_id", F.explode(F.sequence(F.col("pos"), F.col("pos") + SPAN_N - 1)).alias("tpos")
        )
        .distinct()
    )
    tok_pos = toks.select(
        "doc_id", F.posexplode("t").alias("tpos0", "tok")
    ).select("doc_id", (F.col("tpos0") + 1).alias("tpos"), "tok")
    kept = tok_pos.join(cov, ["doc_id", "tpos"], "left_anti")
    kept_agg = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("tpos", "tok"))),
                lambda s: s.tok,
            ),
            " ",
        ).alias("clean"),
    )
    dup_agg = dups.groupBy("doc_id").agg(F.count("*").alias("n_dup"))
    return (
        toks.select("doc_id", F.size("t").cast("bigint").alias("n_tokens"))
        .join(dup_agg, "doc_id", "left")
        .join(kept_agg, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_dup", F.lit(0)).cast("bigint").alias("n_dup_spans"),
            (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0)))
            .cast("bigint")
            .alias("n_removed"),
            F.coalesce("clean", F.lit("")).alias("clean_text"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Curation filter funnel (ordered-rule attrition audit)
# ---------------------------------------------------------------------------

#: Ordered curation rules (Gopher/CCNet-style gates, thresholds tuned to
#: be non-vacuous on the synthetic fixture — every stage drops someone at
#: sf0.01). A document is charged to its FIRST failing rule, so stage
#: counts compose into a funnel: n_in(k+1) = n_out(k).
FUNNEL_RULE_NAMES = (
    "len_gate",      # 1: n_chars in [100, 520]
    "lang_known",    # 2: lang in the supported set
    "min_tokens",    # 3: >= 25 whitespace tokens
    "ttr",           # 4: type-token ratio >= 0.4 (10*distinct >= 4*n)
    "token_shape",   # 5: mean token length in [4.2, 4.8] (x10 integer)
)
FUNNEL_LANGS = ("en", "de", "fr", "es")

_FF_TOKS_SQL = r"list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t != '')"


def with_funnel_fail(docs):
    """Append the funnel ``fail`` column: the 1-based FIRST failing gate
    (1 len_gate, 2 lang_known, 3 min_tokens, 4 ttr, 5 token_shape), 0 if
    the document passes every gate. Reads ``n_chars``, ``lang``, ``text``
    — callers composing the funnel mid-pipeline (after a text rewrite)
    must recompute ``n_chars`` first. One map-only projection, all gates
    exact-integer; shared by ``q_dt_filter_funnel`` and the composed
    privacy release gate (tests/test_pipeline_ops.py), so the audit query
    and the composition can never disagree on gate semantics."""
    toks = TXT.tokens("text")
    n_tok = F.size(toks).cast("bigint")
    n_dist = F.size(F.array_distinct(toks)).cast("bigint")
    tok_chars = F.length(
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", "")
    ).cast("bigint")
    lang = F.coalesce("lang", F.lit(""))
    fail = (
        F.when(~F.col("n_chars").between(100, 520), 1)
        .when(~lang.isin(*FUNNEL_LANGS), 2)
        .when(n_tok < 25, 3)
        .when(n_dist * 10 < n_tok * 4, 4)
        .when(~(tok_chars * 10).between(n_tok * 42, n_tok * 48), 5)
        .otherwise(0)
    )
    return docs.withColumn("fail", fail)


@query(
    "q_dt_filter_funnel",
    oracle=f"""
    WITH t AS (
      SELECT n_chars, coalesce(lang, '') AS lang,
             CAST(len({_FF_TOKS_SQL}) AS BIGINT) AS n_tok,
             CAST(len(list_distinct({_FF_TOKS_SQL})) AS BIGINT) AS n_dist,
             CAST(length(regexp_replace(lower(trim(text)), '\\s+', '', 'g'))
                  AS BIGINT) AS tok_chars
      FROM documents),
    f AS (
      SELECT CASE
               WHEN n_chars NOT BETWEEN 100 AND 520 THEN 1
               WHEN lang NOT IN {FUNNEL_LANGS!r} THEN 2
               WHEN n_tok < 25 THEN 3
               WHEN n_dist * 10 < n_tok * 4 THEN 4
               WHEN tok_chars * 10 NOT BETWEEN n_tok * 42 AND n_tok * 48
                 THEN 5
               ELSE 0 END AS fail
      FROM t),
    drops AS (SELECT fail, CAST(count(*) AS BIGINT) AS n FROM f GROUP BY fail),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM f),
    stages(stage, rule) AS (VALUES
      (1, 'len_gate'), (2, 'lang_known'), (3, 'min_tokens'),
      (4, 'ttr'), (5, 'token_shape'))
    SELECT CAST(s.stage AS BIGINT) AS stage, s.rule,
           CAST(tot.n - coalesce(SUM(coalesce(d.n, 0)) OVER
                  (ORDER BY s.stage
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS n_in,
           CAST(coalesce(d.n, 0) AS BIGINT) AS n_dropped,
           CAST(tot.n - coalesce(SUM(coalesce(d.n, 0)) OVER
                  (ORDER BY s.stage
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
                AS BIGINT) AS n_out,
           round(CAST(coalesce(d.n, 0) AS DOUBLE)
                 / (tot.n - coalesce(SUM(coalesce(d.n, 0)) OVER
                      (ORDER BY s.stage
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)),
                 6) AS drop_share
    FROM stages s LEFT JOIN drops d ON d.fail = s.stage CROSS JOIN tot
    ORDER BY stage
    """,
)
def q_dt_filter_funnel(spark, sf_dir):
    """CURATION FILTER FUNNEL — the attrition audit every production
    cleaning pipeline publishes (RefinedWeb table 2, Gopher appendix A,
    CCNet fig. 1 all report exactly this shape): five ordered quality
    gates (length, language, token count, type-token ratio, token shape),
    each document charged to its FIRST failing rule, per-stage
    n_in/n_dropped/n_out/drop_share. Composes the engine's individual
    quality signals (q_ns_quality, q_x8 repetition, q_x9 LM score) into
    the decision layer that actually gates training data — and because
    stages compose (n_in(k+1) = n_out(k)), the output is self-auditing.
    All gates are exact-integer comparisons (type-token and token-shape
    via cross-multiplication, never a float ratio), so both engines make
    identical keep/drop decisions; the one double is the final
    drop_share close.

    Scale shape: ONE scan computes per-doc token stats JVM-side
    (split/list ops, no explode, no shuffle), one 6-group aggregate, and
    a constant 5-row funnel tail. 100 TB = one scan + a 6-row reduce.
    """
    t = with_funnel_fail(read_table(spark, sf_dir, "documents")).select("fail")
    drops = t.groupBy("fail").agg(
        F.count("*").cast("bigint").alias("n")
    )
    tot = t.agg(F.count("*").cast("bigint").alias("n_total"))
    stages = local_frame(
        spark,
        [(i + 1, name) for i, name in enumerate(FUNNEL_RULE_NAMES)],
        "stage long, rule string",
    )
    w_prev = Window.orderBy("stage").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_cur = Window.orderBy("stage").rowsBetween(
        Window.unboundedPreceding, 0
    )
    joined = (
        stages.join(
            F.broadcast(drops.withColumnRenamed("fail", "stage")),
            "stage",
            "left",
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "stage",
            "rule",
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n_dropped"),
            "n_total",
        )
    )
    return joined.select(
        "stage",
        "rule",
        (
            F.col("n_total")
            - F.coalesce(F.sum("n_dropped").over(w_prev), F.lit(0))
        )
        .cast("bigint")
        .alias("n_in"),
        "n_dropped",
        (F.col("n_total") - F.sum("n_dropped").over(w_cur))
        .cast("bigint")
        .alias("n_out"),
        F.round(
            F.col("n_dropped").cast("double")
            / (
                F.col("n_total")
                - F.coalesce(F.sum("n_dropped").over(w_prev), F.lit(0))
            ).cast("double"),
            6,
        ).alias("drop_share"),
    ).orderBy("stage")


# ---------------------------------------------------------------------------
# Deterministic weighted-interleave curriculum schedule
# ---------------------------------------------------------------------------

#: Schedule prefix length returned by q_ds (TakeOrderedAndProject bound).
CURRICULUM_TAKE = 200
#: Per-source weight: 1 + (numeric source suffix mod 3) in {1,2,3} — a
#: pure function of the key (hash-checkable; production would use the
#: mixing weights from q_x4/q_y5). LCM(1,2,3)=6 makes every stride
#: 6 DIV w an exact integer, so schedule positions never touch floats.
_CURRICULUM_W = "(1 + CAST(substr(source, 4, 8) AS INT) % 3)"


@query(
    "q_ds_curriculum_interleave",
    oracle=f"""
    WITH ranked AS (
      SELECT source, doc_id,
             row_number() OVER (PARTITION BY source ORDER BY doc_id)
               AS rank_in_src,
             {_CURRICULUM_W} AS w
      FROM documents),
    sched AS (
      SELECT CAST(rank_in_src * (6 // w) AS BIGINT) AS pos,
             source, doc_id, CAST(w AS BIGINT) AS w
      FROM ranked
      ORDER BY pos, source, doc_id
      LIMIT {CURRICULUM_TAKE})
    SELECT CAST(row_number() OVER (ORDER BY pos, source, doc_id) AS BIGINT)
             AS seq,
           pos, source, doc_id, w
    FROM sched
    ORDER BY seq
    """,
)
def q_ds_curriculum_interleave(spark, sf_dir):
    """DETERMINISTIC WEIGHTED INTERLEAVE — the training-ORDER schedule
    the mixing entries stop short of (q_x4 picks proportions, q_y5
    temperature-rebalances counts; neither says which example comes
    NEXT). Each source emits its rank-k document at integer position
    ``k * (LCM/w)`` — weighted round-robin / examples-proportional
    interleaving (the deterministic twin of tf.data sample_from_datasets
    and the T5 mixing schedule, Raffel et al. 2020 §3.5.2): a source
    with weight w appears w times as often, evenly spaced, no RNG. The
    stride LCM(weights)=6 keeps every position an exact integer, so both
    engines order identically with zero float comparisons; ties resolve
    (source, doc_id). Returns the first {CURRICULUM_TAKE} schedule slots.

    Scale shape: one source-grain window (single shuffle) + a global
    TakeOrderedAndProject bounded by the take — no global sort of the
    corpus; the full schedule would be written partition-parallel by
    repartitionByRange(pos) at 100 TB.
    """
    d = read_table(spark, sf_dir, "documents").select("source", "doc_id")
    ranked = d.select(
        "source",
        "doc_id",
        F.row_number()
        .over(Window.partitionBy("source").orderBy("doc_id"))
        .alias("rank_in_src"),
        F.expr(_CURRICULUM_W).alias("w"),
    )
    sched = (
        ranked.select(
            F.expr("CAST(rank_in_src * (6 DIV w) AS BIGINT)").alias("pos"),
            "source",
            "doc_id",
            F.col("w").cast("bigint").alias("w"),
        )
        .orderBy("pos", "source", "doc_id")
        .limit(CURRICULUM_TAKE)
    )
    return sched.select(
        F.row_number()
        .over(Window.orderBy("pos", "source", "doc_id"))
        .cast("bigint")
        .alias("seq"),
        "pos",
        "source",
        "doc_id",
        "w",
    ).orderBy("seq")


# ---------------------------------------------------------------------------
# Privacy & provenance curation layer (round 10): PII redaction, URL
# canonicalization, padding-waste bucketing, k-anonymity, blocklist join.
# ---------------------------------------------------------------------------

#: Deterministic PII injection (both engines verbatim): ~3/4 of docs gain one
#: synthetic contact string derived from doc_id — emails / phone / IPv4 in
#: equal shares, 1/4 of docs stay clean so redaction is non-vacuous both
#: ways. floor(x/256.0) instead of integer division: `//` (DuckDB) and
#: `DIV` (Spark) don't share a spelling; doc_id >= 0 keeps floor exact.
_PII_SQL = (
    "text || CASE CAST(doc_id % 4 AS INT) "
    "WHEN 0 THEN ' contact user' || doc_id || '@mail' || (doc_id % 5)"
    " || '.example.com' "
    "WHEN 1 THEN ' call 555-' || (1000 + doc_id % 9000) "
    "WHEN 2 THEN ' from 10.' || (doc_id % 256) || '.'"
    " || (CAST(floor(doc_id / 256.0) AS BIGINT) % 256) || '.' || (doc_id % 250) "
    "ELSE '' END"
)

#: Detection patterns — shared verbatim (Java regex and RE2 agree on this
#: subset: char classes, bounded/unbounded quantifiers, no lookaround).
PII_EMAIL = r"[a-z0-9]+@[a-z0-9.]+\.com"
PII_PHONE = r"555-[0-9]{4}"
PII_IP = r"10\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"


@query(
    "q_du_pii_redact",
    oracle=f"""
    WITH p AS (SELECT doc_id, source, {_PII_SQL} AS t FROM documents),
    m AS (
      SELECT source,
             len(regexp_extract_all(t, '{PII_EMAIL}')) AS ne,
             len(regexp_extract_all(t, '{PII_PHONE}')) AS np,
             len(regexp_extract_all(t, '{PII_IP}')) AS ni,
             length(t) - length(
               regexp_replace(regexp_replace(regexp_replace(
                 t, '{PII_EMAIL}', '[EMAIL]', 'g'),
                 '{PII_PHONE}', '[PHONE]', 'g'),
                 '{PII_IP}', '[IP]', 'g')) AS dchars
      FROM p)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN ne + np + ni > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_with_pii,
           CAST(sum(ne) AS BIGINT) AS n_emails,
           CAST(sum(np) AS BIGINT) AS n_phones,
           CAST(sum(ni) AS BIGINT) AS n_ips,
           CAST(sum(dchars) AS BIGINT) AS chars_redacted
    FROM m GROUP BY source ORDER BY source
    """,
)
def q_du_pii_redact(spark, sf_dir):
    """PII scan + redaction audit — the privacy pass every LLM training
    corpus runs before release (emails / phone numbers / IPv4 literals
    detected by regex, replaced by typed placeholders), reported per
    source: docs affected, matches per category, and the exact character
    delta the redaction removed. The fixture's synthetic text carries no
    PII, so a deterministic doc_id-derived contact string is injected
    into 3/4 of docs IDENTICALLY in both engines (``_PII_SQL``) — the
    detection, the redaction rewrite, and the byte accounting are all
    value-checked, not just the counts.

    Scale shape: one map-only pass — every regex is a codegen'd JVM
    expression over the text column (detect via ``regexp_extract_all``
    size, redact via chained global ``regexp_replace``), followed by a
    per-source partial aggregation; the full text never shuffles and
    nothing leaves the JVM. At 100 TB this is scan-bound, exactly like
    the quality gates it composes with (q_dt_filter_funnel).
    """
    t = F.expr(_PII_SQL)
    d = spread(read_table(spark, sf_dir, "documents")).select(
        "source", t.alias("t")
    )
    ne = F.size(F.regexp_extract_all("t", F.lit(PII_EMAIL), F.lit(0)))
    np_ = F.size(F.regexp_extract_all("t", F.lit(PII_PHONE), F.lit(0)))
    ni = F.size(F.regexp_extract_all("t", F.lit(PII_IP), F.lit(0)))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("t", F.lit(PII_EMAIL), F.lit("[EMAIL]")),
            F.lit(PII_PHONE),
            F.lit("[PHONE]"),
        ),
        F.lit(PII_IP),
        F.lit("[IP]"),
    )
    m = d.select(
        "source",
        ne.alias("ne"),
        np_.alias("np"),
        ni.alias("ni"),
        (F.length("t") - F.length(redacted)).alias("dchars"),
    )
    return (
        m.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(
                F.when(F.col("ne") + F.col("np") + F.col("ni") > 0, 1).otherwise(0)
            )
            .cast("bigint")
            .alias("docs_with_pii"),
            F.sum("ne").cast("bigint").alias("n_emails"),
            F.sum("np").cast("bigint").alias("n_phones"),
            F.sum("ni").cast("bigint").alias("n_ips"),
            F.sum("dchars").cast("bigint").alias("chars_redacted"),
        )
        .orderBy("source")
    )


#: Messy-URL synthesis: five raw variants per canonical target (shared page
#: id = floor(doc_id/5)) — plain, uppercased host, trailing slash, utm_*
#: tracking params, fragment. Shared verbatim by both engines.
_PID = "CAST(floor(doc_id / 5.0) AS BIGINT)"
_RAWURL_SQL = (
    f"CASE CAST(doc_id % 5 AS INT) "
    f"WHEN 1 THEN 'https://CDN' || ({_PID} % 3) || '.EXAMPLE.ORG/p/' || {_PID} "
    f"WHEN 2 THEN 'https://cdn' || ({_PID} % 3) || '.example.org/p/' || {_PID}"
    f" || '/' "
    f"WHEN 3 THEN 'https://cdn' || ({_PID} % 3) || '.example.org/p/' || {_PID}"
    f" || '?utm_source=feed&utm_campaign=x' "
    f"WHEN 4 THEN 'https://cdn' || ({_PID} % 3) || '.example.org/p/' || {_PID}"
    f" || '#section-2' "
    f"ELSE 'https://cdn' || ({_PID} % 3) || '.example.org/p/' || {_PID} END"
)


def _canon_sql(col: str) -> str:
    """Canonicalization pipeline as ONE shared SQL expression: strip
    fragment -> strip trailing utm_* query -> lowercase the scheme://host
    prefix (path case is preserved, per RFC 3986 host case-insensitivity)
    -> strip trailing slash. Every regexp matches at most once, so
    3-arg ``regexp_replace`` (first occurrence) means the same thing in
    Spark (global) and DuckDB (first)."""
    nofrag = f"regexp_replace({col}, '#.*$', '')"
    # [?] instead of \? — Spark SQL string literals consume backslash
    # escapes (DuckDB's don't), so the class spelling is the one that
    # parses identically in both dialects.
    noutm = f"regexp_replace({nofrag}, '[?]utm_[^#]*$', '')"
    lowered = (
        f"lower(regexp_extract({noutm}, '^https?://[^/]+', 0))"
        f" || regexp_replace({noutm}, '^https?://[^/]+', '')"
    )
    return f"regexp_replace({lowered}, '/$', '')"


# Canonical-URL dedup over five synthesized variants per page (_RAWURL_SQL),
# so the canonicalizer itself is checked: each group must reach n_docs = 5.
sql_query(
    "q_dv_url_canonical",
    f"""
    WITH u AS (SELECT doc_id, {_RAWURL_SQL} AS raw_url FROM documents),
    c AS (SELECT doc_id, raw_url, {_canon_sql("raw_url")} AS canonical_url
          FROM u)
    SELECT canonical_url,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT raw_url) AS BIGINT) AS n_variants,
           CAST(min(doc_id) AS BIGINT) AS keeper_doc_id
    FROM c GROUP BY canonical_url ORDER BY canonical_url
    """,
)


#: Padding buckets are powers of two with a floor of MIN_BUCKET tokens —
#: the bucketed-batching scheme most training stacks use when they don't
#: pack (q_x2/q_x7 are the packing alternative this audits against).
MIN_BUCKET = 16

#: DuckDB twin of functions.text.tokens()'s count (whitespace tokens,
#: empties dropped) — the same expression other document oracles use.
_NTOK_SQL = (
    r"len(list_filter(string_split_regex(lower(trim(text)), '\s+'),"
    r" x -> x <> ''))"
)


@query(
    "q_dw_length_buckets",
    oracle=f"""
    WITH t AS (SELECT {_NTOK_SQL} AS n FROM documents),
    b AS (
      SELECT n,
             CASE WHEN n <= {MIN_BUCKET} THEN {MIN_BUCKET}
                  ELSE (1::BIGINT << length(bin(n - 1))) END AS bucket
      FROM t)
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n) AS BIGINT) AS sum_tokens,
           CAST(bucket * count(*) AS BIGINT) AS padded_tokens,
           round(100.0 * (bucket * count(*) - sum(n))
                 / (bucket * count(*)), 6) AS waste_pct
    FROM b GROUP BY bucket ORDER BY bucket
    """,
)
def q_dw_length_buckets(spark, sf_dir):
    """Token-length power-of-two bucketing with a padding-waste audit —
    the batch-assembly economics readout: when sequences are padded to
    the next 2^k bucket (floor {MIN_BUCKET}) instead of packed, how many
    pad tokens does each bucket burn? Reports docs, real tokens, padded
    tokens, and waste%. The bucket function is INTEGER-EXACT in both
    engines — ``2^ceil(log2 n)`` computed as ``1 << length(bin(n-1))``,
    no float log that could round 2^k across the boundary — so bucket
    assignment itself is value-checked. Complements sequence packing
    (q_x2/q_x7): this measures the cost of NOT packing.

    Scale shape: map-only token count + a hash aggregation over ~a
    dozen bucket keys — partial aggregation collapses everything
    map-side, the cheapest distributed histogram there is."""
    t = spread(read_table(spark, sf_dir, "documents")).select(
        TXT.token_count("text").alias("n")
    )
    b = t.select(
        "n",
        F.when(F.col("n") <= MIN_BUCKET, F.lit(MIN_BUCKET))
        .otherwise(
            F.expr("shiftleft(CAST(1 AS BIGINT), length(bin(n - 1)))")
        )
        .cast("bigint")
        .alias("bucket"),
    )
    agg = b.groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n").cast("bigint").alias("sum_tokens"),
    )
    padded = F.col("bucket") * F.col("n_docs")
    return agg.select(
        "bucket",
        "n_docs",
        "sum_tokens",
        padded.cast("bigint").alias("padded_tokens"),
        F.round(
            100.0 * (padded - F.col("sum_tokens")) / padded, 6
        ).alias("waste_pct"),
    ).orderBy("bucket")


#: k-anonymity threshold: an equivalence class (unique quasi-identifier
#: combination) with fewer members is a re-identification risk.
K_ANON = 5

#: Quasi-identifier bucket width for the continuous attribute. 500 keeps
#: the audit non-vacuous at every fixture scale (~22 balance buckets x 25
#: nations x 5 segments ~ 2750 classes: sf0.01 makes most classes risky,
#: sf0.1 leaves a risky tail — both regimes exercised).
BAL_BUCKET = 500.0


# k-anonymity audit (Sweeney 2002): quasi-identifier classes smaller than
# K_ANON over (nation, segment, balance bucket).
sql_query(
    "q_dx_k_anonymity",
    f"""
    WITH cls AS (
      SELECT c_nationkey AS nation_key, c_mktsegment AS segment,
             CAST(floor(c_acctbal / {BAL_BUCKET}) AS BIGINT) AS bal_bucket,
             count(*) AS class_size
      FROM customer GROUP BY 1, 2, 3)
    SELECT nation_key, segment, bal_bucket,
           CAST(class_size AS BIGINT) AS class_size
    FROM cls WHERE class_size < {K_ANON}
    ORDER BY nation_key, segment, bal_bucket
    """,
)


#: Host synthesis (shared verbatim) + the blocklist. Rules are DOMAIN
#: SUFFIXES on label boundaries: 'src1.example.org' blocks every host
#: under that registered name; the longer exact-host rule overlaps it on
#: cdn2 deliberately (most-specific-rule selection is part of the check).
#: Rule lengths are distinct within any host's match set, so the
#: longest-match pick is tie-free in both engines.
_HOST_SQL = "'cdn' || (doc_id % 3) || '.' || source || '.example.org'"

#: Label-boundary suffix fan-out over a ``host`` column (Spark SQL) —
#: shared by q_dy_blocklist_suffix and the composed release-gate test so
#: the suffix semantics can never diverge between audit and composition.
_HOST_SUFFIXES_EXPR = (
    "transform(sequence(1, size(split(host, '\\\\.'))),"
    " i -> array_join(slice(split(host, '\\\\.'), i,"
    " size(split(host, '\\\\.'))), '.'))"
)
BLOCK_RULES = [
    "cdn2.src1.example.org",
    "src1.example.org",
    "src3.example.org",
]
_RULES_VALUES = ", ".join(f"('{r}')" for r in BLOCK_RULES)


@query(
    "q_dy_blocklist_suffix",
    oracle=f"""
    WITH u AS (SELECT doc_id, {_HOST_SQL} AS host FROM documents),
    p AS (SELECT doc_id, host, string_split(host, '.') AS parts FROM u),
    sfx AS (
      SELECT doc_id, host,
             unnest(list_transform(generate_series(1, len(parts)),
                    i -> array_to_string(parts[i:len(parts)], '.'))) AS sfx
      FROM p),
    r(rule) AS (VALUES {_RULES_VALUES}),
    hits AS (SELECT doc_id, host, rule FROM sfx JOIN r ON sfx.sfx = r.rule)
    SELECT doc_id, host, arg_max(rule, length(rule)) AS rule
    FROM hits GROUP BY doc_id, host ORDER BY doc_id
    """,
)
def q_dy_blocklist_suffix(spark, sf_dir):
    """Domain-blocklist filtering with LABEL-BOUNDARY suffix semantics —
    the crawl-curation gate string ``endswith`` gets wrong (a rule for
    ``src1.example.org`` must block ``cdn0.src1.example.org`` but never
    a host merely ending in the same characters, e.g. ``xsrc1.…``):
    each host explodes into its label suffixes (4 short strings), the
    suffix set equi-joins the broadcast blocklist, and each blocked doc
    reports its MOST SPECIFIC matching rule (longest match — the
    overlapping cdn2 exact-host rule checks the specificity pick).

    Scale shape: suffix fan-out is O(labels) ~ 4 short strings per doc,
    map-side; the blocklist broadcasts, so the candidate join is a
    map-only hash probe — no shuffle of the corpus at all; the per-doc
    longest-rule pick is a partial-aggregable max over a (length, rule)
    struct. The filter composes as an anti-join of the corpus against
    this output. MEASURED ceiling (BENCHNOTES.md, Round 11, warm
    medians): the rules-broadcast is rule-count-flat through ~1M rules,
    build-dominated past that (3.0s at 4M/~100 MB, 11.3s at 16M/~400 MB
    vs 0.7-1.6s for the forced shuffle). Past the ceiling, FORCE the shuffle (threshold=-1 or a
    MERGE hint) — left alone the planner flips the broadcast to the
    corpus fan-out side, which only works when the probe side is small
    and never at 100 TB; the forced shuffle still moves only the short
    (doc_id, sfx) fan-out rows, never the text."""
    u = spread(read_table(spark, sf_dir, "documents")).selectExpr(
        "doc_id", f"{_HOST_SQL} AS host"
    )
    sfx = u.select(
        "doc_id",
        "host",
        F.explode(F.expr(_HOST_SUFFIXES_EXPR)).alias("sfx"),
    )
    rules = local_frame(spark, [(r,) for r in BLOCK_RULES], "rule string")
    hits = sfx.join(F.broadcast(rules), F.col("sfx") == F.col("rule")).select(
        "doc_id", "host", "rule"
    )
    return (
        hits.groupBy("doc_id", "host")
        .agg(
            F.max(
                F.struct(F.length("rule").alias("l"), F.col("rule").alias("r"))
            )["r"].alias("rule")
        )
        .select("doc_id", "host", "rule")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Duplicate-cluster profile (dedup yield audit)
# ---------------------------------------------------------------------------

#: DuckDB twin of functions.text.fingerprint (md5 of normalized text) —
#: the exact-dedup key every dedup family in operators/dedup.py shuffles.
_FP_SQL = "md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))"

#: Injected-duplicate fixture (the parquet corpus has no exact dups):
#: every 5th doc gains one copy, every 25th a second — cluster sizes
#: 1/2/3, deterministic in both engines.
_DUP_SQL = (
    "SELECT doc_id, text FROM documents "
    "UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id % 5 = 0 "
    "UNION ALL SELECT doc_id + 200000, text FROM documents WHERE doc_id % 25 = 0"
)


@query(
    "q_dz_dup_profile",
    oracle=f"""
    WITH corpus AS ({_DUP_SQL}),
    clusters AS (
      SELECT {_FP_SQL} AS fp,
             CAST(count(*) AS BIGINT) AS sz,
             CAST(min(length(text)) AS BIGINT) AS doc_bytes
      FROM corpus GROUP BY fp)
    SELECT sz AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(sz) AS BIGINT) AS n_docs,
           CAST(sum(sz - 1) AS BIGINT) AS docs_removable,
           CAST(sum((sz - 1) * doc_bytes) AS BIGINT) AS bytes_removable
    FROM clusters GROUP BY sz ORDER BY cluster_size
    """,
)
def q_dz_dup_profile(spark, sf_dir):
    """DUPLICATE-CLUSTER PROFILE — the dedup-yield table every corpus
    dedup paper publishes (Lee et al. 2022 "Deduplicating Training Data
    Makes Language Models Better", public, reports exactly this
    histogram): group documents by content fingerprint, then report, per
    cluster size k, how many clusters exist and what removing all but
    one copy would save (docs and bytes). The decision input for
    WHETHER to dedup — run before q_ns_dedup_exact, not after. The
    fixture has no exact duplicates, so deterministic copies are
    injected (sizes 1/2/3) identically in both engines; the fingerprint
    is the SAME md5-of-normalized-text every dedup family shuffles
    (functions/text.py:fingerprint), so this profile predicts exactly
    what content_dedup would remove.

    Scale shape: one shuffle of 16-byte digests (never text) into
    fingerprint clusters with partial counts map-side, then a
    re-aggregation over ~a dozen cluster-size keys. The byte accounting
    rides min(length(text)) — computed map-side before the digest
    shuffle, so payload still never moves. 100 TB = the exact-dedup
    shuffle it prices out, minus the keeper semi-join."""
    d = spread(read_table(spark, sf_dir, "documents")).select("doc_id", "text")
    dups1 = d.filter(F.col("doc_id") % 5 == 0).withColumn(
        "doc_id", F.col("doc_id") + 100000
    )
    dups2 = d.filter(F.col("doc_id") % 25 == 0).withColumn(
        "doc_id", F.col("doc_id") + 200000
    )
    corpus = d.unionByName(dups1).unionByName(dups2)
    clusters = (
        corpus.select(
            TXT.fingerprint("text").alias("fp"),
            F.length("text").cast("bigint").alias("doc_bytes"),
        )
        .groupBy("fp")
        .agg(
            F.count("*").cast("bigint").alias("sz"),
            F.min("doc_bytes").alias("doc_bytes"),
        )
    )
    return (
        clusters.groupBy(F.col("sz").alias("cluster_size"))
        .agg(
            F.count("*").cast("bigint").alias("n_clusters"),
            F.sum("sz").cast("bigint").alias("n_docs"),
            F.sum(F.col("sz") - 1).cast("bigint").alias("docs_removable"),
            F.sum((F.col("sz") - 1) * F.col("doc_bytes"))
            .cast("bigint")
            .alias("bytes_removable"),
        )
        .orderBy("cluster_size")
    )


# ---------------------------------------------------------------------------
# Cross-source vocabulary overlap matrix
# ---------------------------------------------------------------------------


@query(
    "q_ea_source_overlap",
    oracle=rf"""
    WITH st AS (
      SELECT DISTINCT source,
             unnest({_FF_TOKS_SQL}) AS token
      FROM documents),
    vocab AS (SELECT source, CAST(count(*) AS BIGINT) AS v FROM st GROUP BY 1),
    shared AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(count(*) AS BIGINT) AS n_shared
      FROM st a JOIN st b ON a.token = b.token AND a.source < b.source
      GROUP BY 1, 2)
    SELECT s.source_a, s.source_b, va.v AS vocab_a, vb.v AS vocab_b,
           s.n_shared,
           round(CAST(s.n_shared AS DOUBLE)
                 / (va.v + vb.v - s.n_shared), 6) AS jaccard
    FROM shared s
    JOIN vocab va ON va.source = s.source_a
    JOIN vocab vb ON vb.source = s.source_b
    ORDER BY source_a, source_b
    """,
)
def q_ea_source_overlap(spark, sf_dir):
    """CROSS-SOURCE VOCABULARY OVERLAP MATRIX — the source-similarity
    readout a corpus mixing plan starts from (near-identical sources are
    redundant; disjoint ones add coverage — the analysis behind mixing
    weights in Gao et al. 2020 "The Pile", public): for every source
    pair, the shared-vocabulary count and Jaccard over distinct token
    sets. Exact set arithmetic (counts, not estimates), so the matrix
    is hash-checkable; the sketch path for very wide source counts is
    q_zg_kmv_setops on the same keys.

    Scale shape: one distinct over (source, token) — partial map-side,
    output bounded by vocab x sources, not corpus size — then a
    token-keyed self-join whose fan-out per token is at most S^2 rows
    (S = source count, ~20), aggregated straight back down to S^2/2
    pairs. The distinct frame is localCheckpoint-PINNED (the q_yj/q_cz
    idiom): four consumers (vocab x2, join sides x2) would otherwise
    each re-run the corpus scan (measured: 4 parquet scans, zero
    exchange reuse — the consumers' partitionings differ, so Catalyst
    cannot dedupe them), and the pinned frame is executor-storage
    bounded (vocab x S short rows), never driver-collected. 100 TB =
    ONE corpus scan + the bounded matrix."""
    st = (
        spread(read_table(spark, sf_dir, "documents"))
        .select("source", F.explode(TXT.tokens("text")).alias("token"))
        .distinct()
        .localCheckpoint()
    )
    vocab = st.groupBy("source").agg(F.count("*").cast("bigint").alias("v"))
    a = st.select(F.col("source").alias("source_a"), "token")
    b = st.select(F.col("source").alias("source_b"), "token")
    shared = (
        a.join(b, "token")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("bigint").alias("n_shared"))
    )
    va = vocab.select(
        F.col("source").alias("source_a"), F.col("v").alias("vocab_a")
    )
    vb = vocab.select(
        F.col("source").alias("source_b"), F.col("v").alias("vocab_b")
    )
    return (
        shared.join(F.broadcast(va), "source_a")
        .join(F.broadcast(vb), "source_b")
        .select(
            "source_a",
            "source_b",
            "vocab_a",
            "vocab_b",
            "n_shared",
            F.round(
                F.col("n_shared").cast("double")
                / (F.col("vocab_a") + F.col("vocab_b") - F.col("n_shared")),
                6,
            ).alias("jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# URL-path prefix blocklist (robots.txt semantics)
# ---------------------------------------------------------------------------

#: Synthetic path per doc (shared verbatim by both engines) + the rules.
#: Rules are SEGMENT-BOUNDARY path prefixes: '/src1' blocks everything
#: under that source; the longer '/src1/page/7' rule overlaps it so the
#: most-specific (longest) rule selection is part of the value check.
_PATH_SQL = "'/' || source || '/page/' || (doc_id % 50) || '/v' || (doc_id % 3)"
PATH_BLOCK_RULES = [
    "/src1",
    "/src1/page/7",
    "/src3/page",
]
_PATH_RULES_VALUES = ", ".join(f"('{r}')" for r in PATH_BLOCK_RULES)

#: Segment-boundary prefix fan-out over a ``path`` column (Spark SQL) —
#: the prefix twin of _HOST_SUFFIXES_EXPR. split('/a/b','/') yields a
#: leading '' element, so prefixes join elements 2..i+1.
_PATH_PREFIXES_EXPR = (
    "transform(sequence(2, size(split(path, '/'))),"
    " i -> '/' || array_join(slice(split(path, '/'), 2, i - 1), '/'))"
)


@query(
    "q_eb_path_blocklist",
    oracle=f"""
    WITH u AS (SELECT doc_id, {_PATH_SQL} AS path FROM documents),
    p AS (SELECT doc_id, path, string_split(path, '/') AS parts FROM u),
    pfx AS (
      SELECT doc_id, path,
             unnest(list_transform(generate_series(2, len(parts)),
                    i -> '/' || array_to_string(parts[2:i], '/'))) AS pfx
      FROM p),
    r(rule) AS (VALUES {_PATH_RULES_VALUES}),
    hits AS (SELECT doc_id, path, rule FROM pfx JOIN r ON pfx.pfx = r.rule)
    SELECT doc_id, path, arg_max(rule, length(rule)) AS rule
    FROM hits GROUP BY doc_id, path ORDER BY doc_id
    """,
)
def q_eb_path_blocklist(spark, sf_dir):
    """URL-PATH prefix blocklist with robots.txt Disallow semantics —
    the path twin of the domain-suffix gate (q_dy_blocklist_suffix): a
    rule for ``/src1/page/7`` must block every URL under that directory
    on a SEGMENT boundary (never ``/src1/page/71``, which a raw
    ``startswith`` would also hit), and a blocked doc reports its most
    specific (longest) matching rule. Together with q_dy this is the
    full crawl-origin gate: host rules catch domains, path rules catch
    sections (robots.txt exclusion standard, RFC 9309, public).

    Scale shape: identical to q_dy — prefix fan-out is O(segments) ~ 4
    short strings per doc, map-side; the rule table broadcasts (the
    round-11 ceiling experiment in BENCHNOTES bounds how far); the
    longest-rule pick is a partial-aggregable max over a (length, rule)
    struct. The filter composes as an anti-join on the output ids."""
    u = spread(read_table(spark, sf_dir, "documents")).selectExpr(
        "doc_id", f"{_PATH_SQL} AS path"
    )
    pfx = u.select(
        "doc_id",
        "path",
        F.explode(F.expr(_PATH_PREFIXES_EXPR)).alias("pfx"),
    )
    rules = local_frame(spark, [(r,) for r in PATH_BLOCK_RULES], "rule string")
    hits = pfx.join(F.broadcast(rules), F.col("pfx") == F.col("rule")).select(
        "doc_id", "path", "rule"
    )
    return (
        hits.groupBy("doc_id", "path")
        .agg(
            F.max(
                F.struct(F.length("rule").alias("l"), F.col("rule").alias("r"))
            )["r"].alias("rule")
        )
        .select("doc_id", "path", "rule")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Round-12 curation layer: flag-term gate, incremental fuzzy-dedup index,
# keep-best dedup, shard planning, release manifest
# ---------------------------------------------------------------------------

#: Flag-term lexicon (term -> category, severity). The fixture vocabulary is
#: ~27 words, so the six terms below flag a non-vacuous ~20% token share; a
#: production lexicon (toxicity / brand-safety word lists, the C4 "bad
#: words" filter, Raffel et al. 2020 §2.2, public) carries thousands of
#: terms. MEASURED ceiling (BENCHNOTES.md, Round 12, sf0.1): the
#: compiled-expression shape wins only to ~1k terms — its cost is linear
#: in N on the DRIVER (py4j literal construction + plan serialization:
#: 0.9s at 1k, 5.8s at 10k, 63s at 100k) while the broadcast token join
#: stays ~flat (0.8-2.2s through 100k) — so beyond ~1k terms switch to
#: the broadcast join (the q_dy/q_eb shape; the round-11 broadcast
#: ceiling experiment bounds how far THAT carries: ~4M rules).
FLAG_TERMS: dict[str, tuple[str, int]] = {
    "hash": ("security", 3),
    "key": ("security", 3),
    "slow": ("performance", 2),
    "fast": ("performance", 2),
    "big": ("size", 1),
    "small": ("size", 1),
}

#: Gate: flagged-token share >= 1/5 of the document's tokens (exact-integer
#: cross-multiplication, never a float ratio — the q_dt discipline).
FLAG_GATE_NUM, FLAG_GATE_DEN = 1, 5

_FLAG_SEV_SQL_IN = {
    sev: ", ".join(
        f"'{t}'" for t in sorted(t for t, (_, s) in FLAG_TERMS.items() if s == sev)
    )
    for sev in sorted({s for _, s in FLAG_TERMS.values()})
}


def with_flag_stats(docs):
    """Adds exact-integer flag statistics to a documents frame: ``n_tok``
    (whitespace tokens), ``n_flagged`` (token OCCURRENCES matching the
    FLAG_TERMS lexicon — repeats count: density is the gate input), and
    ``max_severity`` (worst category present, 0 = clean). Shared by the
    gate audit (q_ee) and the release manifest (q_ei) so the two can never
    disagree on flag semantics. Pure JVM array ops — no explode, no join,
    no shuffle: the lexicon compiles into the scan expression."""
    toks = TXT.tokens("text")

    # Closure factory, NOT `lambda t, _ts=...:` — PySpark treats a
    # two-parameter callable as an (element, index) lambda and binds the
    # second parameter to the array index (the portable_minhash_signatures
    # trap, operators/dedup.py).
    def _in_terms(terms: tuple[str, ...]):
        return lambda t: t.isin(*terms)

    flagged = {
        sev: F.size(
            F.filter(
                toks,
                _in_terms(tuple(t for t, (_, s) in FLAG_TERMS.items() if s == sev)),
            )
        ).cast("bigint")
        for sev in sorted({s for _, s in FLAG_TERMS.values()}, reverse=True)
    }
    max_sev = F.lit(0).cast("bigint")
    for sev in sorted(flagged):  # ascending: later (higher) WHEN wins
        max_sev = F.when(flagged[sev] > 0, F.lit(sev).cast("bigint")).otherwise(
            max_sev
        )
    n_flagged = sum(flagged.values())
    return docs.withColumns(
        {
            "n_tok": F.size(toks).cast("bigint"),
            "n_flagged": n_flagged.cast("bigint"),
            "max_severity": max_sev,
        }
    )


_FLAG_STATS_SQL = f"""
      SELECT *,
             CAST(len({_FF_TOKS_SQL}) AS BIGINT) AS n_tok,
             CAST({" + ".join(
                 f"len(list_filter({_FF_TOKS_SQL}, t -> t IN ({terms})))"
                 for terms in _FLAG_SEV_SQL_IN.values()
             )} AS BIGINT) AS n_flagged,
             CAST({"".join(
                 f"CASE WHEN len(list_filter({_FF_TOKS_SQL}, t -> t IN ({terms}))) > 0 THEN {sev} ELSE "
                 for sev, terms in sorted(_FLAG_SEV_SQL_IN.items(), reverse=True)
             )}0{" END" * len(_FLAG_SEV_SQL_IN)} AS BIGINT) AS max_severity
"""


@query(
    "q_ee_flag_term_gate",
    oracle=f"""
    WITH t AS ({_FLAG_STATS_SQL} FROM documents)
    SELECT doc_id, n_tok, n_flagged, max_severity,
           CAST(n_flagged * {FLAG_GATE_DEN} >= n_tok * {FLAG_GATE_NUM}
                AS BIGINT) AS gated
    FROM t ORDER BY doc_id
    """,
)
def q_ee_flag_term_gate(spark, sf_dir):
    """FLAG-TERM DENSITY GATE — the lexicon-based content filter every
    production corpus runs (C4 removed any page containing a "bad words"
    list term, Raffel et al. 2020 §2.2, public; density variants gate on
    flagged-token share instead of any-hit so a single quoted word does
    not nuke a clean document). Per document: token count, flagged-token
    OCCURRENCES (repeats count — density is the signal), worst category
    severity present, and the gate decision at share >= 1/5 via
    exact-integer cross-multiplication, so both engines make identical
    keep/drop calls with zero float comparisons. Composes with
    q_dt_filter_funnel as one more charged stage (q_ei_release_manifest
    does exactly that composition).

    Scale shape: the lexicon compiles into the scan expression (array
    filter + IN over six terms) — map-only, no explode, no join, no
    shuffle; output is doc-grain. 100 TB = one scan. MEASURED ceiling
    (BENCHNOTES.md, Round 12): the compiled expression wins only
    to ~1k terms — its cost grows linearly in lexicon size on the driver
    (literal construction + plan serialization, 63s at 100k) — so larger
    lexicons switch to a broadcast token join (the q_dy shape, ~flat
    through 100k terms), NOT the 100k figure this docstring originally
    guessed."""
    return (
        with_flag_stats(spread(read_table(spark, sf_dir, "documents")))
        .select(
            "doc_id",
            "n_tok",
            "n_flagged",
            "max_severity",
            (
                F.col("n_flagged") * FLAG_GATE_DEN
                >= F.col("n_tok") * FLAG_GATE_NUM
            )
            .cast("bigint")
            .alias("gated"),
        )
        .orderBy("doc_id")
    )


#: Delta-ingest fixture for the incremental MinHash index: every 11th lake
#: document arrives again in the next crawl with a 3-token header prepended
#: (page chrome changed, body identical) under a fresh id — 3-gram Jaccard
#: vs its origin ~ |G|/(|G|+5) >> 0.5, so the banded probe must find it.
DELTA_MOD = 11
DELTA_ID_OFFSET = 500_000
DELTA_PREFIX = "delta revision marker "

#: Portable-MinHash CTE chain over an arbitrary corpus CTE (3-gram
#: shingles, 16 hashes via quartered md5, 4 bands FOLDED into one key —
#: must mirror operators.dedup.portable_shingles/portable_minhash_signatures/
#: portable_band_keys exactly; the folded band key is value-tested against
#: Spark in tests and by this entry's hash check).
def _mh_band_ctes(prefix: str, corpus: str) -> str:
    return rf"""
    {prefix}g AS (
      SELECT doc_id, grams FROM (
        SELECT doc_id,
               list_distinct(list_transform(
                 generate_series(1, len(toks) - 2),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS grams
        FROM (SELECT doc_id,
                     list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                 x -> x <> '') AS toks
              FROM {corpus}))
      WHERE len(grams) >= 1),
    {prefix}mh AS (
      SELECT doc_id, 4 * seed + q AS slot,
             min(substring(md5(seed::VARCHAR || '|' || gram), q * 8 + 1, 8)) AS v
      FROM (SELECT doc_id, unnest(grams) AS gram FROM {prefix}g),
           range(4) h(seed), range(4) qq(q)
      GROUP BY doc_id, seed, q),
    {prefix}sig AS (
      SELECT doc_id, list(v ORDER BY slot) AS sig FROM {prefix}mh GROUP BY doc_id),
    {prefix}band AS (
      SELECT doc_id,
             md5(b.band::VARCHAR || '|' ||
                 array_to_string(sig[b.band*4+1 : b.band*4+4], '|')) AS band_key
      FROM {prefix}sig, range(4) b(band))"""


def minhash_delta_fixture(spark, sf_dir):
    """(lake, delta) document frames for the delta-ingest fixture shared by
    the batch probe (q_ef) and its streaming twin (q_stream_minhash_delta):
    every ``DELTA_MOD``-th lake doc re-arrives with ``DELTA_PREFIX``
    prepended under ``doc_id + DELTA_ID_OFFSET``."""
    lake = spread(read_table(spark, sf_dir, "documents")).select("doc_id", "text")
    delta = lake.filter(F.col("doc_id") % DELTA_MOD == 0).select(
        (F.col("doc_id") + DELTA_ID_OFFSET).alias("doc_id"),
        F.concat(F.lit(DELTA_PREFIX), F.col("text")).alias("text"),
    )
    return lake, delta


def build_minhash_band_index(sf_dir, lake, suffix: str = ""):
    """Persist the lake's LSH band table (``dedup.minhash_band_table``)
    hash-bucketed on ``band_key`` and return the index DataFrame. Rebuilt
    each run for determinism; a production pipeline writes it once per
    corpus version. The lake shingles are not kept: the probe re-shingles
    candidate lake docs only (``dedup.probe_band_table``)."""
    import re as _re

    from ..operators import dedup
    from ..sources.bucketing import write_bucketed

    tag = _re.sub(r"\W+", "_", sf_dir).strip("_")
    return write_bucketed(
        dedup.minhash_band_table(lake),
        f"minhash_band_index_{tag}{suffix}",
        ["band_key"],
        8,
    )


#: One oracle, two engines' worth of entries: the batch probe (q_ef) and
#: its streaming twin (q_stream_minhash_delta) must both equal this —
#: per-delta-doc probing is batch-slicing-independent, so the union of
#: micro-batch probe outputs equals the whole-delta probe.
_MINHASH_DELTA_ORACLE = f"""
    WITH lake AS (SELECT doc_id, text FROM documents),
    delta AS (
      SELECT doc_id + {DELTA_ID_OFFSET} AS doc_id,
             '{DELTA_PREFIX}' || text AS text
      FROM documents WHERE doc_id % {DELTA_MOD} = 0),
    {_mh_band_ctes("l", "lake")},
    {_mh_band_ctes("d", "delta")},
    cand AS (
      SELECT DISTINCT l.doc_id AS lake_id, d.doc_id AS delta_id
      FROM lband l JOIN dband d ON l.band_key = d.band_key),
    pairs AS (
      SELECT c.lake_id, c.delta_id,
             len(list_intersect(gl.grams, gd.grams))::DOUBLE
               / len(list_distinct(list_concat(gl.grams, gd.grams))) AS jaccard
      FROM cand c
      JOIN lg gl ON gl.doc_id = c.lake_id
      JOIN dg gd ON gd.doc_id = c.delta_id)
    SELECT lake_id, delta_id, jaccard FROM pairs
    WHERE jaccard >= 0.5 ORDER BY lake_id, delta_id
    """


@query("q_ef_minhash_delta_index", oracle=_MINHASH_DELTA_ORACLE)
def q_ef_minhash_delta_index(spark, sf_dir):
    """INCREMENTAL FUZZY-DEDUP INDEX — the delta-ingest shape for MinHash
    (the q_xg pattern applied to NEAR-dup instead of exact-chunk dedup,
    round-11 verdict's named candidate): the lake's LSH band table —
    (doc_id, folded band key), portable md5 hashing throughout — is
    PERSISTED as a hash-bucketed table, and each new crawl batch probes
    it with a band-key equi-join, then verifies every candidate with the
    exact shingle-set Jaccard (banding affects recall only, never
    precision). The fixture's delta batch re-crawls every 11th lake doc
    with a 3-token header prepended, so true near-dup pairs exist at
    every sf and the probe's hit set is value-checked end to end (the
    oracle replays the identical md5 pipeline on both corpora —
    persistence must not change the answer, the q_xg contract).

    Scale shape: the index write pays the lake's signature scan ONCE per
    corpus version; each crawl batch runs the shared asymmetric probe
    (``dedup.probe_band_table``) against the persisted index, so the index
    side never re-shuffles. At 100 TB the lake index dwarfs any daily
    batch, so which side re-shuffles is the whole cost model. Measured
    (BENCHNOTES.md, Round 12: lake grown 30x under a fixed delta batch):
    the banded candidate probe is FLAT in lake size while index build
    grows ~linearly."""
    from ..operators import dedup

    lake, delta = minhash_delta_fixture(spark, sf_dir)
    idx = build_minhash_band_index(sf_dir, lake)
    pairs, _ = dedup.probe_band_table(delta, lake, idx)
    return pairs.withColumnRenamed("query_id", "delta_id").orderBy(
        "lake_id", "delta_id"
    )


#: Fuzzy-decontamination fixture: every 13th lake doc "leaks" into the
#: eval set with a 3-token answer-key suffix under a fresh id (the edit
#: that defeats EXACT contamination checks — q_x3's 8-gram fingerprints
#: miss it at the tail, and whole-doc fingerprints always miss it); every
#: 26th doc also contributes a token-REVERSED eval doc — same vocabulary,
#: zero shared 3-grams — the negative control the probe must NOT flag.
EVAL_MOD = 13
EVAL_TAINT_OFFSET = 900_000
EVAL_CLEAN_MOD = 26
EVAL_CLEAN_OFFSET = 950_000
EVAL_SUFFIX = " eval answer key"

_DECON_EVAL_SQL = rf"""
      SELECT doc_id + {EVAL_TAINT_OFFSET} AS doc_id,
             text || '{EVAL_SUFFIX}' AS text
      FROM documents WHERE doc_id % {EVAL_MOD} = 0
      UNION ALL
      SELECT doc_id + {EVAL_CLEAN_OFFSET} AS doc_id,
             array_to_string(list_reverse(list_filter(
               string_split_regex(lower(trim(text)), '\s+'),
               x -> x <> '')), ' ') AS text
      FROM documents WHERE doc_id % {EVAL_CLEAN_MOD} = 0
"""


@query(
    "q_em_fuzzy_decontaminate",
    oracle=f"""
    WITH lake AS (SELECT doc_id, text FROM documents),
    eval AS ({_DECON_EVAL_SQL}),
    {_mh_band_ctes("l", "lake")},
    {_mh_band_ctes("e", "eval")},
    cand AS (
      SELECT DISTINCT l.doc_id AS train_id, e.doc_id AS eval_id
      FROM lband l JOIN eband e ON l.band_key = e.band_key),
    pairs AS (
      SELECT c.eval_id, c.train_id,
             len(list_intersect(gl.grams, ge.grams))::DOUBLE
               / len(list_distinct(list_concat(gl.grams, ge.grams))) AS jaccard
      FROM cand c
      JOIN lg gl ON gl.doc_id = c.train_id
      JOIN eg ge ON ge.doc_id = c.eval_id),
    matches AS (SELECT * FROM pairs WHERE jaccard >= 0.5),
    agg AS (
      SELECT eval_id, CAST(count(*) AS BIGINT) AS n_matches,
             max(jaccard) AS best_jaccard
      FROM matches GROUP BY eval_id),
    best AS (
      SELECT m.eval_id, CAST(min(m.train_id) AS BIGINT) AS best_train_id
      FROM matches m JOIN agg a
        ON m.eval_id = a.eval_id AND m.jaccard = a.best_jaccard
      GROUP BY m.eval_id)
    SELECT e.doc_id AS eval_id,
           CAST(CASE WHEN a.eval_id IS NULL THEN 0 ELSE 1 END AS BIGINT)
             AS contaminated,
           CAST(coalesce(a.n_matches, 0) AS BIGINT) AS n_matches,
           b.best_train_id,
           a.best_jaccard
    FROM eval e
    LEFT JOIN agg a ON a.eval_id = e.doc_id
    LEFT JOIN best b ON b.eval_id = e.doc_id
    ORDER BY eval_id
    """,
)
def q_em_fuzzy_decontaminate(spark, sf_dir):
    """FUZZY DECONTAMINATION — near-dup eval-set leakage detection, the
    standard LLM-pipeline audit (Brown et al. 2020 appendix C n-gram
    decontamination; Dodge et al. 2021 C4 benchmark-leak analysis): the
    repo's q_x3 catches EXACT contamination; a leaked benchmark that
    gained an answer-key suffix (this fixture) or light edits defeats
    exact fingerprints and needs the banded-MinHash probe. Per eval doc:
    a contaminated flag, match count, the best-matching training doc and
    its exact Jaccard — the evidence row an eval-integrity report ships.
    The token-REVERSED negative controls (same vocabulary, zero shared
    3-grams) prove the probe's precision: they must come back clean.

    Spark shape: the shared asymmetric probe (``dedup.probe_band_table``)
    against lake band keys computed on the fly; the eval side is the
    broadcast query side, so at 100 TB the lake never re-shuffles for an
    eval audit (a recurring audit would persist the band table, as q_ef
    does). The argmax match is an exact (max, then min-id) two-step, no
    window over the corpus. The DuckDB oracle replays the identical md5
    pipeline, so flags, counts, AND jaccards are value-checked."""
    from ..operators import dedup

    lake = spread(read_table(spark, sf_dir, "documents")).select("doc_id", "text")
    tainted = lake.filter(F.col("doc_id") % EVAL_MOD == 0).select(
        (F.col("doc_id") + EVAL_TAINT_OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(EVAL_SUFFIX)).alias("text"),
    )
    clean = lake.filter(F.col("doc_id") % EVAL_CLEAN_MOD == 0).select(
        (F.col("doc_id") + EVAL_CLEAN_OFFSET).alias("doc_id"),
        F.concat_ws(" ", F.reverse(TXT.tokens("text"))).alias("text"),
    )
    ev = tainted.unionByName(clean)
    pairs, _ = dedup.probe_band_table(ev, lake, dedup.minhash_band_table(lake))
    matches = pairs.toDF("train_id", "eval_id", "jaccard")
    # ONE aggregation computes count, max jaccard AND the min-id argmax:
    # max(struct(jaccard, -train_id)) picks the highest jaccard and, among
    # exact-double ties, the LARGEST -train_id = smallest train_id — the
    # identical (max, then min-id) two-step the oracle runs, without the
    # previous matches.cache() + self-join-on-agg (2 extra exchanges and a
    # session-lifetime cache pin, r13 advice).
    agg = matches.groupBy("eval_id").agg(
        F.count("*").cast("bigint").alias("n_matches"),
        F.max(F.struct(F.col("jaccard"), (-F.col("train_id")).alias("neg_id")))
        .alias("__best"),
    )
    return (
        ev.select(F.col("doc_id").alias("eval_id"))
        .join(
            agg.select(
                "eval_id",
                "n_matches",
                F.col("__best.jaccard").alias("best_jaccard"),
                (-F.col("__best.neg_id")).cast("bigint").alias("best_train_id"),
            ),
            "eval_id",
            "left",
        )
        .select(
            "eval_id",
            F.when(F.col("n_matches").isNotNull(), F.lit(1))
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("contaminated"),
            F.coalesce("n_matches", F.lit(0)).cast("bigint").alias("n_matches"),
            "best_train_id",
            "best_jaccard",
        )
        .orderBy("eval_id")
    )


#: Injected exact-duplicate fixture shared by q_eg/q_ei (the corpus has no
#: exact dups): every 5th doc gains an UPPERCASED copy with a punctuation
#: tail (same fingerprint — normalization strips case and punctuation —
#: but LONGER raw text, so keep-best and keep-min-id pick DIFFERENT
#: survivors: the policy difference is part of the value check), every
#: 25th a second copy. Copies keep the parent's source/lang/n_chars.
_KEEPBEST_COPIES_SQL = """
      SELECT doc_id, text, lang, source, n_chars FROM documents
      UNION ALL
      SELECT doc_id + 100000, upper(text) || ' !!', lang, source, n_chars
      FROM documents WHERE doc_id % 5 = 0
      UNION ALL
      SELECT doc_id + 200000, text || ' ??', lang, source, n_chars
      FROM documents WHERE doc_id % 25 = 0
"""


def _docs_with_copies(spark, sf_dir):
    d = spread(read_table(spark, sf_dir, "documents")).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    c1 = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.upper("text"), F.lit(" !!")).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    c2 = d.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" ??")).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    return d.unionByName(c1).unionByName(c2)


@query(
    "q_eg_dedup_keep_best",
    oracle=f"""
    WITH corpus AS ({_KEEPBEST_COPIES_SQL}),
    t AS (
      SELECT doc_id, {_FP_SQL} AS fp,
             CAST(length(text) AS BIGINT) AS len FROM corpus),
    c AS (
      SELECT fp, CAST(count(*) AS BIGINT) AS n_copies,
             max(len) AS ml, sum(len) AS tot
      FROM t GROUP BY fp),
    k AS (
      SELECT t.fp, min(t.doc_id) AS keep_id
      FROM t JOIN c ON t.fp = c.fp AND t.len = c.ml GROUP BY t.fp)
    SELECT k.keep_id, c.n_copies, CAST(c.ml AS BIGINT) AS kept_len,
           CAST(c.tot - c.ml AS BIGINT) AS bytes_saved
    FROM k JOIN c ON k.fp = c.fp ORDER BY keep_id
    """,
)
def q_eg_dedup_keep_best(spark, sf_dir):
    """QUALITY-AWARE DEDUP REPRESENTATIVE SELECTION — keep-BEST instead
    of keep-min-id: within each exact-duplicate cluster (the same
    md5-of-normalized-text fingerprint every dedup family shuffles),
    survive the copy with the MOST raw content (longest raw text; ties
    break to the lowest id). Production dedup keeps the cleanest/longest
    copy, not the first-crawled one — boilerplate-stripped or truncated
    mirrors lose to the full page (the keep policy in RefinedWeb and
    CCNet, public). The fixture injects uppercased/punctuation-tailed
    copies (identical fingerprint, longer raw text), so keep-best
    provably picks a DIFFERENT survivor than q_ns_dedup_exact's
    keep-min-id on the same clusters. Per cluster: survivor id, copy
    count, kept length, and bytes removing the losers saves.

    Scale shape: text length is computed map-side; ONE partial-aggregable
    groupBy over 16-byte digests (count/max/sum + min_by over an
    exact-integer (−len, id) struct — no window, no sort, no text
    shuffle). 100 TB = the q_dz digest shuffle with a 3-word-wider row."""
    t = _docs_with_copies(spark, sf_dir).select(
        "doc_id",
        TXT.fingerprint("text").alias("fp"),
        F.length("text").cast("bigint").alias("len"),
    )
    return (
        t.groupBy("fp")
        .agg(
            F.count("*").cast("bigint").alias("n_copies"),
            F.max("len").alias("kept_len"),
            (F.sum("len") - F.max("len")).cast("bigint").alias("bytes_saved"),
            F.min_by(
                "doc_id",
                F.struct((-F.col("len")).alias("nl"), F.col("doc_id").alias("i")),
            ).alias("keep_id"),
        )
        .select("keep_id", "n_copies", "kept_len", "bytes_saved")
        .orderBy("keep_id")
    )


#: Tokens per output shard. Sized to the fixture (docs are 10-99 tokens,
#: 25 docs/source at sf0.01) so every source fills several shards;
#: production shards are ~100M-1B tokens.
SHARD_TOKEN_BUDGET = 400


@query(
    "q_eh_shard_plan",
    oracle=f"""
    WITH t AS (
      SELECT source, doc_id,
             CAST(len({_FF_TOKS_SQL}) AS BIGINT) AS n_tok
      FROM documents),
    cum AS (
      SELECT source, doc_id, n_tok,
             sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) - n_tok AS tok_before
      FROM t)
    SELECT source,
           CAST(tok_before // {SHARD_TOKEN_BUDGET} AS BIGINT) AS shard_idx,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           round(CAST(sum(n_tok) AS DOUBLE) / {SHARD_TOKEN_BUDGET}, 6) AS fill
    FROM cum GROUP BY source, shard_idx ORDER BY source, shard_idx
    """,
)
def q_eh_shard_plan(spark, sf_dir):
    """TRAINING-SHARD PLAN — the physical-layout step between "curated
    corpus" and "training job": assign documents to fixed-token-budget
    output shards, sequentially per source in a deterministic order
    (doc_id), and report each shard's document count, token count, and
    fill ratio. This is how corpora are actually written for data
    loaders (WebDataset/TFRecord shard conventions; Megatron's indexed
    datasets — all public): the trainer needs shards of near-equal token
    counts for balanced data-parallel reads. A document lands in the
    shard its CUMULATIVE-tokens-before falls in (sequential fill — the
    streaming-write semantics), so shard boundaries are exact integers
    and both engines cut identically; only the final fill ratio is a
    rounded float.

    Scale shape: one token-count scan (JVM split, map-side), one
    window per source (single shuffle, exact-integer running sum), one
    (source, shard) aggregate. At 100 TB the per-source window is the
    one unavoidable order dependency — it parallelizes across sources
    (repartitionByRange on the window key) and each source's cumsum is
    one pass; the shard count output is corpus_tokens/budget rows."""
    t = spread(read_table(spark, sf_dir, "documents")).select(
        "source", "doc_id", TXT.token_count("text").cast("bigint").alias("n_tok")
    )
    w = Window.partitionBy("source").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = t.select(
        "source",
        "doc_id",
        "n_tok",
        (F.sum("n_tok").over(w) - F.col("n_tok")).alias("tok_before"),
    )
    return (
        cum.groupBy(
            "source",
            F.expr(f"tok_before DIV {SHARD_TOKEN_BUDGET}")
            .cast("bigint")
            .alias("shard_idx"),
        )
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
            F.round(
                F.sum("n_tok").cast("double") / SHARD_TOKEN_BUDGET, 6
            ).alias("fill"),
        )
        .orderBy("source", "shard_idx")
    )


@query(
    "q_ei_release_manifest",
    oracle=f"""
    WITH corpus AS ({_KEEPBEST_COPIES_SQL}),
    s AS ({_FLAG_STATS_SQL},
             {_FP_SQL} AS fp,
             CAST(len(list_distinct({_FF_TOKS_SQL})) AS BIGINT) AS n_dist,
             CAST(length(regexp_replace(lower(trim(text)), '\\s+', '', 'g'))
                  AS BIGINT) AS tok_chars,
             coalesce(lang, '') AS lang_c
      FROM corpus),
    f AS (
      SELECT *,
             CASE
               WHEN n_chars NOT BETWEEN 100 AND 520 THEN 1
               WHEN lang_c NOT IN {FUNNEL_LANGS!r} THEN 2
               WHEN n_tok < 25 THEN 3
               WHEN n_dist * 10 < n_tok * 4 THEN 4
               WHEN tok_chars * 10 NOT BETWEEN n_tok * 42 AND n_tok * 48
                 THEN 5
               ELSE 0 END AS fail,
             CAST(n_flagged * {FLAG_GATE_DEN} >= n_tok * {FLAG_GATE_NUM}
                  AS BIGINT) AS gated
      FROM s),
    k AS (SELECT fp, min(doc_id) AS keep_id FROM f GROUP BY fp),
    j AS (
      SELECT f.*, CAST(f.doc_id <> k.keep_id AS BIGINT) AS dup_extra
      FROM f JOIN k ON f.fp = k.fp)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (WHERE fail <> 0) AS BIGINT) AS n_funnel_fail,
           CAST(sum(dup_extra) AS BIGINT) AS n_dup_extra,
           CAST(sum(gated) AS BIGINT) AS n_flagged,
           CAST(count(*) FILTER (WHERE fail = 0 AND dup_extra = 0
                                   AND gated = 0) AS BIGINT) AS n_released,
           CAST(coalesce(sum(n_tok) FILTER (WHERE fail = 0 AND dup_extra = 0
                                              AND gated = 0), 0) AS BIGINT)
             AS tokens_released
    FROM j GROUP BY source ORDER BY source
    """,
)
def q_ei_release_manifest(spark, sf_dir):
    """PER-SOURCE RELEASE MANIFEST — the datasheet table a curated-corpus
    release ships (Datasheets for Datasets, Gebru et al. 2021; the
    per-source accounting tables in The Pile and RefinedWeb — all
    public): for every source, how many documents arrived, how many each
    gate rejects — the q_dt quality funnel (first-failing-stage
    semantics via the SHARED with_funnel_fail), exact-dup extras
    (keep-min-id over the shared fingerprint), the q_ee flag-term
    density gate (the SHARED with_flag_stats) — and what ships: released
    docs and released tokens. Gates are counted INDEPENDENTLY (each
    column is the gate's own hit count) while n_released is their
    conjunction, so the manifest exposes gate overlap rather than hiding
    it in sequential attribution (q_dt publishes the sequential view).
    Uses the same injected-copies corpus as q_eg so the dedup column is
    non-vacuous.

    Scale shape: every per-doc signal (funnel stats, flag stats,
    fingerprint) is computed map-side in ONE scan; the keeper decision is
    a partition-only window min over the fingerprint — NOT the q_xh
    min-per-group + back-join idiom, deliberately: q_xh keeps only the
    keepers (groupBy collapses early, digests-only shuffle), but the
    manifest keeps EVERY row for the source rollup, so a join would
    shuffle the same doc-grain rows on fp anyway AND recompute the whole
    signal subtree on its second consumer (measured: the join form scans
    the corpus twice and runs 10 exchanges; the window form scans once
    with 3). One fp exchange of short integer rows, one source-grain
    aggregate. All output columns are exact integers. 100 TB = one scan
    + one fp-keyed shuffle + a |sources|-row tail."""
    base = _docs_with_copies(spark, sf_dir)
    f = with_flag_stats(with_funnel_fail(base)).select(
        "doc_id",
        "source",
        "fail",
        "n_tok",
        TXT.fingerprint("text").alias("fp"),
        (
            F.col("n_flagged") * FLAG_GATE_DEN >= F.col("n_tok") * FLAG_GATE_NUM
        )
        .cast("bigint")
        .alias("gated"),
    )
    j = f.withColumn(
        "dup_extra",
        (F.col("doc_id") != F.min("doc_id").over(Window.partitionBy("fp")))
        .cast("bigint"),
    )
    released = (F.col("fail") == 0) & (F.col("dup_extra") == 0) & (
        F.col("gated") == 0
    )
    return (
        j.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum((F.col("fail") != 0).cast("int"))
            .cast("bigint")
            .alias("n_funnel_fail"),
            F.sum("dup_extra").cast("bigint").alias("n_dup_extra"),
            F.sum("gated").cast("bigint").alias("n_flagged"),
            F.sum(released.cast("int")).cast("bigint").alias("n_released"),
            F.coalesce(
                F.sum(F.when(released, F.col("n_tok"))), F.lit(0)
            )
            .cast("bigint")
            .alias("tokens_released"),
        )
        .orderBy("source")
    )
