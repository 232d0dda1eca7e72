"""North-star queries: dedup, similarity search, text analysis, multimodal.

Oracle-checkable ones carry equivalent DuckDB SQL (text analytics and exact
math are engine-agnostic); MinHash/SimHash/LSH/KMeans results depend on
engine-internal hashing/initialization, so those entries are rows-only here
and property-tested in ``tests/`` (recall vs exact, idempotence, hamming
bounds) per SURVEY §5.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions import text as TXT
from ..operators import dedup, multimodal, phash, similarity
from ..sources import read_table, spread
from .registry import query
from .relational import _store_dir

# Tiny stopword lists shared with the DuckDB oracle text below.
_SW = TXT.STOPWORDS


# ---------------------------------------------------------------------------
# Text analysis (oracle-checkable)
# ---------------------------------------------------------------------------

@query(
    "q_ns_token_stats",
    oracle=r"""
    SELECT doc_id,
           CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                t -> t <> '')) AS BIGINT) AS n_tokens,
           CAST(length(text) AS BIGINT) AS n_char
    FROM documents ORDER BY doc_id
    """,
)
def q_ns_token_stats(spark, sf_dir):
    """Token counting (whitespace tokenization, JVM-side)."""
    return (
        read_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            TXT.token_count("text").cast("bigint").alias("n_tokens"),
            F.length("text").cast("bigint").alias("n_char"),
        )
        .orderBy("doc_id")
    )


@query(
    "q_ns_quality",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, text,
             length(text)::DOUBLE AS n,
             length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::DOUBLE AS n_alpha,
             list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS toks
      FROM documents)
    SELECT doc_id,
           n_alpha / nullif(n, 0) AS alpha_ratio,
           list_sum(list_transform(toks, x -> length(x)))::DOUBLE
             / nullif(len(toks), 0) AS avg_tok_len,
           round((least(n / 200.0, 1.0)
                  + coalesce(n_alpha / nullif(n, 0), 0)
                  + (CASE WHEN list_sum(list_transform(toks, x -> length(x)))::DOUBLE
                               / nullif(len(toks), 0) BETWEEN 3 AND 10
                          THEN 1.0 ELSE 0.5 END)) / 3.0, 6) AS quality
    FROM t ORDER BY doc_id
    """,
)
def q_ns_quality(spark, sf_dir):
    """Quality scoring: length / letter-ratio / word-length heuristics.

    Timing: the r4→r5 bench delta (0.69→1.80s) re-timed at 0.62s solo at
    sf0.1 (3-run median, r6) — suite-position/GC artifact; expression and
    plan unchanged since round 1."""
    d = read_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        TXT.alpha_ratio("text").alias("alpha_ratio"),
        TXT.avg_token_len("text").cast("double").alias("avg_tok_len"),
        TXT.quality_score("text").alias("quality"),
    ).orderBy("doc_id")


def _langid_oracle() -> str:
    toks = r"list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')"
    hits = {
        lang: f"len(list_intersect({toks}, {words!r}))"
        for lang, words in ((lang, list(ws)) for lang, ws in _SW.items())
    }
    best = "greatest(" + ", ".join(hits[lang] for lang in TXT.LANG_ORDER) + ")"
    case = "CASE "
    for lang in TXT.LANG_ORDER:
        case += f"WHEN {best} > 0 AND {hits[lang]} = {best} THEN '{lang}' "
    case += "ELSE 'und' END"
    cols = ", ".join(
        f"CAST({hits[lang]} AS BIGINT) AS hits_{lang}" for lang in TXT.LANG_ORDER
    )
    return f"SELECT doc_id, {cols}, {case} AS lang_guess FROM documents ORDER BY doc_id"


@query("q_ns_langid", oracle=_langid_oracle())
def q_ns_langid(spark, sf_dir):
    """Language ID: stopword-overlap argmax with alphabetical tie-break."""
    d = read_table(spark, sf_dir, "documents")
    toks = TXT.tokens("text")
    return d.select(
        "doc_id",
        *[
            TXT.stopword_hits(toks, lang).cast("bigint").alias(f"hits_{lang}")
            for lang in TXT.LANG_ORDER
        ],
        TXT.lang_guess("text").alias("lang_guess"),
    ).orderBy("doc_id")


@query(
    "q_ns_token_bpe",
    oracle=r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))
                AS BIGINT) AS n_bpe,
           regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')[1] AS first_tok
    FROM documents ORDER BY doc_id
    """,
)
def q_ns_token_bpe(spark, sf_dir):
    """BPE-ish regex token counting: letter runs, digit runs, and single
    punctuation marks as separate tokens (the pre-tokenization split most
    BPE vocabularies assume), alongside the whitespace counter of
    q_ns_token_stats. Pure JVM regexp — no Python in the scan."""
    # idx=0 = whole match (the pattern is alternation, no capture groups)
    toks = F.regexp_extract_all(F.lower("text"), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), F.lit(0))
    return (
        read_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.size(toks).cast("bigint").alias("n_bpe"),
            F.element_at(toks, 1).alias("first_tok"),
        )
        .orderBy("doc_id")
    )


@query(
    "q_udf_pandas_cosine",
    oracle="""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS cos_sim
    FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
    WHERE a.vec_id < 100
    ORDER BY id_a
    """,
)
def q_udf_pandas_cosine(spark, sf_dir):
    """∅-ref UDF surface (SURVEY §2.A.8): an Arrow-vectorized pandas_udf
    registered as a SQL function and invoked from ``spark.sql`` — the
    sanctioned escape hatch when built-ins can't express the math. The
    same cosine exists JVM-side in functions.vectors (preferred in hot
    paths); this entry pins that the Python boundary produces bit-equal
    results, oracle-checked against DuckDB."""
    from pyspark.sql.functions import pandas_udf

    # No type annotations: this module uses `from __future__ import
    # annotations`, which stringifies them and pandas_udf can't resolve
    # 'pd.Series' strings — the return-type argument carries the contract.
    def _cosine(a, b):
        import numpy as np
        import pandas as pd

        if len(a) == 0:
            return pd.Series([], dtype="float64")
        # Whole-batch vectorization: stack the Arrow batch into (n, d)
        # matrices and do one fused multiply-reduce — no per-row Python.
        av = np.stack(a.to_numpy()).astype("float64", copy=False)
        bv = np.stack(b.to_numpy()).astype("float64", copy=False)
        dots = np.einsum("ij,ij->i", av, bv)
        denom = np.sqrt(np.einsum("ij,ij->i", av, av)) * np.sqrt(
            np.einsum("ij,ij->i", bv, bv)
        )
        with np.errstate(divide="ignore", invalid="ignore"):
            out = np.where(denom != 0.0, dots / denom, np.nan)
        return pd.Series(out)

    spark.udf.register("cosine_pd", pandas_udf(_cosine, "double"))
    read_table(spark, sf_dir, "embeddings").createOrReplaceTempView("emb_udf_view")
    return spark.sql(
        """
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               cosine_pd(a.embedding, b.embedding) AS cos_sim
        FROM emb_udf_view a JOIN emb_udf_view b ON b.vec_id = a.vec_id + 1
        WHERE a.vec_id < 100
        ORDER BY id_a
        """
    )


@query(
    "q_udf_grouped_mad",
    oracle="""
    WITH e AS (SELECT event_type, value FROM events WHERE value IS NOT NULL),
    m AS (SELECT event_type, MEDIAN(value) AS med, COUNT(*) AS n
          FROM e GROUP BY event_type)
    SELECT m.event_type AS etype, m.med AS med,
           MEDIAN(ABS(e.value - m.med)) AS mad, m.n AS n
    FROM e JOIN m USING (event_type)
    GROUP BY m.event_type, m.med, m.n
    ORDER BY etype
    """,
)
def q_udf_grouped_mad(spark, sf_dir):
    """∅-ref UDF surface: batch grouped-map ``applyInPandas`` — robust
    per-group statistics (median + median-absolute-deviation). A
    quantile-of-a-derived-quantile needs two dependent passes in SQL; the
    grouped map does it in one shuffle with the whole group in an Arrow
    batch. Outputs are order-free exact arithmetic (median selection +
    one subtraction), so the DuckDB oracle matches bit-for-bit.

    Scale note: ``applyInPandas`` materializes each group in executor
    memory — fine for bounded group counts like event types; for
    unbounded/skewed keys switch to ``approx_percentile`` (built-in
    sketch, partial-aggregable) instead of exact medians.
    """
    import pandas as pd

    def _mad(pdf):
        import numpy as np

        v = pdf["value"].to_numpy(dtype="float64")
        med = float(np.median(v))
        mad = float(np.median(np.abs(v - med)))
        return pd.DataFrame(
            {"etype": [pdf["event_type"].iloc[0]], "med": [med], "mad": [mad], "n": [len(v)]}
        )

    ev = (
        read_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select("event_type", "value")
    )
    return (
        ev.groupBy("event_type")
        .applyInPandas(_mad, "etype string, med double, mad double, n bigint")
        .orderBy("etype")
    )


@query("q_ns_emb_neardup", oracle=None)  # LSH bucketing engine-specific
def q_ns_emb_neardup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs via random-projection LSH on
    L2-normalized vectors (the 5th dedup family). Threshold chosen so the
    random fixture yields a small, stable candidate set; recall properties
    are covered by the LSH ANN tests."""
    pairs = dedup.embedding_near_dup_pairs(spread(read_table(spark, sf_dir, "embeddings")))
    return pairs.select(
        "id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim")
    ).orderBy("id_a", "id_b")


@query(
    "q_ns_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
    FROM documents ORDER BY doc_id
    """,
)
def q_ns_fingerprint(spark, sf_dir):
    """Document fingerprinting: md5 of canonicalized text."""
    return (
        read_table(spark, sf_dir, "documents")
        .select("doc_id", TXT.fingerprint("text").alias("fp"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Dedup
# ---------------------------------------------------------------------------

@query(
    "q_ns_dedup_exact",
    oracle="""
    SELECT min(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
    ORDER BY keep_id
    """,
)
def q_ns_dedup_exact(spark, sf_dir):
    """Exact (content-hash) dedup groups with keep-min-id policy."""
    return (
        dedup.content_dedup_groups(read_table(spark, sf_dir, "documents"))
        .select("keep_id", "n_copies")
        .orderBy("keep_id")
    )


@query(
    "q_ns_jaccard_pairs",
    oracle="""
    WITH g AS (
      SELECT doc_id, source, list_distinct(toks) AS grams
      FROM (SELECT doc_id, source,
                   list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                               x -> x <> '') AS toks
            FROM documents WHERE doc_id < 300)
      WHERE len(toks) >= 1)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           len(list_intersect(a.grams, b.grams))::DOUBLE
             / nullif(len(list_distinct(list_concat(a.grams, b.grams))), 0) AS jaccard
    FROM g a JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.grams, b.grams))::DOUBLE
            / nullif(len(list_distinct(list_concat(a.grams, b.grams))), 0) >= 0.5
    ORDER BY id_a, id_b
    """,
)
def q_ns_jaccard_pairs(spark, sf_dir):
    """Exact token-set (1-gram) Jaccard near-dup pairs, blocked by source
    (restricted to doc_id < 300 to keep the oracle-side O(n^2) small; the
    operator itself is unrestricted). Unigrams at threshold 0.5 catch the
    fixture's shuffled-word duplicates — ~1.5k real pairs at every sf, so the
    hash match is non-vacuous (3-grams found nothing: the duplicates reorder
    words)."""
    d = spread(read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300))
    return (
        dedup.ngram_jaccard_pairs(d, n=1)
        .orderBy("id_a", "id_b")
    )


@query("q_ns_dedup_minhash", oracle=None)  # MinHash sig depends on engine hashing
def q_ns_dedup_minhash(spark, sf_dir):
    """MinHash-LSH fuzzy dedup: surviving doc ids (property-tested: recall
    vs exact Jaccard, idempotence)."""
    survivors = dedup.minhash_dedup(spread(read_table(spark, sf_dir, "documents")))
    return survivors.select("doc_id").orderBy("doc_id")


#: Portable-MinHash pair CTE chain, shared by the pairs entry and the
#: end-to-end dedup entry (must mirror operators.dedup.minhash_pairs_portable
#: at its geometry and min_jaccard=0.5 exactly; the oracle joins on
#: (band_idx, band_key), the recipe on the folded key — equal up to md5
#: collisions).
_MINHASH_PAIRS_CTES = r"""
    g AS (
      SELECT doc_id, grams FROM (
        SELECT doc_id,
               list_distinct(list_transform(
                 generate_series(1, len(toks) - 2),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS grams
        FROM (SELECT doc_id,
                     list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                 x -> x <> '') AS toks
              FROM documents))
      WHERE len(grams) >= 1),
    mh AS (
      SELECT doc_id, 4 * seed + q AS slot,
             min(substring(md5(seed::VARCHAR || '|' || gram), q * 8 + 1, 8)) AS v
      FROM (SELECT doc_id, unnest(grams) AS gram FROM g),
           range(4) h(seed), range(4) qq(q)
      GROUP BY doc_id, seed, q),
    sig AS (
      SELECT doc_id, list(v ORDER BY slot) AS sig FROM mh GROUP BY doc_id),
    bands AS (
      SELECT doc_id, b.band AS band_idx,
             md5(array_to_string(sig[b.band*4+1 : b.band*4+4], '|')) AS band_key
      FROM sig, range(4) b(band)),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
      FROM bands a JOIN bands b2
        ON a.band_idx = b2.band_idx AND a.band_key = b2.band_key
       AND a.doc_id < b2.doc_id),
    pairs AS (
      SELECT c.id_a, c.id_b,
             len(list_intersect(ga.grams, gb.grams))::DOUBLE
               / len(list_distinct(list_concat(ga.grams, gb.grams))) AS jaccard
      FROM cand c
      JOIN g ga ON ga.doc_id = c.id_a
      JOIN g gb ON gb.doc_id = c.id_b
      WHERE len(list_intersect(ga.grams, gb.grams))::DOUBLE
              / len(list_distinct(list_concat(ga.grams, gb.grams))) >= 0.5)
"""


@query(
    "q_ns_minhash_portable",
    oracle=f"""
    WITH {_MINHASH_PAIRS_CTES}
    SELECT id_a, id_b, jaccard FROM pairs ORDER BY id_a, id_b
    """,
)
def q_ns_minhash_portable(spark, sf_dir):
    """MinHash-LSH near-dup pairs with portable (md5) hashing — the ONLY
    fuzzy-dedup entry whose candidate generation is hash-checked end to end
    against the DuckDB oracle (the MLlib twin ``q_ns_dedup_minhash`` is
    rows-only because its hash family is engine-internal). 3-gram shingles
    at threshold 0.5: selective on this fixture (28 true pairs at sf0.001 vs
    90k for unigrams — word-shuffled dups are ``q_ns_jaccard_pairs``'s job;
    LSH showcases the banded candidate cut, which needs a sparse pair
    set)."""
    pairs = dedup.minhash_pairs_portable(spread(read_table(spark, sf_dir, "documents")))
    return pairs.orderBy("id_a", "id_b")


@query(
    "q_ns_minhash_dedup_e2e",
    oracle=f"""
    WITH RECURSIVE {_MINHASH_PAIRS_CTES},
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs),
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
    SELECT doc_id FROM labeled WHERE doc_id = rep_id ORDER BY doc_id
    """,
)
def q_ns_minhash_dedup_e2e(spark, sf_dir):
    """Fuzzy dedup END TO END with value-checked SURVIVORS: portable
    MinHash-LSH pairs -> connected components (label propagation with
    pointer jumping) -> keep-min-id-per-component. The MLlib fuzzy-dedup
    survivors (``q_ns_dedup_minhash``) are rows-only by necessity; this
    entry closes that gap — the DuckDB oracle replays the identical md5
    pipeline and a recursive-CTE transitive closure, so the exact surviving
    id set, not just its size, is hash-checked. Same component machinery
    as ``q_x6_cc_clusters`` but over LSH-verified near-dup edges instead of
    gram-block edges — the composition a production fuzzy-dedup runs."""
    d = spread(read_table(spark, sf_dir, "documents"))
    pairs = dedup.minhash_pairs_portable(d)
    reps = dedup.keep_one_representatives(
        pairs.select("id_a", "id_b"), d.select("doc_id"), "doc_id"
    )
    return (
        reps.filter(F.col("doc_id") == F.col("rep_id"))
        .select("doc_id")
        .orderBy("doc_id")
    )


@query("q_ns_dedup_simhash", oracle=None)  # xxhash64-based signature, engine-specific
def q_ns_dedup_simhash(spark, sf_dir):
    """SimHash near-dup candidate pairs (hamming <= 3 over 63-bit sigs)."""
    return dedup.simhash_candidate_pairs(spread(read_table(spark, sf_dir, "documents"))).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------

@query(
    "q_ns_knn_exact",
    oracle="""
    SELECT query_id, neighbor_id, sim, rn FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS sim,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.embedding::DOUBLE[],
                                               c.embedding::DOUBLE[]) DESC,
                        c.vec_id) AS BIGINT) AS rn
      FROM embeddings q, embeddings c
      WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id)
    WHERE rn <= 5 ORDER BY query_id, rn
    """,
)
def q_ns_knn_exact(spark, sf_dir):
    """Exact brute-force cosine top-5 for 10 query vectors — the ANN
    baseline. Corpus streams, queries broadcast, JVM-side dot products."""
    emb = read_table(spark, sf_dir, "embeddings")
    res = similarity.brute_force_top_k(
        corpus=emb, queries=emb.filter(F.col("vec_id") < 10), k=5
    )
    return res.select(
        "query_id", "neighbor_id", "sim", F.col("rn").cast("bigint").alias("rn")
    ).orderBy("query_id", "rn")


@query("q_ns_ann_lsh", oracle=None)  # LSH bucketing is engine-specific
def q_ns_ann_lsh(spark, sf_dir):
    """Random-projection LSH ANN, same contract as q_ns_knn_exact
    (property-tested: recall >= 0.6 vs exact)."""
    emb = spread(read_table(spark, sf_dir, "embeddings"))
    res = similarity.lsh_top_k(corpus=emb, queries=emb.filter(F.col("vec_id") < 10), k=5)
    return res.orderBy("query_id", "rn")


@query("q_ns_ann_ivf", oracle=None)  # KMeans centroids are engine-specific
def q_ns_ann_ivf(spark, sf_dir):
    """IVF (KMeans-partitioned) ANN — the large-|Q| scale path."""
    emb = spread(read_table(spark, sf_dir, "embeddings"))
    res = similarity.ivf_top_k(corpus=emb, queries=emb.filter(F.col("vec_id") < 10), k=5)
    return res.orderBy("query_id", "rn")


@query("q_ns_ann_pq", oracle=None)  # KMeans codebooks are engine-specific
def q_ns_ann_pq(spark, sf_dir):
    """Product-quantization ANN (ADC + exact re-rank) — the compressed-scan
    path: vectors stored as m one-byte codes, approximate distances via
    per-query lookup tables, top-k*refine re-ranked exactly. Recall-vs-
    exact is property-tested (tests/test_properties.py)."""
    # NOT spread: PQ's per-subspace KMeans fits launch ~16 small jobs that
    # each re-read the encoded corpus; an extra exchange in that lineage
    # costs more than the single-task scan saves (measured 4.6s -> 13.4s).
    emb = read_table(spark, sf_dir, "embeddings")
    res = similarity.pq_top_k(corpus=emb, queries=emb.filter(F.col("vec_id") < 10), k=5)
    return res.orderBy("query_id", "rn")


@query("q_ns_ann_ivfpq", oracle=None)  # quantizer centroids are engine-specific
def q_ns_ann_ivfpq(spark, sf_dir):
    """Composed IVF+PQ ANN — the full 100 TB index: the coarse quantizer
    prunes candidates to n_probe of n_centroids cells AND the PQ codes
    compress the scan inside those cells (residual-encoded, so the code
    budget quantizes finer than raw-vector PQ), then exact re-rank.
    Recall-vs-exact is property-tested alongside the PQ-only operator at
    an equal code budget (tests/test_properties.py)."""
    emb = read_table(spark, sf_dir, "embeddings")
    res = similarity.ivfpq_top_k(corpus=emb, queries=emb.filter(F.col("vec_id") < 10), k=5)
    return res.orderBy("query_id", "rn")


@query("q_ns_ann_ivfpq_idx", oracle=None)  # quantizer centroids are engine-specific
def q_ns_ann_ivfpq_idx(spark, sf_dir):
    """Persisted IVF+PQ index, built then probed — encode-once-probe-many,
    the production retrieval shape. The codes live in parquet PARTITIONED
    BY centroid_id with the quantizers in a JSON sidecar; probing n_probe
    cells puts a literal IN predicate on the partitioned scan, so unprobed
    cells are never read from storage (partition pruning, plan-asserted in
    tests/test_properties.py). Results are bit-identical to the in-memory
    q_ns_ann_ivfpq at the same parameters (tested).

    Measured scale curve (BENCHNOTES.md, Round 13: corpus grown
    1x/10x/30x/100x with distinct rotated/sign-flipped replicas, fixed
    10-query batch): at this entry's FIXED geometry
    (16 centroids, n_probe=8) the probe is FLAT (2.3-3.1s) through
    100x — overhead-bound at local scale, with the read bounded to
    n_probe/n_centroids of the corpus by the pruning. The
    constant-cell-size regime (n_centroids grown with the corpus, IVF
    practice) keeps probed BYTES constant but pays a cost that grows
    with n_centroids (3.7s at 480, 7.9s at 1600 vs ~2-3s at 16).
    ATTRIBUTION (measured, BENCHNOTES r13): it is the SMALL-FILES
    problem — one parquet directory per cell means every probe's fresh
    file index lists C directories and the write schedules C tasks —
    not plan literals (a pruned 8-cell count at C=256 runs in 0.23s
    once listed). At this entry's 16-cell geometry the one-directory-
    per-cell layout is not the bottleneck."""
    path = _store_dir("ann_ivfpq", sf_dir)
    emb = read_table(spark, sf_dir, "embeddings")
    similarity.build_ivfpq_index(emb, path, n_centroids=16)
    res = similarity.probe_ivfpq_index(
        spark, path, emb.filter(F.col("vec_id") < 10), k=5, n_probe=8
    )
    return res.orderBy("query_id", "rn")


@query("q_ns_multimodal", oracle=None)  # binary payloads, Python codec UDFs
def q_ns_multimodal(spark, sf_dir):
    """Multimodal plumbing end-to-end with mime-routed codecs: PNG assets go
    through the REAL pure-Python PNG codec (decode → nearest-neighbor resize
    to 64x48 → re-encode → pixel-histogram features; ``functions.png``),
    formats without an installed codec (JPEG/WAV) take the deterministic
    fake transcode. Routing happens per row INSIDE one Arrow-batched
    ``mapInPandas`` pass (``use_real_decoder="auto"``) — a mime pre-split
    into separate plan branches cannot push the filter below the Python
    generator, so each branch would re-run the whole (codec-dominated)
    generation; the single pass is the shape a mixed-modality lake needs
    at scale."""
    assets = multimodal.synthetic_assets(spark)
    feats = multimodal.extract_features(
        multimodal.resize_assets(assets, 64, 48, use_real_decoder="auto"),
        use_real_decoder="auto",
    )
    return feats.select(
        "asset_id",
        "mime",
        "n_bytes",
        F.round(F.element_at("features", 1), 6).alias("f0"),
    ).orderBy("asset_id")


@query("q_ej_image_phash_neardup", oracle=None)  # PNG decode: no SQL twin
def q_ej_image_phash_neardup(spark, sf_dir):
    """IMAGE-CONTENT NEAR-DUP — the multimodal family's content-level dedup
    (round-12 verdict's named candidate; until now image assets deduped
    byte-exact only): 64-bit dHash over REAL decoded PNG pixels
    (``functions.png``), near-dup pairs via the SimHash-style banded
    equi-join + exact ``bit_count(XOR)`` verify (``operators/phash.py``,
    Manku et al. 2007 banding). The planted corpus contains brightness
    variants (+3 all pixels → Hamming exactly 0) and one-band-inverted
    variants (≤8 bits flip, confined to one 16-bit block → found via the
    3 intact blocks); unrelated pseudo-random pairs sit at expected
    Hamming 32. Recall boundary (r13 verdict note): the 4-band scheme
    GUARANTEES every pair at Hamming < 4; pairs between 4 and
    MAX_HAMMING (10) are reported only when some 16-bit block survives
    intact — probabilistic recall, exact precision (the planted fixture
    stays within the guarantee by construction). Rows-only by necessity
    (DuckDB cannot inflate PNG IDAT
    streams); the golden test recomputes every expected pair driver-side
    through the SAME ``dhash_py`` kernel and requires exact equality, and
    property tests pin the variant distances (tests/test_phash.py).

    Scale shape: payload bytes never leave the decode stage (what
    shuffles is (id, 8-byte hash)); candidates come from a 4x16-bit
    band equi-join — never all-pairs; verification is a JVM bit_count
    on two longs. 100 TB of images cost one decode pass + a banded
    join on 32-byte rows."""
    corpus = phash.synthetic_png_neardup_corpus(spark)
    pairs = phash.hamming_neardup_pairs(phash.dhash_features(corpus))
    return pairs.orderBy("id_a", "id_b")


@query("q_el_image_dedup_e2e", oracle=None)  # PNG decode: no SQL twin
def q_el_image_dedup_e2e(spark, sf_dir):
    """IMAGE DEDUP END TO END — pairs are not a dedup decision yet: this
    entry composes the pHash near-dup pairs (q_ej) with the
    connected-components representative picker the TEXT dedup family
    uses (``operators/dedup.keep_one_representatives``, Kiveris et al.
    SoCC'14 pointer-jumping CC), producing one row per image CLUSTER:
    the surviving representative (min asset_id — always the base image,
    variants carry +10k/+20k offsets), member count, and the sorted
    member list. The transitive case is exercised by construction:
    every 12th base has BOTH a brightness and a band-inverted variant,
    and the variant-variant edge merges the triple into one cluster.
    Rows-only (PNG decode has no SQL twin); the golden test union-finds
    the driver-side brute-force pairs and requires the exact cluster
    partition (tests/test_phash.py).

    Scale: decode once (hashes cached — 16 bytes/image), banded pair
    join, then CC over the PAIR graph only — O(log diameter) rounds of
    3 bounded shuffles; image bytes never enter any of it."""
    corpus = phash.synthetic_png_neardup_corpus(spark)
    hashes = phash.dhash_features(corpus).cache()
    pairs = phash.hamming_neardup_pairs(hashes)
    reps = dedup.keep_one_representatives(
        pairs, hashes.select("asset_id"), id_col="asset_id"
    )
    return (
        reps.groupBy("rep_id")
        .agg(
            F.count("*").cast("bigint").alias("n_members"),
            F.concat_ws(
                ",", F.sort_array(F.collect_list(F.col("asset_id")))
            ).alias("members"),
        )
        .orderBy("rep_id")
    )


@query(
    "q_ns_scrub",
    oracle=r"""
    WITH d AS (
        SELECT doc_id,
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@mail.example.com or https://t.example/'
                    || CAST(doc_id AS VARCHAR) || '?x=1 cc @handle_'
                    || CAST(doc_id AS VARCHAR) AS raw
        FROM documents
    ),
    s AS (
        SELECT doc_id, raw,
               regexp_replace(
                   regexp_replace(raw, 'https?://[^\s]+', '<url>', 'g'),
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                   '<email>', 'g') AS half
        FROM d
    )
    SELECT doc_id,
           regexp_replace(half, '@[A-Za-z0-9_]+', '<user>', 'g') AS clean,
           CAST(len(regexp_extract_all(raw, 'https?://[^\s]+')) AS INT)
               AS n_urls,
           CAST(len(regexp_extract_all(raw,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT)
               AS n_emails,
           CAST(len(regexp_extract_all(half, '@[A-Za-z0-9_]+')) AS INT)
               AS n_handles
    FROM s
    ORDER BY doc_id
    """,
)
def q_ns_scrub(spark, sf_dir):
    """North star: PII/link scrubbing for training text — URLs, emails, and
    @handles replaced with typed placeholders, plus per-document match
    counts. The fixture text contains no PII, so each row gets a
    deterministic injection derived from ``doc_id`` (same expression in the
    oracle) — the regexes are genuinely exercised, not vacuously matched
    against clean text. Handle counts run on the url/email-scrubbed text so
    an email's ``@domain`` is not double-counted. Everything is a codegen'd
    ``regexp_replace``/``regexp_count`` chain — no Python, no shuffle
    except the final order."""
    docs = read_table(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"), sid,
        F.lit("@mail.example.com or https://t.example/"), sid,
        F.lit("?x=1 cc @handle_"), sid,
    )
    half = F.regexp_replace(
        F.regexp_replace(raw, TXT.URL_RE, "<url>"),
        TXT.EMAIL_RE, "<email>",
    )
    return (
        docs.select(
            "doc_id",
            TXT.scrub_text(raw).alias("clean"),
            F.regexp_count(raw, F.lit(TXT.URL_RE)).cast("int").alias("n_urls"),
            F.regexp_count(raw, F.lit(TXT.EMAIL_RE)).cast("int").alias("n_emails"),
            F.regexp_count(half, F.lit(TXT.HANDLE_RE)).cast("int").alias("n_handles"),
        )
        .orderBy("doc_id")
    )


@query(
    "q_ns_pipeline",
    oracle=r"""
    WITH injected AS (
        SELECT doc_id, source,
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@mail.example.com see https://x.example/'
                    || CAST(doc_id AS VARCHAR) AS raw
        FROM documents),
    scrubbed AS (
        SELECT doc_id, source,
               regexp_replace(regexp_replace(regexp_replace(raw,
                   'https?://[^\s]+', '<url>', 'g'),
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                   '<email>', 'g'),
                   '@[A-Za-z0-9_]+', '<user>', 'g') AS text
        FROM injected),
    scored AS (
        SELECT doc_id, source, text,
               round((least(n/200.0, 1.0) + coalesce(n_alpha/nullif(n,0), 0)
                      + (CASE WHEN list_sum(list_transform(toks, x -> length(x)))::DOUBLE
                                   / nullif(len(toks), 0) BETWEEN 3 AND 10
                              THEN 1.0 ELSE 0.5 END)) / 3.0, 6) AS quality,
               CAST(len(toks) AS BIGINT) AS n_tokens
        FROM (SELECT *, length(text)::DOUBLE AS n,
                     length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::DOUBLE AS n_alpha,
                     list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                 x -> x <> '') AS toks
              FROM scrubbed)),
    filtered AS (SELECT * FROM scored WHERE quality >= 0.9),
    with_dups AS (
        SELECT * FROM filtered
        UNION ALL
        SELECT doc_id + 100000, source, text, quality, n_tokens
        FROM filtered WHERE doc_id % 5 = 0),
    kept AS (
        SELECT * FROM with_dups
        WHERE doc_id IN (
            SELECT min(doc_id) FROM with_dups
            GROUP BY md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))))
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(CAST(quality AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS avg_q
    FROM kept
    GROUP BY source
    ORDER BY source
    """,
)
def q_ns_pipeline(spark, sf_dir):
    """North star end-to-end: the composed training-data pipeline —
    scrub (deterministic injected PII, as q_ns_scrub) → quality gate
    (>= 0.9, non-vacuous: the fixture spans ~0.68-0.95) → exact content
    dedup keep-min-id → per-source corpus stats. The whole chain is
    codegen'd SQL except the dedup shuffle (16-byte digests), and the
    oracle replays every stage in DuckDB — pinning that the composed
    operators agree end-to-end, not just per-stage. avg quality routes
    through decimal-sum/count so both engines divide identical inputs."""
    from ..operators import dedup as D

    docs = spread(read_table(spark, sf_dir, "documents"))
    sid = F.col("doc_id").cast("string")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"), sid,
        F.lit("@mail.example.com see https://x.example/"), sid,
    )
    scrubbed = docs.select(
        "doc_id", "source", TXT.scrub_text(raw).alias("text")
    )
    scored = scrubbed.select(
        "doc_id",
        "source",
        "text",
        TXT.quality_score("text").alias("quality"),
        TXT.token_count("text").cast("bigint").alias("n_tokens"),
    )
    filtered = scored.filter(F.col("quality") >= 0.9)
    # Inject deterministic exact duplicates (the fixture has none) so the
    # dedup stage provably removes rows — keep-min-id keeps the original.
    dups = filtered.where(F.col("doc_id") % 5 == 0).withColumn(
        "doc_id", F.col("doc_id") + 100000
    )
    with_dups = filtered.unionByName(dups)
    kept = D.content_dedup(with_dups)
    return (
        kept.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            (
                F.sum(F.col("quality").cast("decimal(38,6)")).cast("double")
                / F.count("*")
            ).alias("avg_q"),
        )
        .orderBy("source")
    )


@query("q_xc_semantic_dedup", oracle=None)  # KMeans clustering engine-specific
def q_xc_semantic_dedup(spark, sf_dir):
    """SemDeDup-style semantic dedup, non-vacuous by construction: every
    50th embedding gets a planted near-copy (id + 1e6, first coordinate
    nudged by 1e-3 → cosine ~0.9999), then ``operators.dedup.semantic_dedup``
    clusters the corpus (bounded-sample KMeans), finds within-cluster pairs
    with cosine >= 0.99, and keeps the min-id representative per component —
    so exactly the planted copies disappear. Output: surviving ids with a
    ``planted`` marker (0 expected for all survivors). Rows-only: centroid
    assignment is engine-specific; the removal property is pinned in
    tests/test_properties.py.
    """
    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = emb.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x + F.when(i == 0, F.lit(1e-3)).otherwise(F.lit(0.0)),
        ).alias("embedding"),
    )
    corpus = emb.unionByName(planted)
    survivors = dedup.semantic_dedup(corpus, min_cosine=0.99)
    return survivors.select(
        "vec_id", (F.col("vec_id") >= 1_000_000).cast("int").alias("planted")
    ).orderBy("vec_id")


@query("q_ns_compression_quality", oracle=None)  # zlib — no SQL twin exists
def q_ns_compression_quality(spark, sf_dir):
    """Compression-ratio QUALITY SIGNAL: per-document
    ``len(zlib(text)) / len(text)`` via one Arrow-batched ``mapInPandas``
    pass — the classic corpus-hygiene heuristic (highly compressible ⇒
    repetitive boilerplate; near-incompressible ⇒ binary junk or
    high-entropy noise; cf. the repetition filters in Rae et al. 2021
    (Gopher) §A.1.2 and Penedo et al. 2023 (RefinedWeb) — public). Flags
    both tails with fixed thresholds. Rows-only by necessity (no SQL
    engine exposes zlib); determinism is exact — zlib level 6 output is a
    pure function of the bytes — and tests golden-check ratios against
    direct ``zlib`` calls plus the flag logic.

    Scale shape: map-only (no shuffle at all before the final order);
    Python cost is one Arrow batch crossing per partition — this is one
    of the engine's sanctioned escape hatches (U-surface), used because
    the operator genuinely needs a byte-level codec, not because SQL was
    inconvenient. The same pass at 100 TB is embarrassingly parallel.
    """
    import pandas as pd

    docs = spread(read_table(spark, sf_dir, "documents")).select("doc_id", "text")

    def batches(it):
        import zlib

        for pdf in it:
            raw = pdf["text"].fillna("").str.encode("utf-8")
            n_bytes = raw.str.len()
            n_comp = raw.map(lambda b: len(zlib.compress(b, 6)))
            ratio = (n_comp / n_bytes.clip(lower=1)).round(6)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": n_bytes.astype("int64"),
                    "n_compressed": n_comp.astype("int64"),
                    "ratio": ratio,
                    "too_repetitive": (ratio < 0.25).astype("int32"),
                    "too_random": (ratio > 0.9).astype("int32"),
                }
            )

    out_schema = (
        "doc_id long, n_bytes long, n_compressed long, ratio double,"
        " too_repetitive int, too_random int"
    )
    return docs.mapInPandas(batches, schema=out_schema).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Cohen's kappa: langid heuristic vs labeled lang (classifier agreement)
# ---------------------------------------------------------------------------

#: Chance-corrected agreement close on exact integer confusion margins:
#: po = diag/n, pe = sum(row_i * col_i)/n^2, kappa = (po-pe)/(1-pe).
_KAPPA = (
    "((CAST(diag AS DOUBLE) / CAST(n AS DOUBLE)"
    " - CAST(pe_num AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))"
    " / nullif(1e0 - CAST(pe_num AS DOUBLE)"
    " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 0e0))"
)


def _kappa_oracle() -> str:
    toks = r"list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')"
    hits = {
        lang: f"len(list_intersect({toks}, {list(ws)!r}))"
        for lang, ws in _SW.items()
    }
    best = "greatest(" + ", ".join(hits[lang] for lang in TXT.LANG_ORDER) + ")"
    case = "CASE "
    for lang in TXT.LANG_ORDER:
        case += f"WHEN {best} > 0 AND {hits[lang]} = {best} THEN '{lang}' "
    case += "ELSE 'und' END"
    return f"""
    WITH pred AS (
      SELECT lang AS truth, {case} AS guess FROM documents),
    cell AS (
      SELECT truth, guess, CAST(count(*) AS BIGINT) AS c
      FROM pred GROUP BY 1, 2),
    rows_ AS (SELECT truth, CAST(sum(c) AS BIGINT) AS r FROM cell GROUP BY 1),
    cols_ AS (SELECT guess, CAST(sum(c) AS BIGINT) AS k FROM cell GROUP BY 1),
    agg AS (
      SELECT CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(CASE WHEN truth = guess THEN c ELSE 0 END) AS BIGINT)
               AS diag
      FROM cell),
    pe AS (
      SELECT CAST(sum(r.r * c.k) AS BIGINT) AS pe_num
      FROM rows_ r JOIN cols_ c ON c.guess = r.truth)
    SELECT a.n, a.diag,
           round(CAST(a.diag AS DOUBLE) / CAST(a.n AS DOUBLE), 6)
             AS accuracy,
           round({_KAPPA}, 6) AS kappa
    FROM agg a CROSS JOIN pe
    """


@query("q_d7_cohens_kappa", oracle=_kappa_oracle())
def q_d7_cohens_kappa(spark, sf_dir):
    """COHEN'S KAPPA (Cohen, Educ. Psychol. Meas. 1960) between the
    engine's stopword-argmax language identifier (q_ns_langid) and the
    corpus's labeled ``lang`` column — chance-corrected agreement, the
    honest version of raw accuracy when class priors are skewed (a
    majority-class guesser scores high accuracy but kappa ~ 0). The
    confusion matrix, its margins and the diagonal are exact integer
    aggregates at class grain (<= 6 x 6 cells); po/pe/kappa close in
    one shared-text expression.

    Scale shape: one classifier scan (pure JVM regex + array
    intersects — no Python), one class-grain aggregate, a constant
    close. 100 TB = one scan + a 36-cell tail.
    """
    d = read_table(spark, sf_dir, "documents")
    pred = d.select(
        F.col("lang").alias("truth"), TXT.lang_guess("text").alias("guess")
    )
    # Pin the 36-cell confusion frame: rows_/cols_/agg would otherwise
    # each re-run the langid scan (3x the corpus cost, measured 24s ->
    # scan-once at sf0.1).
    cell = (
        pred.groupBy("truth", "guess")
        .agg(F.count("*").cast("bigint").alias("c"))
        .localCheckpoint(eager=True)
    )
    rows_ = cell.groupBy("truth").agg(F.sum("c").cast("bigint").alias("r"))
    cols_ = cell.groupBy("guess").agg(F.sum("c").cast("bigint").alias("k"))
    agg = cell.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.when(F.col("truth") == F.col("guess"), F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("diag"),
    )
    pe = (
        rows_.join(cols_, rows_["truth"] == cols_["guess"])
        .agg(F.sum(F.col("r") * F.col("k")).cast("bigint").alias("pe_num"))
    )
    return (
        agg.crossJoin(F.broadcast(pe))
        .selectExpr(
            "n",
            "diag",
            "round(CAST(diag AS DOUBLE) / CAST(n AS DOUBLE), 6) AS accuracy",
            f"round({_KAPPA}, 6) AS kappa",
        )
    )
