"""Invariant tests for the corpus-preparation ops (plans/pipeline_ops.py).

The oracle tests in test_oracle.py already value-check each query against
DuckDB on the fixture; these pin the *semantic invariants* on adversarial
inputs the fixture doesn't contain (tiny docs, exact-boundary lengths,
oversized docs) so a refactor can't silently change operator meaning while
staying self-consistent with its oracle.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from pyspark_mllib_twitter_spark.plans import REGISTRY, pipeline_ops
from pyspark_mllib_twitter_spark.sources import read_table

from .conftest import SF_SMOKE as SF


def test_chunk_coverage_and_overlap(spark):
    """Every character of every doc appears in >= 1 chunk; consecutive
    chunks overlap by exactly CHUNK_OVERLAP chars (except a short tail);
    stripping the overlap from chunks 1..k reconstructs the document."""
    rows = REGISTRY["q_x1_chunk_docs"].spark(spark, SF).collect()
    docs = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{SF}/documents.parquet").collect()
    }
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(docs)
    stride = pipeline_ops.CHUNK_STRIDE
    for doc_id, chunks in by_doc.items():
        chunks.sort(key=lambda r: r["chunk_id"])
        text = docs[doc_id]
        # Airtight reconstruction: chunk i starts at i*stride.
        rebuilt = chunks[0]["chunk"]
        for c in chunks[1:]:
            start = c["chunk_id"] * stride
            assert text[start:start + len(c["chunk"])] == c["chunk"]
            rebuilt = rebuilt[: start] + c["chunk"]
        assert rebuilt == text, f"doc {doc_id} not covered"
        # last chunk reaches the end of the doc
        last = chunks[-1]
        assert last["chunk_id"] * stride + last["chunk_len"] == len(text)


def _greedy_bins(tokens, budget):
    bins, fill, b = [], 0, 0
    for nt in tokens:
        if fill > 0 and fill + nt > budget:
            b += 1
            fill = 0
        fill += nt
        bins.append(b)
    return bins


@pytest.mark.parametrize(
    "tokens",
    [
        [1],
        [256],
        [257],                      # oversized doc gets its own bin
        [255, 1, 1],                # exact fit then rollover
        [256, 256, 256],            # every doc exactly fills a bin
        [100, 100, 100, 100],       # rollover mid-stream
        [300, 5, 300, 5],           # oversized docs interleaved
        list(range(1, 40)),
    ],
)
def test_greedy_packing_matches_sequential_reference(spark, tokens):
    """applyInPandas next-fit packing == the one-line sequential reference
    on boundary-adversarial token sequences (single source, doc_id order)."""
    df = spark.createDataFrame(
        [("s", i, "x " * t) for i, t in enumerate(tokens)],
        "source string, doc_id long, text string",
    )
    # Route through the same code path as the registered query by renaming
    # the fixture loader's output: build the identical plan inline.
    from pyspark_mllib_twitter_spark.functions import text as TXT

    docs = df.select(
        "source", "doc_id", TXT.token_count("text").cast("bigint").alias("n_tokens")
    )
    got = (
        docs.groupBy("source")
        .applyInPandas(
            pipeline_ops._greedy_pack_pdf,
            "source string, doc_id bigint, n_tokens bigint, bin_id bigint",
        )
        .orderBy("doc_id")
        .collect()
    )
    assert [r["n_tokens"] for r in got] == tokens
    assert [r["bin_id"] for r in got] == _greedy_bins(tokens, pipeline_ops.PACK_BUDGET)
    # no multi-doc bin exceeds the budget
    per_bin: dict[int, list] = {}
    for r in got:
        per_bin.setdefault(r["bin_id"], []).append(r["n_tokens"])
    for members in per_bin.values():
        assert len(members) == 1 or sum(members) <= pipeline_ops.PACK_BUDGET


def test_mix_sources_rates_and_determinism(spark):
    """Realized keep-ratio tracks the declared per-source weight, and the
    hash-gated sampler is bit-stable across runs (no rand())."""
    a = REGISTRY["q_x4_mix_sources"].spark(spark, SF).collect()
    b = REGISTRY["q_x4_mix_sources"].spark(spark, SF).collect()
    assert a == b
    for r in a:
        assert 0 <= r["n_kept"] <= r["n_total"]
        # Knuth-hash residues are near-uniform; small strata get slack.
        tol = 0.25 + 1.0 / max(r["n_total"], 1) ** 0.5
        assert abs(r["kept_ratio"] - r["weight_pct"] / 100.0) <= tol, r


def test_contamination_self_and_clean(spark):
    """A doc with no shared n-grams reports 0; sharing a full n-gram with a
    benchmark doc (id % mod == 0) reports >= 1; a benchmark doc never
    counts itself."""
    mod = pipeline_ops.CONTAM_BENCH_MOD
    rows = [
        (0, "alpha beta gamma delta"),            # benchmark doc (0 % mod == 0)
        (1, "alpha beta gamma epsilon"),          # shares 3-gram with doc 0
        (2, "zz yy xx ww vv"),                    # clean
        (mod, "alpha beta gamma delta"),          # identical benchmark twin
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    import pyspark_mllib_twitter_spark.plans.pipeline_ops as po

    got = {
        r["doc_id"]: (r["n_hits"], r["contaminated"])
        for r in po._contamination_report(df).collect()
    }
    assert got[2] == (0, 0)
    assert got[1][0] >= 1 and got[1][1] == 1
    # benchmark twins flag EACH OTHER but never themselves:
    assert got[0] == (1, 1) and got[mod] == (1, 1)


def test_cc_clusters_partition_properties(spark):
    """Connected-components output is a valid partition: every doc labeled,
    rep is the min doc_id of its cluster, cluster_size consistent."""
    rows = REGISTRY["q_x6_cc_clusters"].spark(spark, SF).collect()
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id").collect()
    assert {r["doc_id"] for r in rows} == {r["doc_id"] for r in docs}
    clusters: dict[int, list] = {}
    for r in rows:
        clusters.setdefault(r["rep_id"], []).append(r)
    for rep, members in clusters.items():
        assert rep == min(m["doc_id"] for m in members)
        assert all(m["cluster_size"] == len(members) for m in members)


def test_repetition_signals_on_crafted_docs(spark):
    """Repetition gate semantics on boundary docs: pure spam maxes both
    fractions; all-distinct tokens yield the 1/(k-1) floor and no dup
    3-grams; empty and single-token docs report zeros unflagged."""
    import pyspark_mllib_twitter_spark.plans.pipeline_ops as po

    distinct = " ".join(f"w{i}" for i in range(41))  # top2 = 1/40 = 0.025
    rows = [
        (0, "spam " * 50),          # one 2-gram repeated -> top2 = dup3 = 1.0
        (1, distinct),
        (2, ""),
        (3, "solo"),
        (4, "a b a b a b a b c"),   # heavy 2-gram repetition
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in po._repetition_report(df).collect()}
    assert len(got) == 5

    assert got[0]["n_tokens"] == 50
    assert got[0]["top2_frac"] == 1.0 and got[0]["dup3_frac"] == 1.0
    assert got[0]["flagged"] == 1

    assert got[1]["n_tokens"] == 41
    assert abs(got[1]["top2_frac"] - 1 / 40) < 1e-12
    assert got[1]["dup3_frac"] == 0.0 and got[1]["flagged"] == 0

    assert got[2]["n_tokens"] == 0
    assert got[2]["top2_frac"] == 0.0 == got[2]["dup3_frac"]
    assert got[2]["flagged"] == 0

    assert got[3]["n_tokens"] == 1
    assert got[3]["top2_frac"] == 0.0 and got[3]["flagged"] == 0

    # "a b" appears 4x of 8 2-grams; dup 3-grams: aba x3 + bab x3 of 7
    assert abs(got[4]["top2_frac"] - 0.5) < 1e-12
    assert abs(got[4]["dup3_frac"] - 6 / 7) < 1e-12
    assert got[4]["flagged"] == 1


def test_lm_score_orders_in_vs_out_of_distribution(spark):
    """The corpus-trained bigram LM ranks a doc built from the corpus's
    dominant bigrams above a doc of singleton gibberish; short/empty docs
    report zero bigrams and the 0.0 sentinel; scores are non-positive."""
    import pyspark_mllib_twitter_spark.plans.pipeline_ops as po

    common = "the quick fox " * 10      # dominant bigrams, repeated corpus-wide
    rows = [
        (0, common),
        (1, common),
        (2, common + "jumps high"),      # in-distribution plus a rare tail
        (3, "zzq vxk wqj plm ghr tyu"),  # every bigram is a singleton
        (4, "solo"),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in po._lm_score_report(df).collect()}
    assert len(got) == 6
    for doc_id, r in got.items():
        assert r["lm_score"] <= 0.0, r
    # n_bigrams == max(n_tokens - 1, 0)
    assert got[0]["n_bigrams"] == 29
    assert got[4]["n_bigrams"] == 0 and got[4]["lm_score"] == 0.0
    assert got[5]["n_bigrams"] == 0 and got[5]["lm_score"] == 0.0
    # in-distribution text outscores singleton gibberish
    assert got[0]["lm_score"] > got[3]["lm_score"]
    # adding a rare tail can only lower the mean log-prob
    assert got[2]["lm_score"] < got[0]["lm_score"]


def test_split_holdout_matches_python_md5_and_partitions(spark):
    """The Spark split counts equal an independent hashlib-md5 computation
    over the same parquet (assignment-level oracle, not just marginals),
    and the splits partition every source exactly."""
    import hashlib

    rows = REGISTRY["q_xa_split_holdout"].spark(spark, SF).collect()
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "source", "doc_id", F.size(F.split(F.lower(F.trim("text")), r"\s+")).alias("nt_raw"),
        "text",
    ).collect()

    expect: dict[tuple, list] = {}
    for d in docs:
        h = hashlib.md5(str(d["doc_id"]).encode()).hexdigest()[-1]
        split = "test" if h == "f" else ("val" if h in ("d", "e") else "train")
        nt = len([t for t in d["text"].lower().strip().split() if t])
        k = (d["source"], split)
        expect.setdefault(k, [0, 0])
        expect[k][0] += 1
        expect[k][1] += nt
    got = {(r["source"], r["split"]): [r["n_docs"], r["n_tokens"]] for r in rows}
    assert got == expect
    # partition: per-source doc counts sum to the source totals
    per_source: dict[str, int] = {}
    for (src, _), (n, _t) in got.items():
        per_source[src] = per_source.get(src, 0) + n
    from collections import Counter

    assert per_source == Counter(d["source"] for d in docs)


def test_cdc_chunks_lossless_and_edit_stable(spark):
    """The two CDC contracts:

    1. LOSSLESS: per doc, chunks concatenate byte-exactly to the original.
    2. EDIT-STABLE: prepending a prefix to a document changes only the
       chunking near the edit — measured from the END, the boundary set is
       (almost entirely) preserved, whereas fixed-offset chunking would
       shift every boundary.
    """
    from pyspark_mllib_twitter_spark.operators.cdc import cdc_chunks

    docs = read_table(spark, SF, "documents").select("doc_id", "text").limit(100)
    out = cdc_chunks(docs).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    texts = {r.doc_id: r.text for r in docs.collect()}
    assert set(by_doc) == set(texts)
    for did, rows in by_doc.items():
        rows.sort(key=lambda r: r.chunk_id)
        assert "".join(r.chunk for r in rows) == texts[did], did
        assert all(r.n_bytes == len(r.chunk.encode()) for r in rows)

    edited = docs.select(
        "doc_id", F.concat(F.lit("PREFIX EDIT >>> "), F.col("text")).alias("text")
    )
    out2 = {r.doc_id: [] for r in docs.collect()}
    for r in cdc_chunks(edited).collect():
        out2[r.doc_id].append(r)

    def tail_boundaries(rows, total_len):
        rows = sorted(rows, key=lambda r: r.chunk_id)
        acc, bounds = 0, []
        for r in rows:
            acc += r.n_bytes
            bounds.append(total_len - acc)  # distance from end
        return set(bounds)

    preserved = []
    for did, rows in by_doc.items():
        n1 = len(texts[did].encode())
        n2 = n1 + len("PREFIX EDIT >>> ")
        b1 = tail_boundaries(rows, n1)
        b2 = tail_boundaries(out2[did], n2)
        if len(b1) > 1:  # single-chunk docs carry no signal
            preserved.append(len(b1 & b2) / len(b1))
    assert preserved and sum(preserved) / len(preserved) >= 0.6, (
        "CDC boundaries did not survive an upstream edit"
    )


def test_cdc_chunks_non_ascii_arrow_safe(spark):
    """Regression: codepoint-level boundaries never split a multi-byte
    UTF-8 sequence, so multilingual chunks serialize through Arrow and
    concatenate losslessly (byte-level CDC crashed here: surrogateescape
    chunk strings are unserializable)."""
    from pyspark_mllib_twitter_spark.operators.cdc import cdc_chunks

    texts = [
        "héllo wörld — ünïcode çafé ñoño " * 40,
        "日本語のテキストです。機械学習のデータ処理。" * 30,
        "mixed ascii και ελληνικά и русский 中文 🎉 " * 35,
        "",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    rows = cdc_chunks(docs).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(range(len(texts)))
    for did, t in enumerate(texts):
        chunks = sorted(by_doc[did], key=lambda r: r.chunk_id)
        assert "".join(r.chunk for r in chunks) == t
        assert all(r.n_bytes == len(r.chunk.encode("utf-8")) for r in chunks)


def test_chunk_dedup_ratios_demonstrate_cdc(spark):
    """The composed chunk-dedup query's contract: unedited documents dedup
    at exactly 1.0 (CDC is deterministic), and EDITED documents still dedup
    above 50% at chunk level (content-defined boundaries re-align after the
    prefix edit — fixed-offset chunking would give ~0 here)."""
    rows = {r.edited: r for r in REGISTRY["q_xf_chunk_dedup"].spark(spark, SF).collect()}
    assert rows[0].dedup_ratio == 1.0
    assert rows[1].dedup_ratio >= 0.5, rows[1]
    assert rows[1].n_chunks > 0 and rows[0].n_chunks > 0


# ---------------------------------------------------------------------------
# Curriculum interleave (round 9)
# ---------------------------------------------------------------------------


def test_curriculum_interleave_spacing_and_share(spark, sf_smoke):
    """q_ds: weighted round-robin invariants — within every source the
    schedule preserves doc_id order with constant stride 6//w between
    positions, and over any full prefix a weight-w source never exceeds
    its fair share of slots by more than one round."""
    from pyspark_mllib_twitter_spark.plans import REGISTRY

    rows = REGISTRY["q_ds_curriculum_interleave"].spark(spark, sf_smoke).collect()
    assert [r.seq for r in rows] == list(range(1, len(rows) + 1))
    by_src = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    for src, rs in by_src.items():
        w = rs[0].w
        stride = 6 // w
        # per-source positions are rank * stride in doc_id order
        assert [x.pos for x in rs] == [stride * (i + 1) for i in range(len(rs))]
        assert [x.doc_id for x in rs] == sorted(x.doc_id for x in rs)
    # A weight-w source holds pos = rank * (6//w), so a source the cut
    # truncated (its next slot would still fit under max_pos only if it
    # ran out of documents) must fill every slot below max_pos; an
    # exhausted source simply ends early.
    max_pos = rows[-1].pos
    for src, rs in by_src.items():
        stride = 6 // rs[0].w
        exhausted = rs[-1].pos + stride <= max_pos
        if not exhausted:
            expect = max_pos // stride  # full rounds fitting below the cut
            assert abs(len(rs) - expect) <= 1


def test_url_canonicalizer_idempotent_and_variant_insensitive():
    """q_dv's shared canonicalization expression, evaluated in DuckDB
    (both engines run the same text): idempotent (canon∘canon = canon)
    and invariant across the five synthesized variants of one page —
    including hypothesis-style randomized page ids."""
    import duckdb

    from pyspark_mllib_twitter_spark.plans.pipeline_ops import (
        _RAWURL_SQL,
        _canon_sql,
    )

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT unnest(range(0, 500)) AS doc_id"
    )
    once = _canon_sql("raw_url")
    twice = _canon_sql(f"({once})")
    rows = con.execute(
        f"""
        WITH u AS (SELECT doc_id, {_RAWURL_SQL} AS raw_url FROM documents)
        SELECT CAST(floor(doc_id / 5.0) AS BIGINT) AS pid,
               count(DISTINCT {once}) AS n_canon,
               count(DISTINCT CASE WHEN ({twice}) <> ({once})
                              THEN doc_id END) AS n_not_idempotent
        FROM u GROUP BY 1
        """
    ).fetchall()
    assert rows, "no pages generated"
    for pid, n_canon, n_not_idem in rows:
        assert n_canon == 1, (pid, n_canon)  # all variants collapse
        assert n_not_idem == 0, pid  # canon is a fixed point


def test_privacy_release_gate_composition(spark):
    """Round-10 verdict task #4: the privacy & provenance layer composes
    into ONE release gate — PII-injected docs → scrub → quality funnel →
    canonical-URL dedup → blocklist → PII redact — and the composed row
    accounting is self-consistent: every stage's n_out is the next
    stage's n_in, the funnel's own audit table agrees with the filter it
    implies, and detection-after-redaction is zero. Mirrors
    q_ns_pipeline's composed shape; each stage reuses the SAME shared
    expression its audit query registers (with_funnel_fail, _RAWURL_SQL/
    _canon_sql, _HOST_SQL/_HOST_SUFFIXES_EXPR, PII_* patterns), so the
    composition and the per-stage audits can never disagree."""
    from pyspark_mllib_twitter_spark.functions import text as TXT

    P = pipeline_ops
    docs = read_table(spark, SF, "documents")
    n0 = docs.count()

    # Stage 1 — scrub (map-only, count-preserving): inject the q_du PII
    # fixture, then the q_ns_scrub link/email/handle pass. The scrub
    # consumes the injected EMAILS (layered defense: the link scrubber
    # catches them first) but not phones/IPs — stage 5 must still find
    # those. n_chars is recomputed: the funnel gates read current text.
    injected = docs.select(
        "doc_id", "source", "lang", F.expr(P._PII_SQL).alias("text")
    )
    scrubbed = injected.select(
        "doc_id", "source", "lang", TXT.scrub_text(F.col("text")).alias("text")
    ).withColumn("n_chars", F.length("text"))
    n1 = scrubbed.count()
    assert n1 == n0

    # Stage 2 — quality funnel (q_dt gates via the shared helper).
    flagged = P.with_funnel_fail(scrubbed)
    drops = {
        r["fail"]: r["n"]
        for r in flagged.groupBy("fail").agg(F.count("*").alias("n")).collect()
    }
    survivors = flagged.filter(F.col("fail") == 0).drop("fail")
    n2 = survivors.count()
    # the funnel audit chain: n_in(k+1) = n_out(k), closing at n2
    n_in = n1
    for stage in range(1, 6):
        n_out = n_in - drops.get(stage, 0)
        assert n_out >= 0, (stage, n_in, drops)
        n_in = n_out
    assert n_in == n2 == drops.get(0, 0)
    assert 0 < n2 < n1, "funnel must be non-vacuous on the fixture"

    # Stage 3 — canonical-URL dedup, keep-min-doc_id (q_dv semantics).
    with_canon = survivors.selectExpr(
        "*", f"{P._RAWURL_SQL} AS raw_url"
    ).selectExpr("*", f"{P._canon_sql('raw_url')} AS canonical_url")
    keepers = with_canon.groupBy("canonical_url").agg(
        F.min("doc_id").alias("doc_id")
    )
    kept = with_canon.join(keepers, ["canonical_url", "doc_id"])
    n3 = kept.count()
    assert n3 == with_canon.select("canonical_url").distinct().count()
    assert 0 < n3 < n2, "URL variants of one page must collapse"

    # Stage 4 — domain blocklist, label-boundary suffix anti-join (q_dy).
    hosted = kept.selectExpr("*", f"{P._HOST_SQL} AS host")
    rules = spark.createDataFrame([(r,) for r in P.BLOCK_RULES], "rule string")
    blocked = (
        hosted.select(
            "doc_id", F.explode(F.expr(P._HOST_SUFFIXES_EXPR)).alias("sfx")
        )
        .join(F.broadcast(rules), F.col("sfx") == F.col("rule"))
        .select("doc_id")
        .distinct()
    )
    n_blocked = blocked.count()
    passed = hosted.join(blocked, "doc_id", "left_anti")
    n4 = passed.count()
    assert n4 == n3 - n_blocked
    assert n_blocked > 0, "src1/src3 hosts must hit the blocklist"

    # Stage 5 — PII redact (map-only, count-preserving): q_du patterns;
    # the release assertion is detection-after-redaction == 0.
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("text", F.lit(P.PII_EMAIL), F.lit("[EMAIL]")),
            F.lit(P.PII_PHONE),
            F.lit("[PHONE]"),
        ),
        F.lit(P.PII_IP),
        F.lit("[IP]"),
    )
    n_match = lambda c: (  # noqa: E731 - local alias
        F.size(F.regexp_extract_all(c, F.lit(P.PII_EMAIL), F.lit(0)))
        + F.size(F.regexp_extract_all(c, F.lit(P.PII_PHONE), F.lit(0)))
        + F.size(F.regexp_extract_all(c, F.lit(P.PII_IP), F.lit(0)))
    )
    audited = passed.select(
        n_match(F.col("text")).alias("pre"),
        (F.length("text") - F.length(clean)).alias("dchars"),
        n_match(clean).alias("post"),
    )
    row = audited.agg(
        F.count("*").alias("n5"),
        F.sum("pre").alias("pre"),
        F.sum("post").alias("post"),
        F.sum("dchars").alias("dchars"),
    ).collect()[0]
    assert row["n5"] == n4, "redaction is map-only: no rows may drop"
    assert row["pre"] > 0, "phones/IPs must survive the scrub to here"
    assert row["post"] == 0, "detection after redaction must be zero"
    assert row["dchars"] > 0  # redaction provably shortened the corpus


def test_dup_profile_accounts_for_injected_copies(spark):
    """q_dz: with the deterministic 1/2/3-copy injection, the profile's
    totals must equal the injection arithmetic exactly: every 5th doc
    gains a copy, every 25th a second, and removable docs equal the
    number of injected rows (dedup would restore the original corpus)."""
    rows = {
        r["cluster_size"]: r
        for r in REGISTRY["q_dz_dup_profile"].spark(spark, SF).collect()
    }
    n0 = spark.read.parquet(f"{SF}/documents.parquet").count()
    n5 = sum(1 for i in range(n0) if i % 5 == 0)
    n25 = sum(1 for i in range(n0) if i % 25 == 0)
    assert set(rows) == {1, 2, 3}
    assert rows[3]["n_clusters"] == n25
    assert rows[2]["n_clusters"] == n5 - n25
    assert rows[1]["n_clusters"] == n0 - n5
    total_removable = sum(r["docs_removable"] for r in rows.values())
    assert total_removable == n5 + n25  # exactly the injected rows
    for r in rows.values():
        assert r["n_docs"] == r["cluster_size"] * r["n_clusters"]
        assert r["bytes_removable"] >= r["docs_removable"]  # docs non-empty


def test_source_overlap_set_algebra_bounds(spark):
    """q_ea: every pair's shared count obeys set algebra against the
    per-source vocabularies, jaccard matches the counts, and the matrix
    covers every unordered source pair exactly once."""
    rows = REGISTRY["q_ea_source_overlap"].spark(spark, SF).collect()
    sources = {
        r["source"]
        for r in spark.read.parquet(f"{SF}/documents.parquet")
        .select("source")
        .distinct()
        .collect()
    }
    assert len(rows) == len(sources) * (len(sources) - 1) // 2
    for r in rows:
        assert r["source_a"] < r["source_b"]
        assert 0 <= r["n_shared"] <= min(r["vocab_a"], r["vocab_b"])
        union = r["vocab_a"] + r["vocab_b"] - r["n_shared"]
        assert abs(r["jaccard"] - r["n_shared"] / union) < 1e-6


def test_path_blocklist_segment_boundary(spark):
    """q_eb's prefix semantics on adversarial paths: '/src1' must block
    '/src1/page/3/v0' but NEVER '/src1x/...' (raw startswith would);
    overlapping rules resolve to the longest (most specific)."""
    from pyspark_mllib_twitter_spark.plans.pipeline_ops import (
        _PATH_PREFIXES_EXPR,
        PATH_BLOCK_RULES,
    )

    docs = spark.createDataFrame(
        [
            (1, "/src1/page/3/v0"),     # blocked by /src1
            (2, "/src1x/page/3/v0"),    # NOT blocked (segment boundary)
            (3, "/src1/page/7/v2"),     # blocked; longest = /src1/page/7
            (4, "/src3/page/9/v1"),     # blocked by /src3/page
            (5, "/src2/page/9/v1"),     # clean
            (6, "/src1"),               # exact rule-length path
        ],
        "doc_id long, path string",
    )
    pfx = docs.select(
        "doc_id", F.explode(F.expr(_PATH_PREFIXES_EXPR)).alias("pfx")
    )
    rules = spark.createDataFrame(
        [(r,) for r in PATH_BLOCK_RULES], "rule string"
    )
    hits = (
        pfx.join(F.broadcast(rules), F.col("pfx") == F.col("rule"))
        .groupBy("doc_id")
        .agg(
            F.max(
                F.struct(F.length("rule").alias("l"), F.col("rule").alias("r"))
            )["r"].alias("rule")
        )
    )
    got = {r["doc_id"]: r["rule"] for r in hits.collect()}
    assert got == {
        1: "/src1",
        3: "/src1/page/7",
        4: "/src3/page",
        6: "/src1",
    }


def test_dup_profile_predicts_content_dedup_exactly(spark):
    """q_dz's removable-docs accounting must equal what content_dedup
    actually removes on the identical injected corpus — the profile is
    the PRICE QUOTE for the dedup operator, so the two must agree to
    the row."""
    from pyspark_mllib_twitter_spark.operators import dedup as D

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    dups1 = docs.filter(F.col("doc_id") % 5 == 0).withColumn(
        "doc_id", F.col("doc_id") + 100000
    )
    dups2 = docs.filter(F.col("doc_id") % 25 == 0).withColumn(
        "doc_id", F.col("doc_id") + 200000
    )
    corpus = docs.unionByName(dups1).unionByName(dups2)
    n_corpus = corpus.count()
    n_kept = D.content_dedup(corpus).count()
    removable = sum(
        r["docs_removable"]
        for r in REGISTRY["q_dz_dup_profile"].spark(spark, SF).collect()
    )
    assert n_corpus - n_kept == removable


def test_source_overlap_matches_python_sets(spark):
    """q_ea vs a pure-Python set recomputation (independent of both
    engines): tokenize every doc with the same whitespace rule, build
    per-source vocab sets, and compare every pair's counts and 6dp
    Jaccard."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    vocab: dict[str, set] = {}
    for r in docs:
        toks = [t for t in r["text"].lower().strip().split() if t]
        vocab.setdefault(r["source"], set()).update(toks)
    expected = {}
    for a in vocab:
        for b in vocab:
            if a < b:
                shared = len(vocab[a] & vocab[b])
                expected[(a, b)] = (
                    len(vocab[a]),
                    len(vocab[b]),
                    shared,
                    round(shared / len(vocab[a] | vocab[b]), 6),
                )
    got = {
        (r["source_a"], r["source_b"]): (
            r["vocab_a"],
            r["vocab_b"],
            r["n_shared"],
            r["jaccard"],
        )
        for r in REGISTRY["q_ea_source_overlap"].spark(spark, SF).collect()
    }
    assert got == expected


def test_release_gate_k_anonymity_stage(spark):
    """Stage 6 of the composed release gate (round-10 verdict task 4
    names k-anonymity explicitly): over the documents that survive the
    full gate (scrub -> funnel -> URL dedup -> blocklist), audit the
    (source, lang, token-length-bucket) quasi-identifier classes with
    the q_dx threshold and the q_dw bucket function. The audit's class
    accounting must cover every released row exactly once, and every
    reported risky class must be genuinely under k."""
    from pyspark_mllib_twitter_spark.functions import text as TXT

    P = pipeline_ops
    docs = read_table(spark, SF, "documents")
    scrubbed = docs.select(
        "doc_id", "source", "lang",
        TXT.scrub_text(F.expr(P._PII_SQL)).alias("text"),
    ).withColumn("n_chars", F.length("text"))
    survivors = P.with_funnel_fail(scrubbed).filter(F.col("fail") == 0)
    with_canon = survivors.selectExpr(
        "*", f"{P._RAWURL_SQL} AS raw_url"
    ).selectExpr("*", f"{P._canon_sql('raw_url')} AS canonical_url")
    keepers = with_canon.groupBy("canonical_url").agg(
        F.min("doc_id").alias("doc_id")
    )
    kept = with_canon.join(keepers, ["canonical_url", "doc_id"])
    hosted = kept.selectExpr("*", f"{P._HOST_SQL} AS host")
    rules = spark.createDataFrame([(r,) for r in P.BLOCK_RULES], "rule string")
    blocked = (
        hosted.select(
            "doc_id", F.explode(F.expr(P._HOST_SUFFIXES_EXPR)).alias("sfx")
        )
        .join(F.broadcast(rules), F.col("sfx") == F.col("rule"))
        .select("doc_id")
        .distinct()
    )
    released = hosted.join(blocked, "doc_id", "left_anti")
    n_released = released.count()

    qi = released.select(
        "source",
        F.coalesce("lang", F.lit("")).alias("lang"),
        TXT.token_count("text").alias("n"),
    ).select(
        "source",
        "lang",
        F.when(F.col("n") <= P.MIN_BUCKET, P.MIN_BUCKET)
        .otherwise(F.expr("shiftleft(CAST(1 AS BIGINT), length(bin(n - 1)))"))
        .cast("bigint")
        .alias("bucket"),
    )
    classes = qi.groupBy("source", "lang", "bucket").agg(
        F.count("*").alias("class_size")
    )
    rows = classes.collect()
    assert sum(r["class_size"] for r in rows) == n_released
    risky = [r for r in rows if r["class_size"] < P.K_ANON]
    for r in risky:
        assert 0 < r["class_size"] < P.K_ANON
    # Non-vacuous: the post-gate release set at sf0.001 is small enough
    # that risky classes must exist (the safe regime is exercised by
    # q_dx's own oracle run at sf0.01 on the full customer table).
    assert risky
    assert n_released > 50  # the gate didn't trivially empty the corpus


# ---------------------------------------------------------------------------
# Round-12 curation layer: flag gate, delta MinHash index, keep-best dedup,
# shard plan, release manifest
# ---------------------------------------------------------------------------


def _tokens_py(text: str) -> list[str]:
    return [t for t in text.lower().strip().split() if t]


def test_flag_gate_matches_python_brute_force(spark):
    """q_ee flag statistics vs an independent pure-Python recount of the
    lexicon semantics (occurrences counted with repeats, worst severity,
    exact-integer density gate)."""
    rows = {
        r["doc_id"]: r
        for r in REGISTRY["q_ee_flag_term_gate"].spark(spark, SF).collect()
    }
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    assert set(rows) == {d["doc_id"] for d in docs}
    for d in docs:
        toks = _tokens_py(d["text"])
        n_flagged = sum(1 for t in toks if t in pipeline_ops.FLAG_TERMS)
        max_sev = max(
            (pipeline_ops.FLAG_TERMS[t][1] for t in toks if t in pipeline_ops.FLAG_TERMS),
            default=0,
        )
        r = rows[d["doc_id"]]
        assert r["n_tok"] == len(toks)
        assert r["n_flagged"] == n_flagged
        assert r["max_severity"] == max_sev
        assert r["gated"] == int(
            n_flagged * pipeline_ops.FLAG_GATE_DEN
            >= len(toks) * pipeline_ops.FLAG_GATE_NUM
        )


def test_flag_gate_plan_is_scan_only(spark):
    """The lexicon compiles into the scan expression: no join, no
    aggregate exchange — the only exchanges are spread()'s round-robin
    and the final presentation sort."""
    df = REGISTRY["q_ee_flag_term_gate"].spark(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan[:800]
    assert plan.count("Exchange") <= 2, plan[:1200]


def test_minhash_delta_index_pairs_verified_and_recall(spark):
    """Every returned pair passes an independent Python exact-Jaccard
    verify at >= 0.5 over 3-gram shingle sets, and the banded probe finds
    the injected origin->revision pair for >= 90% of delta docs (banding
    trades recall, never precision)."""
    out = REGISTRY["q_ef_minhash_delta_index"].spark(spark, SF).collect()
    docs = {
        d["doc_id"]: d["text"]
        for d in spark.read.parquet(f"{SF}/documents.parquet").collect()
    }

    def grams(text):
        t = _tokens_py(text)
        return {" ".join(t[i : i + 3]) for i in range(len(t) - 2)}

    lake = {i: grams(t) for i, t in docs.items()}
    delta = {
        i + pipeline_ops.DELTA_ID_OFFSET: grams(pipeline_ops.DELTA_PREFIX + t)
        for i, t in docs.items()
        if i % pipeline_ops.DELTA_MOD == 0 and grams(pipeline_ops.DELTA_PREFIX + t)
    }
    assert out, "probe found no pairs"
    for r in out:
        gl, gd = lake[r["lake_id"]], delta[r["delta_id"]]
        jac = len(gl & gd) / len(gl | gd)
        assert jac >= 0.5 and abs(jac - r["jaccard"]) < 1e-9
    found_origins = {
        r["delta_id"]
        for r in out
        if r["lake_id"] + pipeline_ops.DELTA_ID_OFFSET == r["delta_id"]
    }
    assert len(found_origins) >= 0.9 * len(delta), (
        f"{len(found_origins)}/{len(delta)} injected revisions found"
    )


def test_minhash_band_index_probe_no_exchange_on_index(spark):
    """The q_ef delta-ingest contract: probing the persisted bucketed band
    index shuffles ONLY the probe side (the q_xg contract applied to
    fuzzy dedup). Build the index via the query itself, then probe with
    a literal key set under a forced sort-merge join."""
    import re as _re

    REGISTRY["q_ef_minhash_delta_index"].spark(spark, SF).collect()
    tag = _re.sub(r"\W+", "_", SF).strip("_")
    idx = spark.table(f"minhash_band_index_{tag}")
    probe = spark.createDataFrame([("0" * 32,), ("f" * 32,)], "band_key string")
    joined = probe.hint("shuffle_merge").join(idx, "band_key", "left")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan[:800]
    assert plan.count("Exchange") == 1, plan[:1200]
    assert "Bucketed: true" in plan or "SelectedBucketsCount" in plan, plan[:1200]


def test_keep_best_picks_longest_copy(spark):
    """In every multi-copy cluster the survivor must be an INJECTED copy
    (they are strictly longer than the original), never the min-id
    original — the policy difference vs q_ns_dedup_exact is the point —
    and the byte accounting must reconcile with a Python recount."""
    rows = REGISTRY["q_eg_dedup_keep_best"].spark(spark, SF).collect()
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    n_docs = len(docs)
    n5 = sum(1 for d in docs if d["doc_id"] % 5 == 0)
    n25 = sum(1 for d in docs if d["doc_id"] % 25 == 0)
    assert sum(r["n_copies"] for r in rows) == n_docs + n5 + n25
    for r in rows:
        if r["n_copies"] > 1:
            assert r["keep_id"] >= 100000, r
            assert r["bytes_saved"] > 0
        else:
            assert r["bytes_saved"] == 0
    # total bytes_saved == sum over injected clusters of (sum - max)
    by_cluster: dict[int, list[int]] = {}
    for d in docs:
        lens = [len(d["text"])]
        if d["doc_id"] % 5 == 0:
            lens.append(len(d["text"]) + 3)
        if d["doc_id"] % 25 == 0:
            lens.append(len(d["text"]) + 3)
        by_cluster[d["doc_id"]] = lens
    expect_saved = sum(sum(ls) - max(ls) for ls in by_cluster.values())
    assert sum(r["bytes_saved"] for r in rows) == expect_saved


def test_shard_plan_sequential_fill_invariants(spark):
    """Shard indexes per source are contiguous from 0; per-source token
    totals reconcile with the corpus; every non-final shard is 'full':
    the cumulative tokens through shard s reach past the (s+1)*budget
    boundary (sequential fill assigns a doc to the shard its
    tokens-before falls in)."""
    rows = REGISTRY["q_eh_shard_plan"].spark(spark, SF).collect()
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    budget = pipeline_ops.SHARD_TOKEN_BUDGET
    tok_per_source: dict[str, int] = {}
    for d in docs:
        tok_per_source[d["source"]] = tok_per_source.get(d["source"], 0) + len(
            _tokens_py(d["text"])
        )
    by_src: dict[str, list] = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    assert set(by_src) == set(tok_per_source)
    for src, shards in by_src.items():
        shards.sort(key=lambda r: r["shard_idx"])
        assert [s["shard_idx"] for s in shards] == list(range(len(shards)))
        assert sum(s["n_tokens"] for s in shards) == tok_per_source[src]
        cum = 0
        for s in shards[:-1]:
            cum += s["n_tokens"]
            assert cum >= (s["shard_idx"] + 1) * budget, (src, s)
        for s in shards:
            assert abs(s["fill"] - round(s["n_tokens"] / budget, 6)) < 1e-9


def test_release_manifest_gate_arithmetic(spark):
    """Per source: released is the conjunction, so it can never exceed
    n_docs minus any single gate's hits; dup extras across the corpus
    equal exactly the injected copy count (copies always lose keep-min-id
    to their originals); token accounting is internally consistent."""
    rows = REGISTRY["q_ei_release_manifest"].spark(spark, SF).collect()
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    n5 = sum(1 for d in docs if d["doc_id"] % 5 == 0)
    n25 = sum(1 for d in docs if d["doc_id"] % 25 == 0)
    assert sum(r["n_docs"] for r in rows) == len(docs) + n5 + n25
    assert sum(r["n_dup_extra"] for r in rows) == n5 + n25
    for r in rows:
        for gate in ("n_funnel_fail", "n_dup_extra", "n_flagged"):
            assert r["n_released"] <= r["n_docs"] - r[gate], r
        if r["n_released"] == 0:
            assert r["tokens_released"] == 0
        else:
            # released docs pass min_tokens (funnel stage 3), so tokens
            # average at least 25 per released doc
            assert r["tokens_released"] >= 25 * r["n_released"]


def test_round12_plan_shapes(spark):
    """Executed-plan shapes for the round-12 entries (the scale story each
    docstring claims): keep-best is one partial-aggregable groupBy (no
    join, no window); shard plan is one source-window + one aggregate (no
    join); the release manifest computes its per-doc signals once and
    decides keepers with a partition-only window (no join — the measured
    10-exchange double-scan join form is the regression this pins)."""

    def plan(name):
        return (
            REGISTRY[name]
            .spark(spark, SF)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )

    p = plan("q_eg_dedup_keep_best")
    assert "Join" not in p, p[:800]
    assert "Window" not in p, p[:800]
    assert p.count("hashpartitioning(fp") == 1, p[:1200]

    p = plan("q_eh_shard_plan")
    assert "Join" not in p, p[:800]
    assert p.count("Window") == 1, p[:800]
    assert p.count("hashpartitioning(source") >= 1, p[:1200]

    p = plan("q_ei_release_manifest")
    assert "Join" not in p, p[:800]
    assert p.count("Window") == 1, p[:800]
    assert p.count("hashpartitioning(fp") == 1, p[:1200]


def test_fuzzy_decontaminate_flags_and_controls(spark):
    """Every suffix-tainted eval doc must be flagged with its ORIGIN as
    the best match at the Python-recomputed exact Jaccard; every
    token-reversed negative control must come back clean (precision);
    and the exact-fingerprint check q_x3 would miss these leaks —
    no tainted text equals any lake text."""
    rows = {
        r["eval_id"]: r
        for r in REGISTRY["q_em_fuzzy_decontaminate"].spark(spark, SF).collect()
    }
    docs = {
        d["doc_id"]: d["text"]
        for d in spark.read.parquet(f"{SF}/documents.parquet").collect()
    }

    def grams(text):
        t = _tokens_py(text)
        return {" ".join(t[i : i + 3]) for i in range(len(t) - 2)}

    n_taint = n_clean = 0
    for doc_id, text in docs.items():
        if doc_id % pipeline_ops.EVAL_MOD == 0:
            n_taint += 1
            r = rows[doc_id + pipeline_ops.EVAL_TAINT_OFFSET]
            assert r["contaminated"] == 1 and r["n_matches"] >= 1
            assert r["best_train_id"] == doc_id, r
            ge = grams(text + pipeline_ops.EVAL_SUFFIX)
            gl = grams(text)
            assert abs(r["best_jaccard"] - len(ge & gl) / len(ge | gl)) < 1e-9
            assert text + pipeline_ops.EVAL_SUFFIX not in docs.values()
        if doc_id % pipeline_ops.EVAL_CLEAN_MOD == 0:
            n_clean += 1
            r = rows[doc_id + pipeline_ops.EVAL_CLEAN_OFFSET]
            assert r["contaminated"] == 0 and r["n_matches"] == 0
            assert r["best_train_id"] is None and r["best_jaccard"] is None
    assert len(rows) == n_taint + n_clean


def test_fuzzy_decontaminate_broadcasts_the_eval_side(spark):
    """Plan shape: the band-key candidate join must be a broadcast hash
    join (the tiny eval side ships; the lake never re-shuffles for an
    eval audit)."""
    df = REGISTRY["q_em_fuzzy_decontaminate"].spark(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:1200]
