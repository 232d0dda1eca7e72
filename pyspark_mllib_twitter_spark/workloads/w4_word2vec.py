"""Workload 4 — Word2Vec term embeddings + nearest-term search (M8).

The reference notebook imports ``Word2Vec`` next to ``CountVectorizer``
(``/root/reference/kdan9405_Assignment2_Notebook:78``) but never calls it;
SURVEY §2 row M8 records it as the one unused import. This module makes it a
real surface: train skip-gram embeddings over document tokens, then find
nearest terms with the engine's own distributed cosine top-k (broadcast the
few query vectors, JVM ``zip_with`` dot over the vocabulary, WindowGroupLimit
top-k) instead of driver-side ``model.findSynonyms`` calls per word.

Determinism: MLlib Word2Vec is seeded but its gradient averaging depends on
the input partition layout, so the fit runs on one partition over a
coalesced token input — bit-stable output, and fine at fixture scale
because the *vocabulary* (not the corpus) is what the training loop holds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text as TXT


def word_embeddings(docs: DataFrame) -> DataFrame:
    """Fit Word2Vec (32-dim, minCount 5, seed 0, one partition, one
    iteration) over the tokenized ``text``
    column; return the vocabulary as a
    ``(word, vec array<float>)`` DataFrame (``getVectors`` + vector_to_array,
    so downstream stays in plain SQL types)."""
    from pyspark.ml.feature import Word2Vec
    from pyspark.ml.functions import vector_to_array

    # pin layout => bit-stable training
    toks = docs.select(TXT.tokens("text").alias("tokens")).coalesce(1)
    model = Word2Vec(
        vectorSize=32,
        minCount=5,
        seed=0,
        numPartitions=1,
        maxIter=1,
        inputCol="tokens",
        outputCol="vec",
    ).fit(toks)
    return model.getVectors().select(
        "word", vector_to_array("vector").alias("vec")
    )


def nearest_terms(vectors: DataFrame, query_words: list[str], k: int = 3) -> DataFrame:
    """Top-k cosine neighbors for each query word, computed as a broadcast
    join over the vocabulary (the engine's exact-kNN pattern, not per-word
    driver calls): |Q| is tiny, the vocabulary scan is one JVM pass."""
    q = vectors.where(F.col("word").isin(query_words)).select(
        F.col("word").alias("term"), F.col("vec").alias("qvec")
    )
    dot = F.aggregate(
        F.zip_with("qvec", "vec", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    scored = (
        vectors.join(F.broadcast(q), F.col("word") != F.col("term"))
        .withColumn("cos", (dot / (norm(F.col("qvec")) * norm(F.col("vec")))))
        .select("term", "word", "cos")
    )
    w = Window.partitionBy("term").orderBy(F.desc("cos"), F.asc("word"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "term",
            F.col("rank").cast("bigint").alias("rank"),
            F.col("word").alias("neighbor"),
            F.round("cos", 6).alias("cos"),
        )
    )


def top_frequent_terms(docs: DataFrame) -> list[str]:
    """The 5 most frequent ``text`` tokens seen at least 5 times (count desc,
    token asc — total order), the deterministic query-word pick for the
    nearest-terms demo."""
    rows = (
        docs.select(F.explode(TXT.tokens("text")).alias("w"))
        .groupBy("w")
        .count()
        .where(F.col("count") >= 5)
        .orderBy(F.desc("count"), F.asc("w"))
        .limit(5)
        .collect()
    )
    return [r["w"] for r in rows]
