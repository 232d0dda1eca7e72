"""Pipeline text featurization vs the pure-SQL twin (shared tokenization
contract) + vector sanity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyspark_mllib_twitter_spark.functions import text as TXT
from pyspark_mllib_twitter_spark.operators.text_pipeline import fit_text_features
from pyspark_mllib_twitter_spark.sources import read_table


@pytest.fixture(scope="module")
def documents(spark, sf_smoke):
    df = read_table(spark, sf_smoke, "documents").limit(200).cache()
    yield df
    df.unpersist()  # don't leak the cache into later modules


def test_pipeline_ngrams_match_sql_twin(documents):
    """NGram-after-StopWordsRemover output == functions.text.word_ngrams
    over the same stopword-filtered SQL tokens, row by row."""
    _, out = fit_text_features(documents)
    sql_side = documents.select(
        "doc_id",
        TXT.word_ngrams(
            F.filter(TXT.tokens("text"), lambda t: ~t.isin([w for w in TXT.STOPWORDS["en"]])),
            2,
        ).alias("sql_ngrams"),
    )
    joined = out.select("doc_id", "ngrams").join(sql_side, "doc_id")
    mismatch = joined.filter(F.col("ngrams") != F.col("sql_ngrams")).count()
    assert mismatch == 0


def test_tfidf_vectors_unit_norm(documents):
    from pyspark.ml.functions import vector_to_array

    _, out = fit_text_features(documents)
    norms = (
        out.select(
            F.aggregate(
                vector_to_array("tfidf_norm").cast("array<double>"),
                F.lit(0.0),
                lambda a, x: a + x * x,
            ).alias("sq")
        )
        .filter(F.col("sq") > 0)  # empty docs have zero vectors
        .agg(F.min("sq"), F.max("sq"))
        .first()
    )
    assert abs(norms[0] - 1.0) < 1e-6 and abs(norms[1] - 1.0) < 1e-6


def test_stopwords_removed(documents):
    _, out = fit_text_features(documents)
    bad = out.select(F.explode("tokens").alias("t")).filter(
        F.col("t").isin(list(TXT.STOPWORDS["en"]))
    )
    assert bad.count() == 0
