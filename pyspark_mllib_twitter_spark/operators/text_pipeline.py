"""Pipeline-flavored text featurization (SURVEY §7 step 4).

The ML-Pipeline twin of the pure-SQL text functions in ``functions.text``:
RegexTokenizer → StopWordsRemover → NGram → CountVectorizer → IDF →
Normalizer, composed as one ``pyspark.ml.Pipeline`` the way the reference
chains its stages by hand (``/root/reference/COMP5349_2.py:151-178``).

Use this when the output must be an ML vector feeding MLlib estimators
(LSH, ALS, clustering); use ``functions.text`` when the output is а SQL
column (oracle-checkable, codegen'd). The tokenization contract is shared:
lowercase, ``\\s+`` split, empties dropped — pinned by a test comparing the
two paths token-for-token.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: English stopword subset — deliberately the same tiny list as
#: functions.text.STOPWORDS['en'] so the SQL and Pipeline paths agree.
from ..functions.text import STOPWORDS


def fit_text_features(docs: DataFrame):
    """Fit the text-featurization pipeline over the ``text`` column
    (bigrams, a 4096-term vocabulary); returns ``(model, transformed)``.

    ``transformed`` adds: ``tokens`` (post-stopword removal), ``ngrams``,
    ``tfidf_norm`` (L2-normalized TF-IDF of the n-grams, VectorUDT — ML
    boundary; convert with ``vector_to_array`` for SQL interop).
    """
    from pyspark.ml import Pipeline
    from pyspark.ml.feature import (
        CountVectorizer,
        IDF,
        NGram,
        Normalizer,
        RegexTokenizer,
        StopWordsRemover,
    )

    pipeline = Pipeline(
        stages=[
            RegexTokenizer(
                inputCol="text",
                outputCol="raw_tokens",
                pattern=r"\s+",
                toLowercase=True,
                minTokenLength=1,
            ),
            StopWordsRemover(
                inputCol="raw_tokens",
                outputCol="tokens",
                stopWords=list(STOPWORDS["en"]),
            ),
            NGram(inputCol="tokens", outputCol="ngrams", n=2),
            CountVectorizer(
                inputCol="ngrams",
                outputCol="tf",
                vocabSize=1 << 12,
                minDF=1.0,
            ),
            IDF(inputCol="tf", outputCol="tfidf"),
            Normalizer(inputCol="tfidf", outputCol="tfidf_norm", p=2.0),
        ]
    )
    try:
        model = pipeline.fit(docs)
        out = model.transform(docs)  # eager param validation can throw here
    except Exception as e:  # CountVectorizer(Model): bare "requirement failed"
        if "requirement failed" in str(e):
            raise ValueError(
                "fit_text_features: corpus produced an empty n-gram "
                "vocabulary — every document is empty or stopwords-only "
                "after tokenization (bigrams)"
            ) from e
        raise
    return model, out.drop("raw_tokens", "tf", "tfidf")
