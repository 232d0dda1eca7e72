#!/usr/bin/env python
"""Generate the committed golden outputs for W1/W2 (FIXTURES.md §B).

Runs the two reference workloads on the committed tweets fixture and writes:

- ``tests/fixtures/w1_top5.json`` — per-vectorizer top-5 ``[neighbor_id,
  sim_6dp]`` lists for the designated query user (analog of the notebook's
  nb:220-230 golden cell, including the score-DESC/id-DESC tie-break).
- ``tests/fixtures/w2_recs.json`` — per-user top-5 ``[rec_item_id,
  rating_6dp]`` lists from ALS(seed=0, reference hyperparameters,
  ``w2_recommend.ALS_NUM_BLOCKS`` = 8 user/item blocks, the fixed count
  that makes the seeded fit the same on every machine).

Run once after regenerating the fixture; tests/test_workloads.py asserts
exact equality against these files.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

FIXTURES = os.path.join(REPO, "tests", "fixtures")
QUERY_USER = 20000001


def main() -> None:
    from pyspark_mllib_twitter_spark.session import get_spark
    from pyspark_mllib_twitter_spark.sources.io import read_tweets_jsonl
    from pyspark_mllib_twitter_spark.workloads.w1_similarity import (
        build_user_documents,
        user_similarity_top_k,
    )
    from pyspark_mllib_twitter_spark.workloads.w2_recommend import (
        build_mention_pairs,
        implicit_als_recommend,
    )

    spark = get_spark("make-goldens")
    tweets = read_tweets_jsonl(spark, os.path.join(FIXTURES, "tweets.jsonl")).cache()

    docs = build_user_documents(tweets)
    w1 = user_similarity_top_k(docs, [QUERY_USER], k=5).collect()
    w1_golden = {"query_user": QUERY_USER, "tfidf": [], "cv": []}
    for r in w1:
        w1_golden[r.vectorizer].append([r.neighbor_id, round(r.sim, 6)])
    with open(os.path.join(FIXTURES, "w1_top5.json"), "w") as f:
        json.dump(w1_golden, f, indent=1, sort_keys=True)

    pairs = build_mention_pairs(tweets)
    recs = implicit_als_recommend(pairs, k=5).collect()
    by_user: dict[str, list] = {}
    for r in sorted(recs, key=lambda r: (r.user_id, r.rec_rank)):
        by_user.setdefault(str(r.user_id), []).append(
            [r.rec_item_id, round(float(r.rating), 6)]
        )
    with open(os.path.join(FIXTURES, "w2_recs.json"), "w") as f:
        json.dump(by_user, f, indent=1, sort_keys=True)

    print("w1 tfidf top-5:", w1_golden["tfidf"])
    print("w1 cv    top-5:", w1_golden["cv"])
    print(f"w2 users: {len(by_user)}")


if __name__ == "__main__":
    main()
