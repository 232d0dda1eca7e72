"""The benchmark's workloads: what one pass runs, and how each op's output
is checked.

An op runs one call into the program and sends its result to a sink: a
``noop`` write in timed passes (every row and column computed, nothing
collected, as ``bench.py`` ``_execute`` does) and ``toPandas`` in the
untimed passes, whose results are checked. In a traced pass each op's calls
run inside the spans of ``spans.SPANS``.
"""

from __future__ import annotations

import contextlib
import os
import random
from dataclasses import dataclass, field
from typing import Callable

import checks
import gen

K = 5  # top-k of both W1 and W2


@dataclass
class PassContext:
    """What the ops of one pass share."""

    spark: object
    input_dir: str
    facts: dict
    collect: bool = False
    span: Callable = lambda name: contextlib.nullcontext()
    state: dict = field(default_factory=dict)

    def sink(self, df):
        if self.collect:
            return df.toPandas()
        df.write.format("noop").mode("overwrite").save()
        return None


@dataclass
class Op:
    name: str
    run: Callable[[PassContext], object]
    check: Callable[[object], None] | None = None  # None: hashed, rows-only


@dataclass
class Workload:
    name: str
    why: str
    entries: tuple[str, ...] = ()  # registry entries, order permuted per seed

    def ops(self, seed: int, facts: dict, oracles: dict) -> list[Op]:
        if self.name == "tweets_w1w2":
            return tweet_ops(facts)
        order = list(self.entries)
        random.Random(seed).shuffle(order)
        return [registry_op(e, facts, oracles) for e in order]


# ---------------------------------------------------------------------------
# tweets_w1w2: the paper's job
# ---------------------------------------------------------------------------


def tweet_ops(facts: dict) -> list[Op]:
    from pyspark_mllib_twitter_spark.sources.io import read_tweets_jsonl
    from pyspark_mllib_twitter_spark.workloads.w1_similarity import (
        build_user_documents,
        user_similarity_top_k,
    )
    from pyspark_mllib_twitter_spark.workloads.w2_recommend import (
        build_mention_pairs,
        implicit_als_recommend,
    )

    def read(ctx: PassContext):
        with ctx.span("sources.read"):
            tweets = read_tweets_jsonl(ctx.spark, os.path.join(ctx.input_dir, "tweets.jsonl")).cache()
            n = tweets.count()
        ctx.state["tweets"] = tweets
        return n

    def w1(ctx: PassContext):
        with ctx.span("workloads.w1.score"):
            docs = build_user_documents(ctx.state["tweets"])
            return ctx.sink(user_similarity_top_k(docs, facts["query_users"], k=K))

    def w2(ctx: PassContext):
        with ctx.span("workloads.w2.fit"):
            recs = implicit_als_recommend(build_mention_pairs(ctx.state["tweets"]), k=K)
        with ctx.span("workloads.w2.recommend"):
            return ctx.sink(recs)

    def count_ok(n):
        if n != gen.N_TWEETS:
            raise checks.CheckFailed(f"read {n} tweets, want {gen.N_TWEETS}")

    mention_ids = set(facts["mention_ids"])
    return [
        Op("sources.read_tweets_jsonl", read, count_ok),
        Op("w1.user_similarity_top_k", w1,
           lambda df: checks.w1_neighbours(df, facts["query_users"], K)),
        Op("w2.implicit_als_recommend", w2,
           lambda df: checks.w2_recommendations(df, mention_ids, facts["n_mention_users"], K)),
    ]


# ---------------------------------------------------------------------------
# Registry workloads: graph_iter, stream_replay, tpch_sql
# ---------------------------------------------------------------------------


def registry_op(entry: str, facts: dict, oracles: dict) -> Op:
    from pyspark_mllib_twitter_spark.plans import REGISTRY

    spec = REGISTRY[entry]

    def run(ctx: PassContext):
        with ctx.span("plans.build"):
            df = spec.spark(ctx.spark, ctx.input_dir)
        with ctx.span("plans.exec"):
            return ctx.sink(df)

    if entry in oracles:
        want = oracles[entry]
        return Op(entry, run, lambda df: checks.oracle_match(df, want))
    if entry == "q_stream_dedup":
        return Op(entry, run, lambda df: checks.each_event_once(df, facts["n_events"]))
    return Op(entry, run)


def oracle_results(entries: list[str], input_dir: str) -> dict:
    """DuckDB results of every entry that declares an oracle, computed
    before Spark starts (outside every timed region)."""
    import duckdb

    from pyspark_mllib_twitter_spark.plans import REGISTRY

    con = duckdb.connect()
    con.execute("SET threads = 2")
    for f in sorted(os.listdir(input_dir)):
        if f.endswith(".parquet"):
            con.execute(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{os.path.join(input_dir, f)}')"
            )
    try:
        return {e: con.execute(REGISTRY[e].oracle).df() for e in entries if REGISTRY[e].oracle}
    finally:
        con.close()


#: Nested public functions wrapped in spans in traced passes only.
def wrap_targets() -> dict:
    from pyspark_mllib_twitter_spark.streaming import streams
    from pyspark_mllib_twitter_spark.workloads import w1_similarity, w2_recommend

    return {
        "workloads.w1.fit": (w1_similarity, "vectorize_documents"),
        "workloads.w2.dict": (w2_recommend, "dense_id_dictionary"),
        "streaming.run": (streams, "run_to_memory"),
    }


TPCH = tuple(f"q_sql_q{i}" for i in (1, 5, 16, 18))

WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "tweets_w1w2",
            "The paper's job: JSON read and cache, W1 TF-IDF/CountVectorizer top-5 "
            "similarity and W2 implicit-ALS top-5 mentions; the only workload in the "
            "sources and workloads layers.",
        ),
        Workload(
            "graph_iter",
            "Iterative graph recipes whose work happens while the plan is built "
            "(many small jobs); where an iteration primitive would act.",
            ("q_yc_bfs_sssp", "q_cz_lpa"),
        ),
        Workload(
            "stream_replay",
            "Micro-batch replays with state stores and trigger cadence; the only "
            "workload in the streaming layer.",
            ("q_stream_dedup",),
        ),
        Workload(
            "tpch_sql",
            "One-shot scan/join/aggregate SQL plans checked against DuckDB; time is "
            "in plan execution. The control: MLlib, iteration or streaming changes "
            "must leave it flat.",
            TPCH,
        ),
    )
}
