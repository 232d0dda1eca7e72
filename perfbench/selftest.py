"""Self-tests of the benchmark's own machinery.

    python3 perfbench/selftest.py

- the generator: the same seed gives byte-identical files, another seed
  gives other files, and the tweets follow the FIXTURES.md section B rules;
- the output checks: a corrupted result is counted as a failed op;
- the status-store collector: a known groupBy job reports ``jobs >= 1``,
  ``task_cpu_s <= task_run_s`` and ``shuffle_mb > 0``; nested spans give
  child ``self_s`` values that sum to no more than the parent's ``wall_s``;
- the streaming listener: its ``batches`` equals the replay's batch count;
- the steal share: steal over busy + steal, idle and iowait left out.

Exits 0 when every test passes. Runs one Spark session on the checkout's
program, in the same work directory as the benchmark.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import host  # noqa: E402
import run as bench  # noqa: E402

FAILED: list[str] = []


def test(name: str, ok: bool, detail: object = "") -> None:
    print(f"{'ok  ' if ok else 'FAIL'} {name} {detail}", flush=True)
    if not ok:
        FAILED.append(name)


def digest(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha1(f.read()).hexdigest()


def generator_tests(work: str) -> None:
    dirs = {}
    for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
        d = os.path.join(work, "selftest", tag)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        gen.write_tweets(seed, os.path.join(d, "tweets.jsonl"))
        gen.write_tables(seed, d)
        dirs[tag] = {f: digest(os.path.join(d, f)) for f in sorted(os.listdir(d))}
    test("generator: same seed, byte-identical files", dirs["a"] == dirs["b"], sorted(dirs["a"]))
    differ = [f for f in dirs["a"] if dirs["a"][f] != dirs["c"].get(f)]
    test("generator: other seed, other tweets and lineitem",
         {"tweets.jsonl", "lineitem.parquet"} <= set(differ), differ)

    with open(os.path.join(work, "selftest", "a", "tweets.jsonl")) as f:
        rows = [json.loads(line) for line in f]
    null_users = sum(r["user_id"] is None for r in rows) / len(rows)
    test("tweets: about 2% null user_id", 0.01 < null_users < 0.03, f"{null_users:.4f}")
    test("tweets: never both reply and retweet",
         not any(r["replyto_id"] and r["retweet_id"] for r in rows))
    test("tweets: user_mentions sometimes null, sometimes empty",
         any(r["user_mentions"] is None for r in rows) and any(r["user_mentions"] == [] for r in rows))
    shutil.rmtree(os.path.join(work, "selftest"), ignore_errors=True)


def steal_tests() -> None:
    # user nice system idle iowait irq softirq steal
    before = [100, 0, 50, 900, 10, 0, 0, 20]
    after = [400, 0, 150, 1900, 60, 0, 0, 120]  # busy +400, idle +1050, steal +100
    share = host.steal_share(before, after)
    test("steal share: steal / (busy + steal), idle and iowait left out", share == 0.2, share)
    test("steal share: 0 over an interval with no ticks", host.steal_share(after, after) == 0.0)


def check_tests(spark, input_dir: str, facts: dict) -> None:
    """A correct and a corrupted copy of an oracle-checked result go through
    the run's own op accounting; only the corrupted one may fail."""
    import workloads as wl

    entry = "q_sql_q1"
    oracles = wl.oracle_results([entry], input_dir)
    good = oracles[entry].copy()
    bad = good.copy()
    bad.loc[0, "sum_qty"] += 1.0
    ops = [
        wl.Op("good", lambda ctx: good.copy(), wl.registry_op(entry, facts, oracles).check),
        wl.Op("corrupt", lambda ctx: bad.copy(), wl.registry_op(entry, facts, oracles).check),
    ]
    run = bench.Run(ops, input_dir, facts)
    run.one_pass(spark, collect=True)
    test("checks: corrupted result counted as failed, correct one not",
         run.attempted == 2 and [f.split(":")[0] for f in run.failures] == ["corrupt"], run.failures)

    k = wl.K
    w1 = [(q, v, 100 + r, 1.0 - 0.1 * r, r) for q in (1, 2) for v in ("tfidf", "cv") for r in range(1, k + 1)]
    import pandas as pd

    cols = ["query_id", "vectorizer", "neighbor_id", "sim", "rn"]
    ok = pd.DataFrame(w1, columns=cols)
    bad = ok.copy()
    bad.loc[1, "sim"] = 5.0  # rank 2 now beats rank 1
    results = []
    for frame in (ok, bad):
        try:
            wl.checks.w1_neighbours(frame, [1, 2], k)
            results.append(True)
        except wl.checks.CheckFailed:
            results.append(False)
    test("checks: W1 invariants reject a rank order that increases", results == [True, False])


def collector_tests(spark) -> None:
    import spans

    tracer = spans.Tracer(spark)
    with tracer.span("plans.exec"):
        (spark.range(0, 2_000_000, numPartitions=8).selectExpr("id % 97 AS k")
         .groupBy("k").count().write.format("noop").mode("overwrite").save())
    c = spans.pass_totals(tracer.take(), tracer.cores)
    test("collector: groupBy reports jobs >= 1", c["plans.exec.jobs"] >= 1, c["plans.exec.jobs"])
    test("collector: task_cpu_s <= task_run_s",
         0 < c["plans.exec.task_cpu_s"] <= c["plans.exec.task_run_s"],
         (c["plans.exec.task_cpu_s"], c["plans.exec.task_run_s"]))
    test("collector: shuffle_mb > 0", c["plans.exec.shuffle_mb"] > 0, c["plans.exec.shuffle_mb"])

    with tracer.span("plans.build"):
        spark.range(1000).count()
        for _ in range(2):
            with tracer.span("plans.exec"):
                spark.range(100_000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
                time.sleep(0.2)
    done = tracer.take()
    parent = [s for s in done if s.name == "plans.build"][0]
    children = [s for s in done if s.name == "plans.exec"]
    child_self = sum(s.wall - s.child_time for s in children)
    test("spans: child self_s sum <= parent wall_s", child_self <= parent.wall, (child_self, parent.wall))
    test("spans: parent self_s excludes its children's time",
         parent.child_time >= sum(s.wall for s in children), (parent.child_time, parent.wall))


def listener_tests(spark, input_dir: str) -> None:
    import spans
    import workloads as wl
    from pyspark_mllib_twitter_spark.streaming.streams import LAST_RUN_STATS

    listener = spans.ProgressListener(spark)
    tracer = spans.Tracer(spark, listener)
    op = wl.registry_op("q_stream_dedup", {"n_events": 0}, {})
    ctx = wl.PassContext(spark, input_dir, {}, span=tracer.span)
    with spans.wrapped(tracer, wl.wrap_targets()):
        op.run(ctx)
    listener.close()
    done = tracer.take()
    listener_events = [e for s in done if s.stream is not None for e in s.stream]
    c = spans.pass_totals(done, tracer.cores)
    replay_files = glob.glob(os.path.join(os.environ["TMPDIR"], "spark_graft_replay_*", "batch_*.parquet"))
    test("listener: batches equals the replay's batch files",
         c["streaming.run.batches"] == len(replay_files) > 0,
         (c["streaming.run.batches"], len(replay_files)))
    test("listener: one progress event per micro-batch the query ran",
         len(listener_events) == LAST_RUN_STATS.get("n_batches"),
         (len(listener_events), LAST_RUN_STATS.get("n_batches")))
    test("spans: streaming.run nests inside plans.build",
         c["plans.build.wall_s"] >= c["streaming.run.wall_s"] > 0)


def main() -> int:
    work = os.path.join(ROOT, ".perfbench_work")
    config = bench.configure_env(work)
    generator_tests(work)
    steal_tests()
    input_dir, facts = gen.ensure_inputs(work, 7)

    from pyspark_mllib_twitter_spark.session import get_spark

    spark = get_spark()
    try:
        check_tests(spark, input_dir, facts)
        collector_tests(spark)
        listener_tests(spark, input_dir)
    finally:
        bench.stop_spark(spark)
        shutil.rmtree(config["scratch"], ignore_errors=True)
    print(f"{'FAILED: ' + ', '.join(FAILED) if FAILED else 'all self-tests passed'}")
    return 1 if FAILED else 0


if __name__ == "__main__":
    sys.exit(main())
