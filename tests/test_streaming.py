"""Streaming semantics pinned against batch twins (SURVEY §5, FIXTURES.md §C).

The oracle equivalence of the tumbling-window query runs in test_oracle.py
(q_stream_window_counts carries DuckDB SQL). Here: the semantics a SQL
oracle can't express — watermark late-row dropping, session-window
equivalence with batch, exactly-once dedup under re-delivery, sliding
windows, and the custom stateful operator.
"""

from __future__ import annotations

import os
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from pyspark_mllib_twitter_spark.sources import read_table
from pyspark_mllib_twitter_spark.streaming import (
    read_events_stream,
    replay_events_dir,
    run_to_memory,
    sessionized,
    sliding_window_stats,
    stateful_user_stats,
    stream_dedup,
    tumbling_window_counts,
)

WATERMARK = "45 days"  # > replay lateness (~span/4) → no fixture row dropped


@pytest.fixture(scope="module")
def events(spark, sf_smoke):
    return read_table(spark, sf_smoke, "events").cache()


@pytest.fixture(scope="module")
def replay_dir(spark, events):
    return replay_events_dir(events, flush_margin="60 days")


def test_sliding_windows_match_batch(spark, events, replay_dir):
    streamed = run_to_memory(
        sliding_window_stats(read_events_stream(spark, replay_dir), watermark=WATERMARK)
    )
    got = {
        (r.w_start, r.event_type): (r.n, round(r.avg_value, 6))
        for r in streamed.collect()
        if r.event_type != "__flush__"
    }
    batch = (
        events.groupBy(
            F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type"
        )
        .agg(F.count("*").alias("n"), F.avg("value").alias("avg_value"))
        .collect()
    )
    want = {(r.w.start, r.event_type): (r.n, round(r.avg_value, 6)) for r in batch}
    assert got == want


def test_session_windows_match_batch(spark, events, replay_dir):
    streamed = run_to_memory(
        sessionized(read_events_stream(spark, replay_dir), watermark=WATERMARK)
    )
    got = {
        (r.user_id, r.s_start): (r.s_end, r.n_events, round(r.sum_value, 6))
        for r in streamed.collect()
        if r.user_id is None or r.user_id >= 0
    }
    batch = (
        events.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("sum_value"),
        )
        .collect()
    )
    want = {
        (r.user_id, r.w.start): (r.w.end, r.n_events, round(r.sum_value, 6))
        for r in batch
    }
    assert got == want


def test_stream_dedup_exactly_once(spark, events):
    d = replay_events_dir(events, flush_margin="60 days", duplicate_every=10)
    streamed = run_to_memory(
        stream_dedup(read_events_stream(spark, d), watermark=WATERMARK)
    )
    real = streamed.filter(F.col("event_id") >= 0)
    assert real.count() == events.count()
    assert real.select("event_id").distinct().count() == events.count()


def test_stream_dedup_state_width_and_checkpoint_manager(spark, events, tmp_path):
    """The dedup replay keeps exactly-once output with the state width
    capped at the core count and checkpoints written through the
    FileSystem-based manager (no per-file shell forks)."""
    from pyspark_mllib_twitter_spark.streaming.streams import LAST_RUN_STATS

    small = events.orderBy("event_id").limit(200)
    d = replay_events_dir(
        small, str(tmp_path), n_batches=3, flush_margin="60 days", duplicate_every=7
    )
    streamed = run_to_memory(
        stream_dedup(read_events_stream(spark, d), watermark=WATERMARK)
    )
    real = streamed.filter(F.col("event_id") >= 0)
    assert real.count() == real.select("event_id").distinct().count() == small.count()
    assert 1 <= LAST_RUN_STATS["state_partitions"] <= spark.sparkContext.defaultParallelism
    assert LAST_RUN_STATS["commit_ms"] >= 0
    assert spark.conf.get("spark.sql.streaming.checkpointFileManagerClass").endswith(
        ".FileSystemBasedCheckpointFileManager"
    )


def test_stateful_user_stats_match_batch(spark, events, replay_dir):
    streamed = run_to_memory(
        stateful_user_stats(read_events_stream(spark, replay_dir), watermark=WATERMARK),
        output_mode="update",
    )
    # update mode appends one row per (user, batch); counts are monotone →
    # the final state is the per-user max.
    final = (
        streamed.filter(F.col("user_id") >= 0)
        .groupBy("user_id")
        .agg(F.max("n_events").alias("n"), F.max("sum_value").alias("s"))
    )
    got = {r.user_id: (r.n, round(r.s, 4)) for r in final.collect()}
    batch = (
        events.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
    )
    want = {r.user_id: (r.n, round(r.s, 4)) for r in batch.collect()}
    assert got == want


def test_streaming_parquet_sink(spark, events, replay_dir):
    """writeStream → parquet files with a checkpoint: the durable-sink path
    (memory sink is tests-only). Output rows equal the memory-sink run."""
    out_dir = os.path.join("/tmp", f"stream_sink_{uuid.uuid4().hex[:8]}")
    ckpt = out_dir + "_ckpt"
    stream = tumbling_window_counts(
        read_events_stream(spark, replay_dir), watermark=WATERMARK
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    sunk = spark.read.parquet(out_dir).filter(F.col("event_type") != "__flush__")
    mem = run_to_memory(
        tumbling_window_counts(read_events_stream(spark, replay_dir), watermark=WATERMARK)
    ).filter(F.col("event_type") != "__flush__")
    a = sorted(tuple(r) for r in sunk.collect())
    b = sorted(tuple(r) for r in mem.collect())
    assert a == b and len(a) > 0


def test_foreach_batch_sink_partitions_by_batch(spark, events, replay_dir):
    """foreachBatch sink: every micro-batch lands in its own batch_id=N
    subdir (the idempotent-replay layout) and the union of all batches is
    exactly the replayed input."""
    from pyspark_mllib_twitter_spark.streaming import foreach_batch_parquet_sink

    out_dir = os.path.join("/tmp", f"feb_sink_{uuid.uuid4().hex[:8]}")
    stream = read_events_stream(spark, replay_dir)
    foreach_batch_parquet_sink(stream, out_dir)

    subdirs = [d for d in os.listdir(out_dir) if d.startswith("batch_id=")]
    assert len(subdirs) > 1  # one dir per micro-batch, many batches replayed
    back = (
        spark.read.option("basePath", out_dir)
        .parquet(*(os.path.join(out_dir, d) for d in subdirs))
        .filter(F.col("event_type") != "__flush__")
    )
    got = sorted((r.event_id, r.ts) for r in back.collect())
    want = sorted((r.event_id, r.ts) for r in events.collect())
    assert got == want


def _write_chunks(chunks: list[list[tuple]]) -> str:
    """Hand-built replay dir: one file per micro-batch, rows are
    (event_id, ts_iso, user_id, event_type, value)."""
    import datetime as dt

    out = os.path.join("/tmp", f"late_replay_{uuid.uuid4().hex[:8]}")
    os.makedirs(out)
    schema = pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", pa.timestamp("us")),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    )
    base = time.time() - len(chunks) - 1
    for i, rows in enumerate(chunks):
        t = pa.Table.from_pylist(
            [
                {
                    "event_id": e,
                    "ts": dt.datetime.fromisoformat(ts),
                    "user_id": u,
                    "event_type": et,
                    "value": v,
                    "props": None,
                }
                for (e, ts, u, et, v) in rows
            ],
            schema=schema,
        )
        path = os.path.join(out, f"batch_{i:05d}.parquet")
        pq.write_table(t, path)
        os.utime(path, (base + i, base + i))
    return out


def test_watermark_drops_too_late_row(spark):
    """A row older than (max seen - delay) whose window already closed must
    be dropped from the aggregation — the one semantics a no-drop replay
    can't show. Timeline (10-min windows, 30-min watermark delay):
    batch 0 has 09:00-10:00 data; batch 1 jumps to 12:00, advancing the
    watermark to 09:30 and EVICTING the 09:xx windows at its end; batch 2
    re-delivers a 09:05 row — its window is gone and the watermark is past,
    so the row must drop (a late row arriving in the same batch the
    watermark first crosses its window may still merge — Spark only
    guarantees dropping after eviction, which is why the re-delivery gets
    its own batch); flush batches close the rest.
    """
    d = _write_chunks(
        [
            [
                (1, "2024-01-01 09:05:00", 1, "click", 1.0),
                (2, "2024-01-01 09:15:00", 1, "click", 1.0),
                (3, "2024-01-01 10:00:00", 1, "click", 1.0),
            ],
            [(4, "2024-01-01 12:00:00", 1, "click", 1.0)],
            [(5, "2024-01-01 09:05:00", 1, "click", 1.0)],  # too late → dropped
            [(-1, "2024-01-02 12:00:00", -1, "__flush__", 0.0)],
            [(-2, "2024-01-02 13:00:00", -1, "__flush__", 0.0)],
        ]
    )
    out = run_to_memory(
        tumbling_window_counts(
            read_events_stream(spark, d), window="10 minutes", watermark="30 minutes"
        )
    )
    counts = {
        r.w_start.isoformat(sep=" "): r.n
        for r in out.filter(F.col("event_type") == "click").collect()
    }
    assert counts["2024-01-01 09:00:00"] == 1  # event 1 only; late #5 dropped
    assert counts["2024-01-01 09:10:00"] == 1
    assert counts["2024-01-01 10:00:00"] == 1
    assert counts["2024-01-01 12:00:00"] == 1
    assert sum(counts.values()) == 4  # 5 arrivals, 1 dropped


def test_late_within_delay_is_kept(spark):
    """Same shape, but the late arrival is within the watermark delay →
    aggregated normally (no drop)."""
    d = _write_chunks(
        [
            [
                (1, "2024-01-01 09:05:00", 1, "click", 1.0),
                (2, "2024-01-01 09:15:00", 1, "click", 1.0),
            ],
            [
                (3, "2024-01-01 09:30:00", 1, "click", 1.0),
                (4, "2024-01-01 09:06:00", 1, "click", 1.0),  # late but in delay
            ],
            [(-1, "2024-01-02 12:00:00", -1, "__flush__", 0.0)],
            [(-2, "2024-01-02 13:00:00", -1, "__flush__", 0.0)],
        ]
    )
    out = run_to_memory(
        tumbling_window_counts(
            read_events_stream(spark, d), window="10 minutes", watermark="30 minutes"
        )
    )
    counts = {
        r.w_start.isoformat(sep=" "): r.n
        for r in out.filter(F.col("event_type") == "click").collect()
    }
    assert counts["2024-01-01 09:00:00"] == 2  # events 1 + late 4
    assert sum(counts.values()) == 4


def test_tws_user_stats(spark, events, replay_dir):
    """transformWithStateInPandas twin of the applyInPandasWithState
    operator. The TWS driver worker needs google.protobuf, absent in this
    container — the plan must still BUILD and analyze (API correctness),
    and when protobuf is present the batch-twin equivalence runs."""
    from pyspark_mllib_twitter_spark.streaming.streams import (
        ROCKSDB_STATE_CONF,
        tws_available,
        tws_user_stats,
    )

    stream = tws_user_stats(read_events_stream(spark, replay_dir), watermark=WATERMARK)
    assert stream.isStreaming
    assert set(stream.columns) == {"user_id", "n_events", "sum_value"}

    if not tws_available():
        pytest.skip("google.protobuf not installed — TWS cannot execute here")

    streamed = run_to_memory(
        stream, output_mode="update", extra_conf=ROCKSDB_STATE_CONF
    )
    final = (
        streamed.filter(F.col("user_id") >= 0)
        .groupBy("user_id")
        .agg(F.max("n_events").alias("n"), F.max("sum_value").alias("s"))
    )
    got = {r.user_id: (r.n, round(r.s, 4)) for r in final.collect()}
    batch = (
        events.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
    )
    want = {r.user_id: (r.n, round(r.s, 4)) for r in batch.collect()}
    assert got == want


def test_stream_restart_resumes_from_checkpoint_exactly_once(spark, sf_smoke, tmp_path):
    """End-to-end restartability: run a stream over HALF the replay files
    into the docstore sink with a checkpoint, "crash" (query ends), add
    the remaining files, restart with the SAME checkpoint — the file
    source must resume from the offset log (no re-processing of the first
    half) and the batchId-idempotent sink must hold each event exactly
    once. This is the full exactly-once contract across a restart, not
    just within one run."""
    import shutil

    from pyspark_mllib_twitter_spark.plans.streaming_queries import _replay_dir
    from pyspark_mllib_twitter_spark.sources.pydatasource import register
    from pyspark_mllib_twitter_spark.streaming.streams import (
        FLUSH_EVENT_TYPE,
        read_events_stream,
    )

    register(spark)
    replay = _replay_dir(spark, sf_smoke)
    chunks = sorted(f for f in os.listdir(replay) if f.endswith(".parquet"))
    assert len(chunks) >= 4
    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    def run():
        ev = read_events_stream(spark, src).filter(
            F.col("event_type") != FLUSH_EVENT_TYPE
        ).select("event_id", "event_type")
        q = (
            ev.writeStream.format("docstore")
            .option("path", store)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    half = len(chunks) // 2
    for f in chunks[:half]:
        shutil.copy(os.path.join(replay, f), os.path.join(src, f))
    run()
    n_first = spark.read.format("docstore").load(store).count()
    assert n_first > 0

    for f in chunks[half:]:
        shutil.copy(os.path.join(replay, f), os.path.join(src, f))
    run()  # same checkpoint: resumes, does not reprocess
    out = spark.read.format("docstore").load(store)
    total = out.count()
    assert total > n_first
    assert out.select("event_id").distinct().count() == total  # exactly once
    # full-content check against the replay dir read as a batch table
    from pyspark_mllib_twitter_spark.streaming.streams import EVENTS_SCHEMA

    batch = (
        spark.read.schema(EVENTS_SCHEMA).parquet(replay)
        .filter(F.col("event_type") != FLUSH_EVENT_TYPE)
    )
    assert total == batch.count()


def test_space_saving_topk_bounds_and_determinism(spark, sf_smoke):
    """Space-Saving guarantees (Metwally 2005): for every tracked user
    true_count <= ss_count and ss_count - ss_err <= true_count; and a
    deterministic replay must reproduce the sketch bit-identically."""
    from pyspark_mllib_twitter_spark.plans import REGISTRY

    spec = REGISTRY["q_stream_topk"]
    first = spec.spark(spark, sf_smoke).collect()
    assert first, "streaming top-k emitted nothing"
    truth = {
        (r.event_type, r.user_id): r.n
        for r in read_table(spark, sf_smoke, "events")
        .filter(F.col("user_id").isNotNull())
        .groupBy("event_type", "user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    for r in first:
        true_n = truth.get((r.event_type, r.user_id), 0)
        assert true_n <= r.ss_count, (r, true_n)
        assert r.ss_count - r.ss_err <= true_n, (r, true_n)
        assert 1 <= r.rank <= 5
    second = spec.spark(spark, sf_smoke).collect()
    assert first == second


@pytest.mark.parametrize("n_batches", [8, 2])
def test_tws_session_finalizer_matches_batch_sessionizer(
    spark, events, n_batches
):
    """q_stream_tws_timers: on a 0%-late replay (nothing dropped by the
    watermark) with the flush sentinel closing every open session, the
    timer-finalized session set must EQUAL a pure-Python gap sessionizer
    over the same events — session boundaries independent of micro-batch
    slicing (in-batch gaps split inline, cross-batch tails via timers).
    Parametrized over the default 8-batch replay AND the 2-batch shape
    the bench entries share, so the exact bench path is equivalence-
    covered too."""
    from pyspark_mllib_twitter_spark.streaming.streams import (
        ROCKSDB_STATE_CONF,
        TWS_SESSION_GAP_MS,
        replay_events_dir,
        tws_available,
        tws_session_finalizer,
    )

    if not tws_available():
        pytest.skip("google.protobuf unavailable — TWS cannot execute here")

    rd = replay_events_dir(
        events,
        late_fraction_pct=0,
        flush_margin="60 days",
        n_batches=n_batches,
    )
    stream = tws_session_finalizer(
        read_events_stream(spark, rd), watermark="30 minutes"
    )
    streamed = run_to_memory(
        stream, output_mode="append", extra_conf=ROCKSDB_STATE_CONF
    )
    got = {
        (r.user_id, r.start_ms, r.end_ms, r.n_events)
        for r in streamed.filter(F.col("user_id") >= 0).collect()
    }

    ev = sorted(
        (r.user_id, r.ms)
        for r in events.filter(F.col("user_id").isNotNull())
        .select(
            "user_id",
            (F.unix_micros(F.col("ts").cast("timestamp")) / 1000)
            .cast("bigint")
            .alias("ms"),
        )
        .collect()
    )
    want = set()
    cur = {}
    for uid, ms in ev:
        if uid in cur and ms - cur[uid][1] <= TWS_SESSION_GAP_MS:
            s, l, n = cur[uid]
            cur[uid] = (s, max(l, ms), n + 1)
        else:
            if uid in cur:
                s, l, n = cur[uid]
                want.add((uid, s, l, n))
            cur[uid] = (ms, ms, 1)
    for uid, (s, l, n) in cur.items():  # flush closes the open tails
        want.add((uid, s, l, n))
    assert got == want


def test_tws_session_finalizer_backward_late_row_splits(spark, tmp_path):
    """Regression (round-9 ADVICE): a late-but-in-allowance row arriving
    more than gap_ms BEFORE the open session's start (possible — the
    watermark is global across keys) must close as its OWN session, not
    extend the open session backward via min(start, ms). Hand-built
    replay: batch 1 delivers u1@12:00; batch 2 delivers u1@10:30 (90 min
    early — own island) and u1@11:45 (15 min early — merges backward);
    batch twin says sessions {10:30} and {11:45..12:00}."""
    import time as _time

    from pyspark_mllib_twitter_spark.streaming.streams import (
        FLUSH_EVENT_TYPE,
        ROCKSDB_STATE_CONF,
        read_events_stream,
        tws_available,
        tws_session_finalizer,
    )

    if not tws_available():
        pytest.skip("google.protobuf unavailable — TWS cannot execute here")

    def us(hhmm):  # event-time on an arbitrary fixed day, micros
        h, m = divmod(hhmm, 100)
        return ((1_700_000_000 // 86400) * 86400 + h * 3600 + m * 60) * 1_000_000

    batches = [
        [(1, us(1200), 1, "view"), (2, us(1200), 2, "view")],
        [(3, us(1030), 1, "view"), (4, us(1145), 1, "view")],
        # Two flush sentinels: watermark from flush #1 is applied (and
        # timers fire) while processing flush #2 — replayer pattern.
        [(-1, us(1200) + 86400_000_000 * 30, -1, FLUSH_EVENT_TYPE)],
        [(-2, us(1200) + 86400_000_000 * 31, -1, FLUSH_EVENT_TYPE)],
    ]
    schema = pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", pa.timestamp("us")),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    )
    base = _time.time() - 10
    for b, rows in enumerate(batches):
        tbl = pa.table(
            {
                "event_id": [r[0] for r in rows],
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "user_id": [r[2] for r in rows],
                "event_type": [r[3] for r in rows],
                "value": [0.0] * len(rows),
                "props": [None] * len(rows),
            },
            schema=schema,
        )
        path = str(tmp_path / f"batch_{b:05d}.parquet")
        pq.write_table(tbl, path)
        os.utime(path, (base + b, base + b))

    # Allowance must admit the 90-min-early row: 3 h watermark, 30 min gap.
    stream = tws_session_finalizer(
        read_events_stream(spark, str(tmp_path)), watermark="3 hours"
    )
    streamed = run_to_memory(
        stream, output_mode="append", extra_conf=ROCKSDB_STATE_CONF
    )
    got = {
        (r.user_id, r.start_ms, r.end_ms, r.n_events)
        for r in streamed.filter(F.col("user_id") >= 0).collect()
    }
    ms = lambda hhmm: us(hhmm) // 1000  # noqa: E731
    assert got == {
        (1, ms(1030), ms(1030), 1),
        (1, ms(1145), ms(1200), 2),
        (2, ms(1200), ms(1200), 1),
    }


def test_ensure_protobuf_gate_behavior(monkeypatch):
    """ensure_protobuf contract: with no fallback dirs and no installed
    module it returns None (tws_available False → entry not registered);
    with the wired fallback it returns a sticky path or '' (installed).
    Runs against the live module state, so it also documents which leg
    this container takes."""
    from pyspark_mllib_twitter_spark.streaming import streams

    got = streams.ensure_protobuf()
    assert got is None or isinstance(got, str)
    if got is None:
        assert not streams.tws_available()
    else:
        # Sticky: the second call must return the same answer, and the
        # module must now import in this process.
        assert streams.ensure_protobuf() == got
        from google.protobuf import descriptor  # noqa: F401
    if got:
        # Wired fallback leg: only the private shim goes on sys.path —
        # never a raw fallback root (which would shadow google.auth,
        # google.oauth2, pyglib and top-level scripts in every worker).
        import sys

        for root in streams._PROTOBUF_FALLBACK_DIRS:
            assert root not in sys.path
            assert root not in os.environ.get("PYTHONPATH", "").split(
                os.pathsep
            )
        assert os.path.islink(os.path.join(got, "google", "protobuf"))
        assert set(os.listdir(os.path.join(got, "google"))) == {"protobuf"}


def test_protobuf_shim_dir_is_minimal_and_idempotent(tmp_path):
    """_protobuf_shim_dir exposes ONLY google/protobuf from the source
    root (no sibling packages leak), re-running is a no-op, and a stale
    symlink is re-targeted."""
    from pyspark_mllib_twitter_spark.streaming import streams

    root = tmp_path / "sdkroot"
    for pkg in ("protobuf", "auth", "oauth2"):
        (root / "google" / pkg).mkdir(parents=True)
        (root / "google" / pkg / "__init__.py").write_text("")
    shim = streams._protobuf_shim_dir(str(root))
    link = os.path.join(shim, "google", "protobuf")
    assert os.path.islink(link)
    assert os.readlink(link) == str(root / "google" / "protobuf")
    assert set(os.listdir(os.path.join(shim, "google"))) == {"protobuf"}
    # No __init__.py: the google/ dir must stay a PEP 420 namespace
    # portion so it merges with any installed google.* packages.
    assert not os.path.exists(os.path.join(shim, "google", "__init__.py"))
    assert streams._protobuf_shim_dir(str(root)) == shim  # idempotent
    # Stale symlink (e.g. SDK relocated): re-targeted in place.
    os.remove(link)
    os.symlink(str(root / "google" / "auth"), link)
    assert streams._protobuf_shim_dir(str(root)) == shim
    assert os.readlink(link) == str(root / "google" / "protobuf")


def test_wire_worker_pythonpath_native_runtime_override(spark, monkeypatch):
    """Round-10 review fix: when the runtime is NATIVE (fallback == '')
    but driver-side validation needed the version-check override, the
    override must still reach workers via sc.environment — and '' must
    not be appended to the worker PYTHONPATH."""
    from pyspark_mllib_twitter_spark.streaming import streams

    sc = spark.sparkContext
    env_before = dict(sc.environment)
    monkeypatch.setattr(streams, "_protobuf_version_override", True)
    try:
        df = spark.range(1)
        streams._wire_worker_pythonpath(df, "")
        assert (
            sc.environment.get("TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK")
            == "true"
        )
        # The '' fallback path must leave the worker PYTHONPATH exactly as
        # it was — no empty component appended (round-10 ADVICE: the old
        # list-comp filtered on the whole string, not each component).
        assert sc.environment.get("PYTHONPATH", "") == env_before.get(
            "PYTHONPATH", ""
        )
    finally:
        # Restore: sc.environment is session-global.
        sc.environment.pop("TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK", None)
        if "PYTHONPATH" in env_before:
            sc.environment["PYTHONPATH"] = env_before["PYTHONPATH"]
        else:
            sc.environment.pop("PYTHONPATH", None)


def test_stream_minhash_delta_equals_batch_probe(spark, sf_smoke):
    """The streaming delta probe (foreachBatch over the persisted band
    index) must emit EXACTLY the batch probe's pair set — per-delta-doc
    probing is batch-slicing-independent, the property that makes the
    entry share q_ef's oracle — and every batch partition must be
    non-overlapping in delta ids (each doc probed exactly once)."""
    from pyspark_mllib_twitter_spark.plans import REGISTRY

    persisted = spark.sparkContext._jsc.getPersistentRDDs
    n_before = len(persisted())
    stream_rows = REGISTRY["q_stream_minhash_delta"].spark(
        spark, sf_smoke
    ).collect()
    # the per-batch candidate checkpoints are released with the batch
    assert len(persisted()) <= n_before
    batch_rows = REGISTRY["q_ef_minhash_delta_index"].spark(
        spark, sf_smoke
    ).collect()
    key = lambda r: (r["lake_id"], r["delta_id"])  # noqa: E731
    assert {key(r) for r in stream_rows} == {key(r) for r in batch_rows}
    sj = {key(r): r["jaccard"] for r in stream_rows}
    for r in batch_rows:
        assert abs(sj[key(r)] - r["jaccard"]) < 1e-12
    # partition discipline: the sink's batch_id layout kept one row per
    # pair (idempotent overwrite, no duplicate emission across batches)
    assert len(stream_rows) == len({key(r) for r in stream_rows})
