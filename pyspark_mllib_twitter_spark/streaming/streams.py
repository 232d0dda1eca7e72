"""Structured Streaming surface (SURVEY §2.B, FIXTURES.md §C).

The reference is batch-only; the target surface requires the streaming
operators a 100 TB event pipeline needs: watermarked tumbling/sliding
windows, session windows, watermark-bounded dedup, and a custom stateful
operator (``applyInPandasWithState``). Everything here is expressed on a
streaming DataFrame and works identically on a real source (Kafka, file
drop) — the replay harness below exists so tests and the bench can drive
the operators deterministically from the ``events`` fixture table.

Design notes for scale:

- Watermarks bound state: every stateful operator here REQUIRES an
  up-front ``withWatermark`` so state for closed windows/sessions is
  evicted; unbounded state is the streaming scale-killer.
- Aggregations shuffle on (window, key) exactly like their batch twins —
  partial aggregation applies per micro-batch, AQE does not (streaming),
  so ``spark.sql.shuffle.partitions`` matters more here than in batch.
- The flush sentinel trick: in append mode a window emits only once the
  watermark passes its end. Replays append far-future sentinel rows so
  every real window provably closes — the deterministic-test equivalent
  of a stream that keeps flowing.
- Sentinels must NOT be filtered inside the streaming plan: a
  deterministic predicate on a non-watermark column is pushed through the
  EventTimeWatermark node into the parquet scan, so the sentinel row never
  reaches the watermark tracker and the watermark never advances (verified
  empirically: the flush batch reports numInputRows=0, eventTime.max
  absent). Sentinel groups simply never close — append mode never emits
  them — and batch-land consumers filter any residue after the sink.
"""

from __future__ import annotations

import contextlib
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: event_type of the far-future flush sentinel appended by the replayer.
FLUSH_EVENT_TYPE = "__flush__"

#: Watermark delay of every replayed stream. The events fixture spans ~1
#: month and the replayer shifts late rows by 2 of 8 batches → worst-case
#: event-time lateness ~1/4 of the span (~8 days). The oracle-checked
#: entries need ZERO dropped rows, so the delay must exceed that lateness,
#: and the flush sentinel must sit beyond delay + window so the final
#: watermark still closes every real window.
REPLAY_WATERMARK = "45 days"

#: Micro-batch stats of the most recent ``run_to_memory`` call —
#: ``{"n_batches", "add_batch_s", "trigger_s", "commit_ms",
#: "state_partitions"}`` — so the bench can report replay-harness overhead
#: and state-store commit time separately from data-plane work.
LAST_RUN_STATS: dict = {}

#: Schema of the replayed events stream (events fixture after read_table's
#: nanos→micros conversion).
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)


# ---------------------------------------------------------------------------
# Replay harness (test/bench utility, not a production operator)
# ---------------------------------------------------------------------------

def replay_events_dir(
    events: DataFrame,
    out_dir: str,
    n_batches: int = 8,
    late_fraction_pct: int = 5,
    flush_margin: str = "2 days",
    duplicate_every: int | None = None,
) -> str:
    """Materialize ``events`` as ordered parquet chunk files in ``out_dir``
    for file-source replay: chunk *i* becomes micro-batch *i*
    (``maxFilesPerTrigger=1``). Returns ``out_dir``.

    Rows are event-time ordered, then a deterministic ``late_fraction_pct``%
    (by ``event_id`` hash) are shifted 2 batches later —
    late arrivals within a bounded delay, per FIXTURES.md §C. A final flush
    sentinel (``event_type='__flush__'``, ts = max + ``flush_margin``)
    closes all real windows. ``duplicate_every=k`` re-appends every k-th row
    one batch later (same ``event_id``) to exercise
    ``dropDuplicatesWithinWatermark``.

    Driver-side by design: this is the deterministic test/bench replayer
    (bounded fixture sizes), not a scale path — production streams come
    from Kafka/file-drop sources and never pass through the driver.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = events.orderBy("ts", "event_id").toPandas()
    n = len(pdf)
    if n == 0:
        raise ValueError("replay_events_dir: empty events input")

    batch = [min(i * n_batches // n, n_batches - 1) for i in range(n)]
    # Deterministic late shift: Knuth-hash of event_id, no RNG state.
    late = [(int(e) * 2654435761 % 100) < late_fraction_pct for e in pdf["event_id"]]
    batch = [
        min(b + 2, n_batches - 1) if is_late else b
        for b, is_late in zip(batch, late)
    ]
    pdf = pdf.assign(_batch=batch)

    dups = None
    if duplicate_every:
        dups = pdf.iloc[::duplicate_every].copy()
        dups["_batch"] = [min(b + 1, n_batches - 1) for b in dups["_batch"]]

    # TWO trailing sentinel batches: the watermark computed from flush #1 is
    # only *applied* (and append-mode emission happens) while processing a
    # subsequent batch — flush #2 is that batch.
    import pandas as pd

    flushes = []
    for j in (0, 1):
        flush = pdf.iloc[-1:].copy()
        flush["event_id"] = -1 - j
        flush["user_id"] = -1
        flush["event_type"] = FLUSH_EVENT_TYPE
        flush["value"] = 0.0
        flush["props"] = None
        flush["ts"] = pdf["ts"].max() + _pd_interval(flush_margin) + pd.Timedelta(j, "h")
        flush["_batch"] = n_batches + j
        flushes.append(flush)

    full = pd.concat([x for x in (pdf, dups, *flushes) if x is not None])
    os.makedirs(out_dir, exist_ok=True)
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
    # FileStreamSource orders by (mtime, path) — pin both. Mtimes must be
    # strictly increasing AND in the past: a future mtime can fall outside
    # the source's start-time snapshot and the file is silently skipped.
    base = time.time() - (n_batches + 2)
    for b in range(n_batches + 2):
        chunk = full[full["_batch"] == b].drop(columns="_batch")
        path = os.path.join(out_dir, f"batch_{b:05d}.parquet")
        pq.write_table(
            pa.Table.from_pandas(chunk, schema=schema, preserve_index=False), path
        )
        os.utime(path, (base + b, base + b))
    return out_dir


def _pd_interval(spec: str):
    import pandas as pd

    qty, unit = spec.split()
    return pd.Timedelta(int(qty), unit={"day": "d", "days": "d", "hours": "h",
                                        "hour": "h", "minutes": "m",
                                        "minute": "m"}[unit])


def fast_checkpoint_dir() -> str:
    """A fresh checkpoint/state-store location on the fastest writable
    volume — callers pass it as ``checkpointLocation`` and remove it when
    the run ends.

    Every micro-batch pays offset-log + commit-log writes and one state
    store delta-file commit PER state partition (a stream-stream join
    commits four stores per partition); on a disk-backed ``/tmp`` those
    fsync-class writes are a fixed per-trigger tax that scales with batch
    count, not data volume (r15 measured, q_stream_attribution: 18.2s on
    /tmp vs 16.0s on /dev/shm, identical plans and results). Production
    guidance is the same idea at cluster scale: put state stores on fast
    local disks (or RocksDB on NVMe) and keep the CHECKPOINT of record on
    durable storage — the replay harness here has no durability
    requirement, so shared memory is the honest local equivalent.
    ``SPARK_GRAFT_STREAM_CKPT_DIR`` overrides the base (e.g. to durable
    storage, or tmpfs on hosts where /dev/shm is unavailable).

    Two settings keep those commits cheap: the state width is capped at
    the core count (``stream_conf``), so fewer delta files are written
    per trigger, and ``session.get_spark`` selects the FileSystem-based
    checkpoint manager, whose temp-file-then-rename commit forks no
    ``readlink``/link-status shell command per file (the default
    FileContext manager does when native libhadoop is absent). That
    manager needs a single writer per dir, which the fresh name per run
    gives."""
    import tempfile

    base = os.environ.get("SPARK_GRAFT_STREAM_CKPT_DIR")
    if not base:
        shm = "/dev/shm"
        base = (
            shm
            if os.path.isdir(shm) and os.access(shm, os.W_OK)
            else tempfile.gettempdir()
        )
    return os.path.join(base, f"sg_ckpt_{uuid.uuid4().hex[:12]}")


def read_events_stream(spark: SparkSession, replay_dir: str) -> DataFrame:
    """File-source stream over a replay dir: one chunk file per micro-batch,
    declared schema (no inference scan — same discipline as batch)."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(replay_dir)
    )


@contextlib.contextmanager
def stream_conf(
    spark: SparkSession,
    state_partitions: int | None = 8,
    extra_conf: dict[str, str] | None = None,
):
    """Session confs for one stream run, restored when the run ends.

    ``state_partitions`` sets ``spark.sql.shuffle.partitions`` — the
    stateful shuffle width — capped at ``defaultParallelism``. A stateful
    query runs one state-store task per shuffle partition EVERY
    micro-batch and commits one delta file per partition per operator, so
    a width above the core count only adds waves of mostly-empty state
    tasks: on 4 cores a width of 8 runs them in two waves and commits
    twice the files of width 4, while widths 2 and 1 measured no faster
    than 4. The width is fixed at the stream's first batch; batch queries
    keep their tuning once the conf is restored.
    ``None`` inherits the session value (production streams size this to
    real key cardinality instead). Yields the effective width."""
    overrides = dict(extra_conf or {})
    if state_partitions is not None:
        overrides["spark.sql.shuffle.partitions"] = str(
            min(state_partitions, spark.sparkContext.defaultParallelism)
        )
    prev = {k: spark.conf.get(k, None) for k in overrides}
    for k, v in overrides.items():
        spark.conf.set(k, v)
    try:
        yield int(spark.conf.get("spark.sql.shuffle.partitions"))
    finally:
        for k, old in prev.items():
            if old is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old)


def run_to_memory(
    stream_df: DataFrame,
    output_mode: str = "append",
    state_partitions: int | None = 8,
    extra_conf: dict[str, str] | None = None,
) -> DataFrame:
    """Execute a streaming plan over all available input (availableNow
    trigger → real micro-batch sequence, watermarks advance batch to
    batch), sink to an in-memory table, return it as a DataFrame.

    ``state_partitions`` and ``extra_conf`` apply for the run only (see
    ``stream_conf``): the state width is capped at the core count.
    Checkpoint files go through the session's FileSystem-based
    checkpoint manager (``session.get_spark``), so state-store commits
    fork no ``readlink``/link-status shell command per file.
    """
    name = f"mem_{uuid.uuid4().hex[:8]}"
    spark = stream_df.sparkSession
    # recentProgress keeps only the most recent N updates (default 100); a
    # replay with more micro-batches than that would silently undercount
    # LAST_RUN_STATS, so raise the cap well above any replay batch count.
    overrides = {
        "spark.sql.streaming.numRecentProgressUpdates": "4096",
        **(extra_conf or {}),
    }
    ckpt = fast_checkpoint_dir()
    try:
        with stream_conf(spark, state_partitions, overrides) as width:
            q = (
                stream_df.writeStream.format("memory")
                .queryName(name)
                .outputMode(output_mode)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        # Bench introspection: how much of the wall time was micro-batch
        # harness cadence vs actual work. ``addBatch`` is the data-plane
        # execution inside each trigger; the rest of triggerExecution
        # (offset management, planning, commit) is fixed per-batch replay
        # overhead that scales with n_batches, not data volume.
        # ``commit_ms`` is the state-store share of it.
        try:
            prog = list(q.recentProgress)
            dur = [p.get("durationMs", {}) or {} for p in prog]
            ops = [op for p in prog for op in p.get("stateOperators") or []]
            LAST_RUN_STATS.clear()
            LAST_RUN_STATS.update(
                {
                    "n_batches": len(prog),
                    "add_batch_s": round(
                        sum(d.get("addBatch", 0) for d in dur) / 1000.0, 3
                    ),
                    "trigger_s": round(
                        sum(d.get("triggerExecution", 0) for d in dur) / 1000.0, 3
                    ),
                    "commit_ms": sum(op.get("commitTimeMs", 0) for op in ops),
                    "state_partitions": width,
                }
            )
        except Exception:
            LAST_RUN_STATS.clear()
    finally:
        import shutil

        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name)


# ---------------------------------------------------------------------------
# Streaming operators
# ---------------------------------------------------------------------------

def tumbling_window_counts(events: DataFrame, watermark: str = REPLAY_WATERMARK) -> DataFrame:
    """Watermarked 10-minute tumbling-window counts/sums per event_type.

    State: one row per (window, event_type); evicted once the watermark
    passes window end. Money-style sums go through decimal — same
    order-independence discipline as the batch agg suite."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sliding_window_stats(events: DataFrame) -> DataFrame:
    """Watermarked sliding-window per-type averages (10-minute windows every
    5 minutes: each event lands in two overlapping windows)."""
    return (
        events.withWatermark("ts", REPLAY_WATERMARK)
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.avg("value").alias("avg_value"))
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "event_type",
            "n",
            "avg_value",
        )
    )


def windowed_ohlc(events: DataFrame) -> DataFrame:
    """Watermarked 1-hour tumbling-window OHLC per event_type — the streaming twin
    of the batch candlestick aggregate (plans/corpus_ops.py q_y8_ohlc):
    open/close via ``min_by``/``max_by`` on the shared fixed-width string
    ordering key (functions/ordering.py — lexicographic == (ts, event_id)
    order), extremes via min/max, all in ONE streaming aggregation.

    State: one (open, high, low, close, n) tuple per live (window, type) —
    min_by/max_by keep a single candidate pair each, so state size matches
    plain windowed counts; evicted once the watermark passes window end.
    Append mode emits each candle exactly once, when it can no longer
    change — the contract a downstream chart/store wants."""
    from ..functions.ordering import ord_key

    return (
        events.withColumn("ord", ord_key(F.col("ts"), F.col("event_id")))
        .withWatermark("ts", REPLAY_WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.min_by("value", "ord").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", "ord").alias("close"),
            F.count("*").alias("n"),
        )
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "event_type",
            "open",
            "high",
            "low",
            "close",
            F.col("n").cast("bigint").alias("n"),
        )
    )


def sessionized(events: DataFrame) -> DataFrame:
    """Per-user session windows (30-minute gap). Sessions merge as events
    arrive; a session closes — and its state is evicted — when the
    watermark passes session end + gap."""
    return (
        events.withWatermark("ts", REPLAY_WATERMARK)
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("s_start"),
            F.col("w.end").alias("s_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def stream_dedup(events: DataFrame) -> DataFrame:
    """Exactly-once by ``event_id`` within the watermark horizon:
    ``dropDuplicatesWithinWatermark`` keeps the first arrival of each key
    and drops re-deliveries until the key ages out of state — the
    bounded-state streaming twin of batch ``dropDuplicates`` (state size
    ~ keys per watermark window, not the whole stream)."""
    return (
        events.withWatermark("ts", REPLAY_WATERMARK)
        .dropDuplicatesWithinWatermark(["event_id"])
    )


def foreach_batch_parquet_sink(
    stream_df: DataFrame,
    out_dir: str,
) -> None:
    """Run a streaming plan to completion (availableNow) through a
    ``foreachBatch`` parquet sink — the production pattern for sinks Spark
    has no native streaming writer for (JDBC, upserts, multi-table fanout).

    Exactly-once discipline: each micro-batch lands in its own
    ``batch_id=N`` subdirectory with ``overwrite`` mode, so a replayed
    batch (restart after failure between write and checkpoint commit)
    overwrites its own partition instead of duplicating rows — idempotent
    writes + checkpointed offsets = effective exactly-once.
    """
    spark = stream_df.sparkSession

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_id={batch_id}")
        )

    ckpt = fast_checkpoint_dir()
    try:
        with stream_conf(spark):
            q = (
                stream_df.writeStream.foreachBatch(write_batch)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
    finally:
        import shutil

        shutil.rmtree(ckpt, ignore_errors=True)


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_ts: str,
    right_ts: str,
) -> DataFrame:
    """Watermarked stream-stream inner join: pair every right row with left
    rows of the same key where ``left_ts <= right_ts <= left_ts + 1 hour``.

    Inner matches emit as soon as both sides arrive — no window closure
    needed — but the watermark + the two-sided time-range bound are what
    let Spark EVICT buffered rows: each side's state holds only the
    (watermark + within) horizon, not the whole stream. Without the range
    condition a stream-stream join buffers both streams forever — the
    canonical unbounded-state mistake. Callers rename columns so the two
    sides are disjoint before joining.
    """
    l = left.withWatermark(left_ts, REPLAY_WATERMARK)
    r = right.withWatermark(right_ts, REPLAY_WATERMARK)
    cond = (
        (F.col(left_key) == F.col(right_key))
        & (F.col(right_ts) >= F.col(left_ts))
        & (F.col(right_ts) <= F.col(left_ts) + F.expr("INTERVAL 1 hour"))
    )
    return l.join(r, cond, "inner")


#: Output/state schemas for stateful_user_stats.
_USER_STATS_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
        T.StructField("max_ts", T.TimestampType()),
    ]
)
_USER_STATS_STATE = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("s", T.DoubleType()),
        T.StructField("mx", T.TimestampType()),
    ]
)


def stateful_user_stats(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: running
    per-user (count, sum(value), max ts), one updated row per user per
    micro-batch in which the user appears.

    This is the escape hatch for operators window aggs can't express
    (counters, custom sessionization, CEP-ish logic). Arrow-batched per
    group; state is one tiny tuple per user, watermark-bounded timeout
    would evict idle users in production (omitted here so replays keep
    every user's final row observable — counts are monotone, tests take
    the max)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        n, s, mx = state.get if state.exists else (0, 0.0, None)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
            batch_max = pdf["ts"].max()
            mx = batch_max if mx is None or batch_max > mx else mx
        state.update((n, s, mx))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [s], "max_ts": [mx]}
        )

    return (
        events.withWatermark("ts", REPLAY_WATERMARK)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=_USER_STATS_OUT,
            stateStructType=_USER_STATS_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


#: Conf required by transformWithStateInPandas: the TWS operator family is
#: implemented only on the RocksDB state store (Spark 4 bundles it).
ROCKSDB_STATE_CONF = {
    "spark.sql.streaming.stateStore.providerClass":
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
}


#: System locations known to ship a pure-Python ``google.protobuf``
#: runtime (public, BSD-licensed — the google-cloud-sdk bundles one for
#: its own tooling). No package index is reachable from this container,
#: so when the module is not installed we borrow the SDK's copy. The
#: borrowed root is never put on ``sys.path`` directly: it also exposes
#: ``google.auth``/``google.oauth2``/``google.appengine``/``pyglib`` and
#: top-level scripts (``run_tests.py`` …), and PYTHONPATH entries precede
#: site-packages in a fresh worker's ``sys.path``, so the whole root
#: could shadow installed packages. Instead :func:`_protobuf_shim_dir`
#: builds a private directory exposing ONLY ``google/protobuf`` (a bare
#: ``google/`` namespace portion + one symlink) and THAT goes on
#: ``sys.path`` (driver) and ``PYTHONPATH`` / ``sc.environment``
#: (workers — see :func:`_wire_worker_pythonpath`). Wiring is LAZY: only
#: the TWS operator constructors call :func:`ensure_protobuf`; plain
#: session creation never mutates the environment.
_PROTOBUF_FALLBACK_DIRS = (
    "/usr/lib/google-cloud-sdk/platform/google_appengine",
)


#: Shim dir wired in by :func:`ensure_protobuf` (sticky: later calls
#: keep returning it so worker-env wiring still happens after the first
#: call made the module importable driver-side).
_protobuf_wired: str | None = None
#: True when the borrowed runtime needed the documented protobuf escape
#: hatch (``TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK``) for a verified
#: known-safe minor-version skew; workers then need the same env var.
_protobuf_version_override = False


def _protobuf_shim_dir(src_root: str) -> str:
    """Create (idempotently) a private sys.path entry that exposes ONLY
    ``google/protobuf`` from ``src_root``: a bare ``google/`` directory
    (PEP 420 namespace portion, merges with any installed ``google.*``)
    holding one symlink. Keyed by source root so distinct roots never
    collide; safe to share across processes on one host."""
    import hashlib
    import tempfile

    target = os.path.join(src_root, "google", "protobuf")
    shim = os.path.join(
        tempfile.gettempdir(),
        "spark_twitter_pb_shim_"
        + hashlib.md5(src_root.encode()).hexdigest()[:10],
    )
    os.makedirs(os.path.join(shim, "google"), exist_ok=True)
    link = os.path.join(shim, "google", "protobuf")
    if os.path.islink(link):
        if os.readlink(link) != target:
            # Retarget a stale link; both steps race a concurrent
            # retargeter on the same host, and the winner wrote the
            # same (correct) target, so losing either race is fine.
            try:
                os.remove(link)
            except FileNotFoundError:
                pass
            try:
                os.symlink(target, link)
            except FileExistsError:
                pass
    elif not os.path.exists(link):
        try:
            os.symlink(target, link)
        except FileExistsError:  # concurrent creator won the race
            pass
    return shim


def _validate_tws_gencode() -> bool:
    """Import pyspark's TWS protobuf gencode against the active runtime.

    Returns True when usable. The borrowed runtime may trail the gencode
    by a minor version (observed: ``StateMessage_pb2`` gencode 6.33 vs
    runtime 6.32); protobuf's ``ValidateProtobufRuntimeVersion`` rejects
    that, and its OWN documented escape hatch is the
    ``TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK`` env var. Setting that
    var process-wide disables version validation for EVERY protobuf
    consumer, so it is scoped: parse both versions out of the
    VersionError and only override for a same-major skew of <= 2 minor
    versions (wire-format stable); anything else fails closed (TWS
    reported unavailable rather than risking gencode/runtime corruption).
    """
    global _protobuf_version_override
    import importlib
    import re as _re

    gencode = "pyspark.sql.streaming.proto.StateMessage_pb2"
    try:
        importlib.import_module(gencode)
        return True  # validates cleanly — no override needed
    except ImportError:
        return True  # no TWS gencode in this pyspark — nothing to check
    except Exception as e:  # protobuf VersionError (failed import is not cached)
        if type(e).__name__ != "VersionError":
            return False
        vers = _re.findall(r"(\d+)\.(\d+)\.(\d+)", str(e))
        if len(vers) < 2:
            return False
        (gmaj, gmin, _), (rmaj, rmin, _) = (
            tuple(int(x) for x in v) for v in vers[:2]
        )
        if gmaj != rmaj or abs(gmin - rmin) > 2:
            return False
        os.environ["TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK"] = "true"
        try:
            importlib.import_module(gencode)
        except Exception:
            del os.environ["TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK"]
            return False
        _protobuf_version_override = True
        return True


def ensure_protobuf() -> str | None:
    """Make ``google.protobuf`` (and pyspark's TWS gencode) usable in
    this process if at all possible. Returns ``""`` when it works
    natively, the private shim dir that provides it when a system
    fallback was wired in (sticky across calls), or ``None`` when
    unavailable. Idempotent. Called LAZILY from the TWS operator
    constructors only — never from session creation."""
    global _protobuf_wired
    import importlib
    import sys

    if _protobuf_wired is not None:
        return _protobuf_wired
    try:
        # Import a real module, not the bare package: `google.protobuf`
        # can resolve as an EMPTY namespace package (any sys.path entry
        # with a bare google/protobuf/ directory), which imports fine yet
        # provides nothing.
        from google.protobuf import descriptor  # noqa: F401

        return "" if _validate_tws_gencode() else None
    except ImportError:
        pass
    for root in _PROTOBUF_FALLBACK_DIRS:
        if not os.path.isdir(os.path.join(root, "google", "protobuf")):
            continue
        d = _protobuf_shim_dir(root)
        added = d not in sys.path
        if added:
            sys.path.append(d)
        # Drop any cached EMPTY-namespace google.protobuf (and its
        # submodules) so the retry re-resolves against the newly added
        # portion — a cached namespace "google" parent is fine as-is,
        # PEP 420 namespace __path__ recomputes when sys.path changes.
        # Only protobuf entries are touched: evicting sibling namespace
        # packages (google.cloud, ...) would orphan live references.
        for mod in [
            m
            for m in sys.modules
            if m == "google.protobuf" or m.startswith("google.protobuf.")
        ]:
            if getattr(sys.modules[mod], "__file__", None) is None:
                del sys.modules[mod]
        try:
            importlib.import_module("google.protobuf.descriptor")
        except Exception:
            if added:
                sys.path.remove(d)
            continue
        if not _validate_tws_gencode():
            # Importable but gencode-incompatible beyond the safe skew:
            # unwire and report unavailable rather than crash mid-query.
            if added:
                sys.path.remove(d)
            return None
        # Future JVM launches inherit this env, so python workers spawned
        # by them resolve the same copy.
        pp = os.environ.get("PYTHONPATH", "")
        if d not in pp.split(os.pathsep):
            os.environ["PYTHONPATH"] = pp + os.pathsep + d if pp else d
        _protobuf_wired = d
        return d
    return None


def _wire_worker_pythonpath(df: DataFrame, path: str) -> None:
    """Propagate the protobuf shim dir to Python WORKERS of an
    already-running session: ``sc.environment`` is read every time a
    Python function is wrapped for the JVM (rdd.py
    ``_prepare_for_python_RDD``), so mutating it here reaches workers
    even when the JVM predates the import of this module. The version
    override travels only when driver-side validation required it."""
    sc = df.sparkSession.sparkContext
    if path:  # "" = natively importable, nothing to add to the path
        pp = sc.environment.get("PYTHONPATH", "")
        if path not in pp.split(os.pathsep):
            sc.environment["PYTHONPATH"] = (
                pp + os.pathsep + path if pp else path
            )
    if _protobuf_version_override:
        sc.environment["TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK"] = "true"


def tws_available() -> bool:
    """True when ``transformWithStateInPandas`` can actually run here: its
    state-server worker speaks protobuf to the JVM, so the
    ``google.protobuf`` package must be importable (verified empirically —
    without it the worker exits with
    STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE).

    Environment status (rounds 5-8: gated — module absent, no package
    index reachable). Round 9: un-gated by borrowing the pure-Python
    protobuf the google-cloud-sdk ships (see ``_PROTOBUF_FALLBACK_DIRS``);
    the batch-twin equivalence test executes wherever this returns True."""
    return ensure_protobuf() is not None


def tws_user_stats(events: DataFrame) -> DataFrame:
    """Running per-user (count, sum(value)) via ``transformWithStateInPandas``
    — the Spark 4 successor of ``applyInPandasWithState`` (same semantics as
    :func:`stateful_user_stats`, modern API): a ``StatefulProcessor`` class
    with named, schema'd state handles instead of one opaque state tuple,
    composable ValueState/ListState/MapState and timers.

    Requires the RocksDB state store — run with
    ``run_to_memory(..., extra_conf=ROCKSDB_STATE_CONF)`` — and a Python
    environment with ``google.protobuf`` (gate on :func:`tws_available`,
    which wires in the system-bundled pure-Python runtime when the module
    is not installed). State is one (n, s) pair per user; output mode Update emits
    one row per user per micro-batch in which the user appears, so counts
    are monotone and the final state is the per-user max (what the batch
    twin checks).
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    fallback = ensure_protobuf()
    # Wire on "" (native) too: a natively-installed runtime may still have
    # needed the scoped version override, and sc.environment is the only
    # channel that reaches Python workers of the already-running session.
    if fallback is not None:
        _wire_worker_pythonpath(events, fallback)

    class _RunningStats(StatefulProcessor):
        # No annotations on these methods: this module stringifies them
        # (`from __future__ import annotations`) and the TWS driver-side
        # worker resolves type hints at runtime — unresolvable strings
        # crash it (same trap as pandas_udf, see q_udf_pandas_cosine).
        def init(self, handle):
            self._stats = handle.getValueState("stats", "n bigint, s double")

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            n, s = self._stats.get() if self._stats.exists() else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                s += float(pdf["value"].sum())
            self._stats.update((n, s))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "sum_value": [s]}
            )

        def close(self):
            pass

    return (
        events.withWatermark("ts", REPLAY_WATERMARK)
        .groupBy("user_id")
        .transformWithStateInPandas(
            _RunningStats(),
            outputStructType="user_id bigint, n_events bigint, sum_value double",
            outputMode="Update",
            timeMode="None",
        )
    )


#: Idle gap (ms, event time) after which a TWS timer finalizes a session.
TWS_SESSION_GAP_MS = 30 * 60 * 1000


def tws_session_finalizer(
    events: DataFrame,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Idle-timeout SESSIONIZATION with event-time TIMERS via
    ``transformWithStateInPandas`` — the API surface ``tws_user_stats``
    doesn't exercise: ``handle.registerTimer``/``deleteTimer`` +
    ``handleExpiredTimer`` in ``timeMode="EventTime"``. Per user, a
    ValueState row (start_ms, last_ms, n) tracks the open session; each
    batch re-runs the gap split over the open session MERGED with the
    batch's sorted events (so session boundaries match the batch twin
    ``q_dq_sessionize`` exactly, independent of micro-batch slicing —
    including a late-but-in-allowance row more than ``gap_ms``
    (``TWS_SESSION_GAP_MS``) BEFORE
    the open session's start, which closes as its own earlier session
    instead of extending the session backward), and the open tail
    re-arms one timer at ``last_ms + gap_ms`` each batch; when the watermark passes
    it, ``handleExpiredTimer`` EMITS the finalized session and clears
    state — the push-based twin of ``session_window`` (a session appears
    in the sink the moment the engine can prove it closed, not when the
    next aggregation runs). A session still open when input ends is
    emitted only if a later watermark passes its idle deadline (the
    replayer's far-future flush sentinel guarantees that in tests;
    a production stream would hold it open — correctly). Lake-side
    backfills use the batch twins (``q_w5_sessionize`` per-session,
    ``q_dq_sessionize`` per-user rollup). Timer firing
    depends only on the deterministic per-batch watermark sequence of
    the fixed replay plan, so output is stable across runs. Requires ``google.protobuf`` (see :func:`tws_available`)
    and the RocksDB state store (``ROCKSDB_STATE_CONF``).
    """
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    gap_ms = TWS_SESSION_GAP_MS
    fallback = ensure_protobuf()
    if fallback is not None:  # "" still carries the version override
        _wire_worker_pythonpath(events, fallback)

    class _SessionFinalizer(StatefulProcessor):
        # No type annotations: the TWS worker resolves hints at runtime
        # and this module stringifies them (see tws_user_stats).
        def init(self, handle):
            self._handle = handle
            self._sess = handle.getValueState(
                "sess", "start_ms bigint, last_ms bigint, n bigint"
            )

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            all_ms = []
            for pdf in rows:
                ms = (
                    pdf["ts"].astype("datetime64[ns]").astype("int64")
                    // 1_000_000
                )
                all_ms.extend(int(x) for x in ms)
            if not all_ms:
                return iter([])
            # Re-run the gap split over the COMBINED sequence: the open
            # session (an interval — its recorded events already chain
            # within gap_ms) plus each new event as a point, sorted.
            # A late-but-in-allowance row arriving more than gap_ms
            # BEFORE the open session's start (possible: the watermark
            # is global across keys) therefore forms — and immediately
            # closes — its own earlier island, exactly like the batch
            # twin, instead of extending the session backward.
            spans = [(ms, ms, 1) for ms in all_ms]
            if self._sess.exists():
                start, last, n = self._sess.get()
                self._handle.deleteTimer(last + gap_ms)
                spans.append((start, last, n))
            spans.sort()
            closed = []
            cs, ce, cn = spans[0]
            for s, e, c in spans[1:]:
                if s - ce > gap_ms:
                    # Idle gap: finalize inline (same semantics as the
                    # batch twin), open a fresh island.
                    closed.append((key[0], cn, cs, ce, ce - cs))
                    cs, ce, cn = s, e, c
                else:
                    # Merging never re-opens an interior gap: a point
                    # landing inside [cs, ce] is covered by the interval.
                    ce, cn = max(ce, e), cn + c
            self._sess.update((cs, ce, cn))
            self._handle.registerTimer(ce + gap_ms)
            if closed:
                yield pd.DataFrame(
                    closed,
                    columns=[
                        "user_id", "n_events", "start_ms", "end_ms", "dur_ms"
                    ],
                )

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            import pandas as pd

            if not self._sess.exists():
                return iter([])
            start, last, n = self._sess.get()
            self._sess.clear()
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "start_ms": [start],
                    "end_ms": [last],
                    "dur_ms": [last - start],
                }
            )

        def close(self):
            pass

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .transformWithStateInPandas(
            _SessionFinalizer(),
            outputStructType=(
                "user_id bigint, n_events bigint, start_ms bigint,"
                " end_ms bigint, dur_ms bigint"
            ),
            outputMode="Append",
            timeMode="EventTime",
        )
    )


# ---------------------------------------------------------------------------
# Stateful last-touch attribution (streaming twin of q_zd_attribution)
# ---------------------------------------------------------------------------

_ATTR_OUT = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("attributed_type", T.StringType()),
        T.StructField("touch_event_id", T.LongType()),
        T.StructField("gap_us", T.LongType()),
    ]
)
#: Last observed touch per user: (epoch_us, event_id, event_type);
#: us = -1 encodes "no touch yet" (state schemas cannot hold a None row).
_ATTR_STATE = T.StructType(
    [
        T.StructField("us", T.LongType()),
        T.StructField("eid", T.LongType()),
        T.StructField("etype", T.StringType()),
    ]
)


def stateful_attribution(events: DataFrame) -> DataFrame:
    """Streaming last-touch attribution via ``applyInPandasWithState`` —
    the stateful twin of the batch window plan (q_zd_attribution in
    plans/mining_ops.py): per-user state is ONE (ts, id, type) tuple for
    the latest touch; each purchase is attributed the moment it arrives.

    Unlike the other stateful entries (counts — monotone, so late data
    cannot corrupt the final row), attribution is ORDER-SENSITIVE: it is
    correct exactly when each user's events are processed in (ts,
    event_id) order. The replayer guarantees that with
    ``late_fraction_pct=0`` (batches are event-time-ordered and
    boundaries respect the sort), which is what lets the streaming result
    be checked against the BATCH ORACLE row-for-row — the only stateful
    streaming entry with a full value oracle rather than a
    batch-equivalence property. With late data this operator would need
    per-user event buffering until the watermark (the standard
    out-of-orderness tax); the zero-late replay isolates the state
    machinery under test.

    Scale: state is O(1) per user (one touch tuple); each batch's rows
    arrive Arrow-batched per user and are walked once in order.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    lookback_us = 7 * 86_400_000_000

    def update(key, pdfs, state: GroupState):
        # The function runs once PER (user, micro-batch) — ~15k calls per
        # replay at sf0.1 — so its fixed cost is the entry's data plane
        # (guide §4.2 applied to the stateful boundary). numpy column
        # extraction + lexsort replaces the old per-group pandas
        # concat/assign/sort_values chain (three ~0.3-0.5 ms pandas calls
        # on a ~7-row frame); r15 micro-bench: 1.59 ms -> 0.24 ms per
        # group, value-identical ordering ((ts, event_id) lexsort == the
        # old stable mergesort on the same keys).
        import numpy as np
        import pandas as pd

        t_us, t_eid, t_type = state.get if state.exists else (-1, -1, "")
        rows = []
        chunks = list(pdfs)
        pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
        if len(pdf):
            us_arr = pdf["ts"].to_numpy("datetime64[us]").astype("int64")
            eid_arr = pdf["event_id"].to_numpy()
            et_arr = pdf["event_type"].to_numpy()
            for i in np.lexsort((eid_arr, us_arr)):
                etype = et_arr[i]
                if etype == "purchase":
                    us = int(us_arr[i])
                    if t_us >= 0 and us - t_us <= lookback_us:
                        rows.append((int(eid_arr[i]), int(key[0]), t_type,
                                     int(t_eid), us - t_us))
                    else:
                        rows.append((int(eid_arr[i]), int(key[0]), None, None,
                                     None))
                if etype in ("click", "view"):
                    t_us, t_eid, t_type = int(us_arr[i]), int(eid_arr[i]), etype
        state.update((t_us, t_eid, t_type))
        # ~26% of (user, batch) calls see no purchase — skip the empty
        # output frame entirely (state updates flow regardless of yields).
        if rows:
            yield pd.DataFrame(
                rows,
                columns=["event_id", "user_id", "attributed_type",
                         "touch_event_id", "gap_us"],
            )

    return (
        events.withWatermark("ts", REPLAY_WATERMARK)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=_ATTR_OUT,
            stateStructType=_ATTR_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


#: Space-Saving top-k sketch: capacity and emitted head size.
SS_CAPACITY = 24
SS_TOPK = 5

_SS_OUT = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("version", T.LongType()),
        T.StructField("rank", T.IntegerType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("ss_count", T.LongType()),
        T.StructField("ss_err", T.LongType()),
    ]
)
_SS_STATE = T.StructType(
    [
        T.StructField("users", T.ArrayType(T.LongType())),
        T.StructField("counts", T.ArrayType(T.LongType())),
        T.StructField("errs", T.ArrayType(T.LongType())),
        T.StructField("version", T.LongType()),
    ]
)


def space_saving_topk(
    events: DataFrame,
) -> DataFrame:
    """Streaming heavy hitters per event type via the Space-Saving sketch
    (Metwally, Agrawal & El Abbadi, "Efficient computation of frequent and
    top-k elements in data streams", ICDT 2005 — public), as a custom
    stateful operator: state per key is a BOUNDED counter table of
    ``SS_CAPACITY`` (user, count, err) triples regardless of how many
    distinct users flow past — the property that makes per-key top-k
    viable on an unbounded stream where exact per-user counts would grow
    state linearly in the user universe.

    Guarantees (tested): for every tracked user,
    ``true_count <= ss_count`` and ``ss_count - ss_err <= true_count``;
    any user with true frequency above N/SS_CAPACITY is guaranteed tracked.

    Determinism: rows are applied in (ts, event_id) order within each
    micro-batch (the Arrow chunks arrive in partition order, which is not
    a data contract), and evictions tie-break on (count, err, user), so a
    deterministic replay yields a bit-identical sketch — what makes the
    operator golden-testable at all.

    Each batch emits the current top-``SS_TOPK`` with a monotone state
    version; the final answer is the row set at each key's max version
    (update-mode analogue of q_stream_stateful's monotone max).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        if state.exists:
            users, counts, errs, version = state.get
            table = {
                u: [c, e] for u, c, e in zip(users, counts, errs)
            }
        else:
            table, version = {}, 0
        rows = []
        for pdf in pdfs:
            rows.append(pdf[["ts", "event_id", "user_id"]])
        if rows:
            batch = pd.concat(rows).sort_values(["ts", "event_id"])
            for u in batch["user_id"]:
                u = int(u)
                if u in table:
                    table[u][0] += 1
                elif len(table) < SS_CAPACITY:
                    table[u] = [1, 0]
                else:
                    # evict the minimum (count, err, user) entry
                    evict = min(table.items(), key=lambda kv: (kv[1][0], kv[1][1], kv[0]))
                    m = evict[1][0]
                    del table[evict[0]]
                    table[u] = [m + 1, m]
        version += 1
        state.update(
            (
                [int(u) for u in table],
                [int(v[0]) for v in table.values()],
                [int(v[1]) for v in table.values()],
                version,
            )
        )
        head = sorted(table.items(), key=lambda kv: (-kv[1][0], kv[1][1], kv[0]))[
            :SS_TOPK
        ]
        yield pd.DataFrame(
            {
                "event_type": [key[0]] * len(head),
                "version": [version] * len(head),
                "rank": list(range(1, len(head) + 1)),
                "user_id": [u for u, _ in head],
                "ss_count": [c for _, (c, _e) in head],
                "ss_err": [e for _, (_c, e) in head],
            }
        )

    return (
        events.filter(F.col("user_id").isNotNull())
        .withWatermark("ts", REPLAY_WATERMARK)
        .groupBy("event_type")
        .applyInPandasWithState(
            update,
            outputStructType=_SS_OUT,
            stateStructType=_SS_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


#: KMV sketch size: the k smallest distinct hashes retained (shared with
#: the batch twin, plans/corpus_ops.py q_z3).
KMV_K = 64


def streaming_kmv(events: DataFrame) -> DataFrame:
    """Streaming KMV distinct-count sketch per event type (Bar-Yossef et
    al., RANDOM 2002 — public) as a custom stateful operator: state per
    key is the ``KMV_K`` smallest DISTINCT md5 hex digests of user ids — a
    bounded ORDER-STATISTICS merge (contrast the register-max merge of
    the streaming HLL): merging a batch is "union then keep k smallest",
    which is associative, commutative and idempotent, so arrival order
    and batching cannot change the final sketch. The sketch is therefore
    fully deterministic and the query that wraps this operator carries a
    FULL VALUE ORACLE (same per-group KMV SQL as the batch twin q_z3).

    Each batch emits (k_actual, kth_hash) with a monotone version; the
    numeric estimate is computed batch-side from the final state in the
    engine's shared-text close (keeping Python float rounding out of the
    protocol). State is ``KMV_K`` 32-char digests per group, constant in the
    user universe.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        import hashlib as _hl

        import pandas as pd

        cur = set(state.get[0]) if state.exists else set()
        version = state.get[1] if state.exists else 0
        for pdf in pdfs:
            for u in pdf["user_id"]:
                cur.add(_hl.md5(str(int(u)).encode()).hexdigest())
        keep = sorted(cur)[:KMV_K]
        version += 1
        state.update((keep, version))
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "version": [version],
                "k_actual": [len(keep)],
                "kth_hash": [keep[-1]],
            }
        )

    out_schema = (
        "event_type string, version long, k_actual long, kth_hash string"
    )
    state_schema = "hashes array<string>, version long"
    return (
        events.withWatermark("ts", REPLAY_WATERMARK)
        .groupBy("event_type")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_tdigest(events: DataFrame) -> DataFrame:
    """Streaming t-digest quantile sketch per event type (Dunning &
    Ertl 2019) as a custom stateful operator: state per key is the
    centroid list (means, weights) — each micro-batch's values merge
    into the digest by the same greedy k1-scale clustering the batch
    twin uses (operators/tdigest.py), so state stays ~2*DEFAULT_DELTA rows per
    key no matter how much data streams through. UNLIKE the KMV/HLL
    sketches, t-digest merging is NOT batching-invariant (centroid
    layout depends on arrival grouping), so this entry is rows-only
    with rank-error-bound tests against exact quantiles instead of a
    value oracle — the honest contract for this sketch family, stated
    here because the distinction is what q_stream_kmv's docstring
    celebrates in the other direction.

    Each batch emits (version, n, p50/p95/p99) read from the digest;
    estimates are computed inside the operator (NumPy midpoint
    interpolation — deterministic given the replayer's fixed batch
    plan, which tests/test_streaming.py pins).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.tdigest import DEFAULT_DELTA, _cluster, tdigest_quantiles

    def update(key, pdfs, state: GroupState):
        import numpy as np
        import pandas as pd

        if state.exists:
            means, weights, version = state.get
            means = list(means)
            weights = list(weights)
        else:
            means, weights, version = [], [], 0
        new_vals = []
        for pdf in pdfs:
            v = pdf["value"].to_numpy(dtype=np.float64)
            new_vals.append(v[~np.isnan(v)])
        add = np.concatenate(new_vals) if new_vals else np.array([])
        pts = np.concatenate([np.asarray(means, dtype=np.float64), add])
        wts = np.concatenate(
            [np.asarray(weights, dtype=np.float64), np.ones_like(add)]
        )
        order = np.lexsort((wts, pts))
        m2, w2 = _cluster(pts[order], wts[order], DEFAULT_DELTA)
        version += 1
        state.update(([float(x) for x in m2], [float(x) for x in w2], version))
        q = tdigest_quantiles(
            pd.DataFrame({"mean": m2, "weight": w2}), [0.5, 0.95, 0.99]
        )
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "version": [version],
                "n_values": [float(w2.sum())],
                "n_centroids": [len(m2)],
                "p50": [q[0]],
                "p95": [q[1]],
                "p99": [q[2]],
            }
        )

    out_schema = (
        "event_type string, version long, n_values double, "
        "n_centroids long, p50 double, p95 double, p99 double"
    )
    state_schema = "means array<double>, weights array<double>, version long"
    return (
        events.withWatermark("ts", REPLAY_WATERMARK)
        .groupBy("event_type")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
