"""Custom connector via the Spark 4 Python Data Source API.

``DocGenDataSource`` is a deterministic synthetic-document SOURCE — the
engine's demonstration of the public ``pyspark.sql.datasource`` connector
surface (batch read path: ``DataSource`` / ``DataSourceReader`` /
``InputPartition``). Generation is a pure function of ``doc_id`` built
from md5 hex characters, so a SQL oracle can replay every row bit-for-bit
(the same portability trick as the md5 MinHash family).

Scale shape: the reader splits the id range into ``partitions`` input
partitions; each executor generates only its slice — no driver
materialization, no shuffle. A production connector (REST API, Kafka
admin, proprietary store) has exactly this skeleton: plan partitions
driver-side, read each partition executor-side.

Row recipe (mirrored in the DuckDB oracle at plans/relational.py):

- ``n_tokens(i) = 5 + (hexval(md5(str(i) + "|0")[0]) % 10)``
- ``token(i, j) = VOCAB[hexval(md5(str(i) + "|" + str(j))[0])]``
  for ``j`` in ``1..n_tokens`` (16-word VOCAB — one hex char indexes it
  exactly), joined with single spaces.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

#: 16 words so one md5 hex character indexes the vocabulary exactly.
VOCAB: Sequence[str] = (
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf", "hotel",
    "india", "juliet", "kilo", "lima", "mike", "november", "oscar", "papa",
)


def _hexval(s: str) -> int:
    """First hex character of md5(s) as an int in 0..15."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[0], 16)


def doc_text(doc_id: int) -> str:
    """The deterministic text of document ``doc_id`` (shared with tests)."""
    n_tokens = 5 + (_hexval(f"{doc_id}|0") % 10)
    return " ".join(
        VOCAB[_hexval(f"{doc_id}|{j}")] for j in range(1, n_tokens + 1)
    )


class DocGenReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.n = int(options.get("n", 1000))
        self.num_partitions = int(options.get("partitions", 8))

    def partitions(self) -> list[InputPartition]:
        """Driver-side planning only: id ranges, one per input partition."""
        step = max(1, -(-self.n // self.num_partitions))
        return [
            InputPartition((start, min(start + step, self.n)))
            for start in range(0, self.n, step)
        ]

    def read(self, partition: InputPartition) -> Iterator[tuple]:
        start, end = partition.value
        for i in range(start, end):
            yield (i, doc_text(i))


class DocGenDataSource(DataSource):
    """``spark.read.format("docgen").option("n", 500).load()``"""

    @classmethod
    def name(cls) -> str:
        return "docgen"

    def schema(self) -> str:
        return "doc_id bigint, text string"

    def reader(self, schema) -> DocGenReader:
        return DocGenReader(self.options)

    def streamReader(self, schema) -> "DocGenStreamReader":
        return DocGenStreamReader(self.options)


class DocGenStreamReader(DataSourceStreamReader):
    """STREAMING read path of the same connector: explicit offset protocol
    (``initialOffset`` → ``latestOffset`` → ``partitions(start, end)`` →
    executor-side ``read`` → ``commit``). The corpus is static, so
    ``latestOffset`` pins at ``n`` and an availableNow run drains it in one
    planned batch; a live source would instead advance the offset as data
    arrives and Spark would re-plan partitions every micro-batch — the
    per-batch planning hook is exactly what this class exercises. Offsets
    are plain dicts (the API json-serializes them into the checkpoint's
    offset log, which is what makes the stream restartable)."""

    def __init__(self, options: dict) -> None:
        self.n = int(options.get("n", 1000))
        self.num_partitions = int(options.get("partitions", 4))

    def initialOffset(self) -> dict:
        return {"pos": 0}

    def latestOffset(self) -> dict:
        return {"pos": self.n}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        s, e = int(start["pos"]), int(end["pos"])
        if e <= s:
            return [InputPartition((s, s))]
        step = max(1, -(-(e - s) // self.num_partitions))
        return [
            InputPartition((a, min(a + step, e))) for a in range(s, e, step)
        ]

    def read(self, partition: InputPartition) -> Iterator[tuple]:
        start, end = partition.value
        for i in range(start, end):
            yield (i, doc_text(i))

    def commit(self, end: dict) -> None:
        pass  # nothing to release — generation is stateless


def register(spark) -> None:
    """Idempotent registration on a session (re-registering is harmless)."""
    spark.dataSource.register(DocGenDataSource)
    spark.dataSource.register(DocStoreDataSource)


# ---------------------------------------------------------------------------
# DocStoreDataSource — the WRITE half of the connector surface
# ---------------------------------------------------------------------------

class DocstoreConflictError(RuntimeError):
    """A commit planned against a stale manifest version (another writer
    committed in between) — the optimistic-concurrency conflict. The
    store is untouched; re-plan against the current version and retry."""


class _StagedFile(WriterCommitMessage):
    """Per-task commit message: where the task staged its rows, plus the
    optional min/max of the writer's ``stats_field`` — the zone-map entry
    that lets maintenance jobs (DELETE, compaction) prune whole files
    without reading them.

    Must be picklable — plain attributes only."""

    def __init__(self, relpath: str, rows: int, vmin=None, vmax=None) -> None:
        self.relpath = relpath
        self.rows = rows
        self.vmin = vmin
        self.vmax = vmax


class DocStoreWriter(DataSourceWriter):
    """Two-phase-commit JSONL writer (``DataSourceWriter`` protocol).

    Executor side (``write``): each task streams its rows to a
    task-unique staged file ``_staged/<uuid>.jsonl`` and returns a
    :class:`_StagedFile` commit message. Speculative or retried task
    attempts each write their own staged file; at most one attempt's
    message reaches the driver.

    Driver side (``commit``): move exactly the staged files named by the
    collected messages into the store root, then atomically publish
    ``_MANIFEST.json`` (temp file + ``os.replace``) listing the committed
    files, their row counts, and the writer schema. Readers plan from the
    manifest ONLY, so uncommitted/orphaned staged files are invisible —
    that is what makes the protocol exactly-once from the reader's view.
    ``abort`` deletes the staged files and leaves any previous manifest
    untouched (a failed overwrite does not destroy the old version).

    The staging directory here is a filesystem path (shared in local
    mode); a production connector stages to the object store / remote
    service under the same message-passing skeleton — the two-phase
    protocol is the part this class demonstrates.
    """

    def __init__(self, options: dict, schema, overwrite: bool) -> None:
        self.path = options.get("path") or options.get("location")
        if not self.path:
            raise ValueError("docstore: .save(path) is required")
        self.schema_json = schema.json() if schema else ""
        self.field_names = [f.name for f in schema.fields] if schema else []
        self.overwrite = overwrite
        self.fail_partition = int(options.get("fail_partition", -1))
        # Zone-map stats: record min/max of this field per committed file.
        # Stats are what make file-level pruning (DELETE / clustering-aware
        # compaction) possible without reading data — the docstore twin of
        # parquet footer min/max.
        stats_field = options.get("stats_field")
        self.stats_idx = (
            self.field_names.index(stats_field)
            if stats_field and stats_field in self.field_names
            else None
        )
        # Surgical file replacement (append mode only): these prior-manifest
        # files are superseded by this commit's files and deleted after the
        # new manifest publishes. The rewrite primitive under DELETE.
        rf = options.get("replace_files", "")
        self.replace_files = [f for f in rf.split(",") if f]
        if self.replace_files and overwrite:
            raise ValueError("docstore: replace_files requires mode('append')")
        # Time travel (opt-in, per-store): every commit also publishes an
        # immutable versioned snapshot ``_MANIFEST.v{N}.json`` and SKIPS
        # reclaiming superseded data files (older versions still reference
        # them), so a store written with history keeps every version's
        # files. Without the flag, replaced files are deleted at commit
        # (the overwrite-hygiene contract).
        # Optimistic concurrency control (Delta/Iceberg commit-conflict
        # shape, public designs): a read-modify-write cycle (DELETE /
        # MERGE / OPTIMIZE plans against manifest version V, rewrites
        # files, commits) passes the version it PLANNED against; commit
        # compares it to the store's current version under the commit
        # lock and raises DocstoreConflictError on mismatch instead of
        # silently clobbering a concurrent writer's commit (lost update /
        # resurrecting deleted rows). Blind appends omit it and never
        # conflict.
        ev = options.get("expected_version")
        self.expected_version = int(ev) if ev not in (None, "") else None
        self.retain_history = str(options.get("retain_history", "")).lower() in (
            "1", "true", "yes",
        )

    # -- executor side ------------------------------------------------------
    def write(self, iterator):
        import json as _json
        import os as _os
        import uuid as _uuid

        from pyspark import TaskContext

        ctx = TaskContext.get()
        if ctx is not None and ctx.partitionId() == self.fail_partition:
            raise RuntimeError("docstore: injected task failure (test hook)")
        staged = _os.path.join(self.path, "_staged")
        _os.makedirs(staged, exist_ok=True)
        relpath = _os.path.join("_staged", f"{_uuid.uuid4().hex}.jsonl")
        n = 0
        vmin = vmax = None
        with open(_os.path.join(self.path, relpath), "w", encoding="utf-8") as f:
            for row in iterator:
                f.write(_json.dumps(list(row), ensure_ascii=False, default=str))
                f.write("\n")
                n += 1
                if self.stats_idx is not None:
                    v = row[self.stats_idx]
                    if v is not None:
                        vmin = v if vmin is None or v < vmin else vmin
                        vmax = v if vmax is None or v > vmax else vmax
        return _StagedFile(relpath, n, vmin, vmax)

    # -- driver side --------------------------------------------------------
    def _manifest_path(self) -> str:
        import os as _os

        return _os.path.join(self.path, "_MANIFEST.json")

    def commit(self, messages) -> None:
        import json as _json
        import os as _os
        import time as _time

        # Commit mutex: serialize the read-manifest -> publish-manifest
        # critical section across processes (O_EXCL create is atomic on
        # POSIX; object stores use a conditional-put here instead). The
        # lock makes the OCC version comparison below race-free.
        lock = _os.path.join(self.path, "_COMMIT.lock")
        fd = None
        for _ in range(100):
            try:
                fd = _os.open(lock, _os.O_CREAT | _os.O_EXCL | _os.O_WRONLY)
                break
            except FileExistsError:
                _time.sleep(0.1)
        if fd is None:
            raise DocstoreConflictError(
                f"docstore: commit lock {lock} held for >10s — a crashed "
                "committer leaves a stale lock; remove it after verifying "
                "no commit is in flight"
            )
        try:
            _os.write(fd, str(_os.getpid()).encode())
            self._commit_locked(messages)
        finally:
            _os.close(fd)
            try:
                _os.remove(lock)
            except OSError:
                pass

    def _commit_locked(self, messages) -> None:
        import json as _json
        import os as _os

        files = []
        prior = []
        replaced: list[str] = []
        version = 1
        if _os.path.exists(self._manifest_path()):
            with open(self._manifest_path(), encoding="utf-8") as f:
                latest = _json.load(f)
            committed = latest["files"]
            version = int(latest.get("version", 1)) + 1
            if self.overwrite:
                replaced = [e["file"] for e in committed]
            else:
                replace = set(self.replace_files)
                prior = [e for e in committed if e["file"] not in replace]
                replaced = [e["file"] for e in committed if e["file"] in replace]
        if (
            self.expected_version is not None
            and version - 1 != self.expected_version
        ):
            # Stale plan: the files this job read (and the replace_files
            # it computed) describe a superseded version. Clean the
            # staged output and surface the conflict — the store is
            # untouched.
            self.abort(messages)
            raise DocstoreConflictError(
                f"docstore: planned against version {self.expected_version} "
                f"but store is at {version - 1}; re-plan and retry"
            )
        for m in messages:
            if m is None:
                continue
            if m.rows == 0:
                # empty task output — no file to commit (DELETE rewrites
                # that drop every row would otherwise litter empty files)
                try:
                    _os.remove(_os.path.join(self.path, m.relpath))
                except OSError:
                    pass
                continue
            final = _os.path.basename(m.relpath)
            _os.replace(
                _os.path.join(self.path, m.relpath),
                _os.path.join(self.path, final),
            )
            entry = {"file": final, "rows": m.rows}
            if getattr(m, "vmin", None) is not None:
                entry["min"], entry["max"] = m.vmin, m.vmax
            files.append(entry)
        manifest = {"schema": self.schema_json, "fields": self.field_names,
                    "files": prior + files, "version": version}
        if self.retain_history:
            # Versioned snapshot FIRST (tmp + replace, atomic): once the
            # latest pointer below lands, version N is already readable.
            vtmp = self._manifest_path() + f".v{version}.tmp"
            with open(vtmp, "w", encoding="utf-8") as f:
                _json.dump(manifest, f)
            _os.replace(
                vtmp, _os.path.join(self.path, f"_MANIFEST.v{version}.json")
            )
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            _json.dump(manifest, f)
        _os.replace(tmp, self._manifest_path())  # atomic publish
        # Overwrite hygiene: files listed only in the PRIOR manifest are
        # unreachable the instant the new manifest publishes (readers plan
        # from the manifest, never the directory), so delete them — without
        # this every overwrite (and q_s6's OPTIMIZE compaction, which is an
        # overwrite) orphans its predecessors on disk forever. Staged names
        # are uuid4, so a new file can never collide with a prior one.
        # EXCEPT under retain_history: superseded files stay readable
        # through older manifest versions.
        if not self.retain_history:
            keep = {e["file"] for e in files}
            for name in replaced:
                if name in keep:
                    continue
                try:
                    _os.remove(_os.path.join(self.path, name))
                except OSError:
                    pass  # already gone — deletion is best-effort hygiene
        self._sweep_staged()

    def abort(self, messages) -> None:
        import os as _os

        for m in messages:
            if m is None:
                continue
            try:
                _os.remove(_os.path.join(self.path, m.relpath))
            except OSError:
                pass  # staged file never materialized — nothing to clean
        self._sweep_staged()

    def _sweep_staged(self) -> None:
        """Drain _staged/ after the job's outcome is decided: files left
        behind belong to task attempts that produced no commit message —
        speculative duplicates, or attempts KILLED mid-write when a sibling
        task failed the job (those never reach the driver's message list,
        so per-message cleanup cannot see them). Readers plan from the
        manifest and never observe staged files, so orphans are invisible
        rather than incorrect — the sweep is hygiene. Safe under the
        connector's single-writer-per-store contract (one batch job or one
        streaming query owns a store; Spark serializes a query's jobs and a
        stream's micro-batches)."""
        import os as _os

        staged = _os.path.join(self.path, "_staged")
        try:
            for f in _os.listdir(staged):
                try:
                    _os.remove(_os.path.join(staged, f))
                except OSError:
                    pass
        except OSError:
            pass  # staging dir never created — no task wrote anything


class DocStoreReader(DataSourceReader):
    """Manifest-planned read path: one input partition per committed file
    (executors never list the directory, so orphaned staged files and
    half-written data are unreachable by construction)."""

    def __init__(self, options: dict) -> None:
        import json as _json
        import os as _os

        self.path = options.get("path") or options.get("location")
        if not self.path:
            raise ValueError("docstore: .load(path) is required")
        # Time travel: .option("version", N) plans from the immutable
        # snapshot manifest instead of the latest pointer. Versions exist
        # only for stores written with retain_history.
        version = options.get("version")
        name = f"_MANIFEST.v{int(version)}.json" if version else "_MANIFEST.json"
        try:
            with open(_os.path.join(self.path, name), encoding="utf-8") as f:
                self.manifest = _json.load(f)
        except FileNotFoundError:
            if version:
                raise ValueError(
                    f"docstore: version {version} not found (never written "
                    "with retain_history)"
                ) from None
            raise
        # Optional manifest-subset read: plan partitions for ONLY the named
        # committed files. Maintenance jobs (DELETE) use this so file-level
        # zone-map pruning actually prunes the SCAN, not just the rewrite.
        subset = options.get("files", "")
        self.file_subset = {f for f in subset.split(",") if f} or None

    def partitions(self) -> list[InputPartition]:
        entries = self.manifest["files"]
        if self.file_subset is not None:
            unknown = self.file_subset - {e["file"] for e in entries}
            if unknown:
                raise ValueError(f"docstore: files not in manifest: {sorted(unknown)}")
            entries = [e for e in entries if e["file"] in self.file_subset]
        return [InputPartition(e["file"]) for e in entries]

    def read(self, partition: InputPartition) -> Iterator[tuple]:
        import json as _json
        import os as _os

        with open(_os.path.join(self.path, partition.value), encoding="utf-8") as f:
            for line in f:
                yield tuple(_json.loads(line))


def docstore_delete(spark, store: str, field: str, lo, hi) -> dict:
    """Surgical DELETE on a docstore: remove rows with ``lo <= field <= hi``
    by rewriting ONLY the committed files whose zone-map ``[min, max]``
    intersects the predicate range — untouched files keep their names and
    bytes. Files without stats are rewritten conservatively (correct,
    just unpruned). The rewrite goes through the normal two-phase commit
    with ``replace_files``, so a crash mid-delete leaves the old manifest
    serving the old version (delete is atomic-or-nothing), and the
    replaced files are reclaimed after the new manifest publishes.

    This is the lakehouse DELETE shape (Delta/Iceberg rewrite-with-stats,
    public designs): predicate → file pruning by footer/zone stats →
    rewrite the touched subset → swap metadata. Returns the pruning
    decision (``touched``/``untouched`` file lists) so callers and tests
    can assert the scan actually pruned.
    """
    import json as _json
    import os as _os

    from pyspark.sql import functions as _F

    with open(_os.path.join(store, "_MANIFEST.json"), encoding="utf-8") as f:
        latest = _json.load(f)
    entries = latest["files"]
    planned_version = int(latest.get("version", 1))

    def _touched(e: dict) -> bool:
        if "min" not in e or "max" not in e:
            return True  # no stats recorded — cannot prove it misses
        return not (e["max"] < lo or e["min"] > hi)

    hit = [e["file"] for e in entries if _touched(e)]
    miss = [e["file"] for e in entries if not _touched(e)]
    if hit:
        kept = (
            spark.read.format("docstore")
            .option("files", ",".join(hit))
            .load(store)
            .filter(~_F.col(field).between(lo, hi))
        )
        (
            kept.write.format("docstore")
            .mode("append")
            .option("replace_files", ",".join(hit))
            .option("stats_field", field)
            # OCC: this rewrite planned against planned_version; commit
            # refuses (DocstoreConflictError) if another writer landed
            # in between — a stale rewrite would resurrect its rows.
            .option("expected_version", str(planned_version))
            .save(store)
        )
    return {"touched": hit, "untouched": miss}


def docstore_merge(
    spark, store: str, key_field: str, source_df, delete_df=None
) -> dict:
    """MERGE INTO the docstore: rows of ``source_df`` whose ``key_field``
    matches an existing row REPLACE it (WHEN MATCHED THEN UPDATE);
    unmatched source rows are inserted (WHEN NOT MATCHED THEN INSERT);
    keys in ``delete_df`` (a one-column keys frame, optional) are removed
    (WHEN MATCHED THEN DELETE) — the full three-action Delta/Iceberg
    MERGE surface (public designs), file-pruned by zone maps: only
    committed files whose ``[min, max]`` key range intersects the
    combined source+delete key range can contain a match, so ONLY those
    files are rewritten — untouched files keep their names and bytes.
    The rewrite (surviving target rows + ALL source rows) publishes in a
    SINGLE ``replace_files`` two-phase commit, so the merge is
    atomic-or-nothing exactly like DELETE.

    Correctness of the pruning: a matched (updated or deleted) key must
    exist in both a target file and the source/delete set; a file whose
    zone range is disjoint from their combined [lo, hi] cannot hold any
    such key, hence no match and no insert collision — inserts land in
    the rewritten file set.

    Returns the decision (``touched``/``untouched`` files and the
    update/insert/delete split) so callers and tests can assert pruning
    and action counts. Single-writer contract as elsewhere in the store.
    """
    import json as _json
    import os as _os

    from pyspark.sql import functions as _F

    keys = source_df.select(_F.col(key_field).alias("__k"))
    if delete_df is not None:
        keys = keys.unionByName(
            delete_df.select(_F.col(delete_df.columns[0]).alias("__k"))
        )
    bounds = keys.agg(_F.min("__k").alias("lo"), _F.max("__k").alias("hi")).first()
    lo, hi = bounds["lo"], bounds["hi"]
    if lo is None:  # empty source + deletes: MERGE is a no-op
        return {
            "touched": [], "untouched": [],
            "n_updates": 0, "n_inserts": 0, "n_deletes": 0,
        }

    with open(_os.path.join(store, "_MANIFEST.json"), encoding="utf-8") as f:
        latest = _json.load(f)
    entries = latest["files"]
    planned_version = int(latest.get("version", 1))

    def _touched(e: dict) -> bool:
        if "min" not in e or "max" not in e:
            return True  # no stats — cannot prove it misses
        return not (e["max"] < lo or e["min"] > hi)

    hit = [e["file"] for e in entries if _touched(e)]
    miss = [e["file"] for e in entries if not _touched(e)]
    src_cols = [f.name for f in source_df.schema.fields]
    n_deletes = 0
    if hit:
        tgt = (
            spark.read.format("docstore")
            .option("files", ",".join(hit))
            .load(store)
            .select(*src_cols)
        )
        n_tgt = tgt.count()
        if delete_df is not None:
            keep = tgt.join(
                delete_df.select(
                    _F.col(delete_df.columns[0]).alias(key_field)
                ),
                key_field,
                "left_anti",
            )
            n_deletes = n_tgt - keep.count()
        else:
            keep = tgt
        survivors = keep.join(source_df.select(key_field), key_field, "left_anti")
        n_updates = (n_tgt - n_deletes) - survivors.count()
        merged = survivors.unionByName(source_df)
    else:
        n_updates = 0
        merged = source_df
    n_inserts = source_df.count() - n_updates
    writer = (
        merged.write.format("docstore")
        .mode("append")
        .option("stats_field", key_field)
    )
    if hit:
        writer = writer.option("replace_files", ",".join(hit))
    # OCC (see docstore_delete): MERGE is read-modify-write; refuse to
    # publish over a version it did not plan against.
    writer = writer.option("expected_version", str(planned_version))
    writer.save(store)
    return {
        "touched": hit,
        "untouched": miss,
        "n_updates": n_updates,
        "n_inserts": n_inserts,
        "n_deletes": n_deletes,
    }


class DocStoreDataSource(DataSource):
    """``df.write.format("docstore").mode(...).save(path)`` /
    ``spark.read.format("docstore").load(path)`` — the engine's custom
    connector SINK (plus its read-back), completing the Python Data Source
    surface next to :class:`DocGenDataSource`'s batch+stream read."""

    @classmethod
    def name(cls) -> str:
        return "docstore"

    def schema(self):
        # Read-back schema comes from what the writer committed.
        import json as _json
        import os as _os

        from pyspark.sql.types import StructType

        path = self.options.get("path") or self.options.get("location")
        with open(_os.path.join(path, "_MANIFEST.json"), encoding="utf-8") as f:
            return StructType.fromJson(_json.loads(_json.load(f)["schema"]))

    def reader(self, schema) -> DocStoreReader:
        return DocStoreReader(self.options)

    def writer(self, schema, overwrite: bool) -> DocStoreWriter:
        return DocStoreWriter(self.options, schema, overwrite)

    def streamWriter(self, schema, overwrite: bool) -> "DocStoreStreamWriter":
        return DocStoreStreamWriter(self.options, schema, overwrite)


class DocStoreStreamWriter(DocStoreWriter, DataSourceStreamWriter):
    """STREAMING write path of the docstore connector — per-micro-batch
    two-phase commit with IDEMPOTENT replay handling, which is what makes
    the sink exactly-once end-to-end:

    Spark's streaming engine may re-run a micro-batch after a failure (the
    offset log says batch N started; the sink must decide whether its
    effects already happened). The manifest records every committed
    ``batchId``; a ``commit`` for an already-recorded batch DISCARDS the
    re-staged files instead of double-appending — replayed batches become
    no-ops, so "at-least-once delivery + idempotent commit = exactly-once
    storage" (the standard streaming-sink contract).

    Executor-side ``write`` is inherited from the batch writer (same
    staged-file protocol); only the driver-side commit policy differs.
    """

    def commit(self, messages, batchId: int) -> None:  # noqa: N803 (API name)
        import json as _json
        import os as _os

        prior_files, batches = [], []
        if _os.path.exists(self._manifest_path()):
            with open(self._manifest_path(), encoding="utf-8") as f:
                m = _json.load(f)
            prior_files, batches = m["files"], m.get("batches", [])
        if batchId in batches:  # replayed batch — effects already committed
            self.abort(messages, batchId)
            return
        files = []
        for msg in messages:
            if msg is None:
                continue
            final = _os.path.basename(msg.relpath)
            _os.replace(
                _os.path.join(self.path, msg.relpath),
                _os.path.join(self.path, final),
            )
            files.append({"file": final, "rows": msg.rows, "batch": batchId})
        manifest = {
            "schema": self.schema_json,
            "fields": self.field_names,
            "files": prior_files + files,
            "batches": batches + [batchId],
        }
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            _json.dump(manifest, f)
        _os.replace(tmp, self._manifest_path())

    def abort(self, messages, batchId: int) -> None:  # noqa: N803 (API name)
        DocStoreWriter.abort(self, messages)
