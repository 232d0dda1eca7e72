"""Source/sink coverage (SURVEY §2.A.1): the events nanos-timestamp
conversion, scan spreading, the Python data source and the docstore
commit protocol."""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import tempfile

import pytest

from pyspark_mllib_twitter_spark.sources import read_table


def test_events_ts_is_timestamp(spark, sf_smoke):
    """``events.ts`` must surface as a wall-clock timestamp type whatever the
    file's physical encoding: native ``timestamp_ntz`` for TIMESTAMP(MICROS)
    fixtures, converted ``timestamp`` for legacy TIMESTAMP(NANOS)-as-long
    files (PARQUET_TYPE_ILLEGAL regression guard + truncation semantics)."""
    ev = read_table(spark, sf_smoke, "events")
    assert dict(ev.dtypes)["ts"] in ("timestamp", "timestamp_ntz")
    import pyarrow.parquet as pq

    raw = pq.read_table(os.path.join(sf_smoke, "events.parquet"), columns=["event_id", "ts"])
    want = {}
    for e, t in zip(raw["event_id"], raw["ts"]):
        v = t.as_py()
        if hasattr(v, "nanosecond"):  # pandas Timestamp (nanos file) → micros
            v = v.replace(nanosecond=0, tzinfo=None).to_pydatetime()
        want[e.as_py()] = v
    got = {r.event_id: r.ts for r in ev.select("event_id", "ts").collect()}
    sample = list(want)[:50]
    for k in sample:
        assert got[k] == want[k], (k, got[k], want[k])


def _leaf(df) -> str:
    plan = df._jdf.queryExecution().analyzed()
    while plan.children().size() > 0:
        plan = plan.children().head()
    return plan.nodeName()


@pytest.mark.parametrize(
    "rows, ddl",
    [
        # every column type the package's driver-side lists use, with nulls
        (
            [(1, 2**40, "a", 0.1, [1.5, -0.0]), (None, None, None, None, None)],
            "a int, b bigint, c string, d double, e array<double>",
        ),
        ([(0, None), (3, 7)], "_pid int, _prior int"),
        ([], "id_col string, _pid int, _offset long"),
    ],
)
def test_local_frame_round_trips_as_a_local_relation(spark, rows, ddl):
    """``local_frame`` gives the rows and schema ``createDataFrame`` gives
    for the same list, nulls and empty ``rows`` included, from a JVM
    ``LocalRelation`` instead of a Python RDD."""
    from pyspark_mllib_twitter_spark.sources import local_frame

    got = local_frame(spark, rows, ddl)
    want = spark.createDataFrame(rows, ddl)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    assert _leaf(got) == "LocalRelation"
    assert _leaf(want) == "LogicalRDD"


def test_local_frame_takes_numpy_arrays(spark):
    """Centroid lists arrive as numpy arrays; they land as ``array<double>``."""
    import numpy as np

    from pyspark_mllib_twitter_spark.sources import local_frame

    df = local_frame(spark, [(0, np.array([0.5, 0.25]))], "c int, v array<double>")
    assert df.collect()[0].v == [0.5, 0.25]


def test_package_builds_driver_rows_with_local_frame():
    """AST scan: ``createDataFrame(`` appears in the package only inside
    ``local_frame``."""
    import ast
    from pathlib import Path

    package = Path(__file__).resolve().parents[1] / "pyspark_mllib_twitter_spark"
    allowed = {("sources/io.py", "local_frame")}
    found = set()
    for path in sorted(package.rglob("*.py")):
        tree = ast.parse(path.read_text())
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for node in ast.walk(fn):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "createDataFrame"
                ):
                    found.add((path.relative_to(package).as_posix(), fn.name))
    assert found == allowed


def test_spread_is_noop_when_already_parallel(spark, sf_smoke):
    """spread() must add an exchange only for under-partitioned scans: an
    input already at session parallelism passes through unchanged (at
    warehouse scale the scan splits naturally and a forced repartition
    would shuffle the whole corpus for nothing)."""
    from pyspark_mllib_twitter_spark.sources import spread

    one = read_table(spark, sf_smoke, "documents")
    assert one.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    widened = spread(one)
    assert widened.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    already = one.repartition(spark.sparkContext.defaultParallelism)
    assert spread(already) is already  # no second exchange


def test_register_views_reads_only_the_tables_the_sql_names(spark, sf_smoke, monkeypatch):
    """Each table read runs a job, so ``register_views`` reads only the
    fixture tables named as words in the text (``n_orders`` is not
    ``orders``), and those resolve in ``spark.sql``."""
    from pyspark.sql import DataFrameReader

    from pyspark_mllib_twitter_spark.sources import register_views

    reads = []
    real = DataFrameReader.parquet

    def counting(self, *paths, **options):
        reads.extend(paths)
        return real(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", counting)
    sql = (
        "SELECT count(*) AS n_orders FROM orders "
        "JOIN lineitem ON o_orderkey = l_orderkey"
    )
    register_views(spark, sf_smoke, sql)
    assert sorted(os.path.basename(p) for p in reads) == [
        "lineitem.parquet",
        "orders.parquet",
    ]
    assert spark.sql(sql).first().n_orders > 0


_STORE_CHILD = """
import json, glob, os, sys
from pyspark import SparkFiles
from pyspark.sql import SparkSession
from pyspark_mllib_twitter_spark.plans import REGISTRY
spark = (SparkSession.builder.master("local[2]")
         .config("spark.driver.memory", "1g").getOrCreate())
for name in ("q_s4_pysink_roundtrip", "q_s6_docstore_compact"):
    REGISTRY[name].spark(spark, sys.argv[1]).collect()
root = SparkFiles.getRootDirectory()
stores = glob.glob(os.path.join(root, "spark_graft_*"))
spark.stop()
print(json.dumps({"stores": stores,
                  "left": [p for p in stores if os.path.exists(p)]}))
"""


def test_docstore_stores_are_deleted_when_the_session_stops(sf_smoke):
    """The connector recipes write their stores under Spark's per-application
    ``userFiles`` dir: a fresh session that runs two of them and stops
    leaves no ``spark_graft_*`` dir in the temp dir, nor the stores it
    wrote."""
    tmp = tempfile.gettempdir()
    before = set(glob.glob(os.path.join(tmp, "spark_graft_*")))
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(filter(None, [repo, os.environ.get("PYTHONPATH")])))
    out = subprocess.run(
        [sys.executable, "-c", _STORE_CHILD, sf_smoke],
        env=env, capture_output=True, text=True, timeout=600, check=True,
    )
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(glob.glob(os.path.join(tmp, "spark_graft_*"))) == before
    assert len(res["stores"]) == 2 and res["left"] == []


def test_python_datasource_partitions_and_determinism(spark):
    """Spark 4 Python Data Source connector (sources/pydatasource.py): the
    reader plans ceil(n/partitions) id-range input partitions (generation is
    executor-parallel, not a driver loop), rows equal the shared pure
    function doc_text() exactly, and re-reading is bit-identical."""
    from pyspark_mllib_twitter_spark.sources.pydatasource import (
        DocGenReader,
        doc_text,
        register,
    )

    register(spark)
    df = (
        spark.read.format("docgen")
        .option("n", 64)
        .option("partitions", 8)
        .load()
    )
    assert df.rdd.getNumPartitions() == 8
    rows = {r.doc_id: r.text for r in df.collect()}
    assert len(rows) == 64
    for i in (0, 7, 33, 63):
        assert rows[i] == doc_text(i)
    again = {
        r.doc_id: r.text
        for r in spark.read.format("docgen").option("n", 64).load().collect()
    }
    assert again == rows
    # uneven split covers the whole range without overlap
    parts = DocGenReader({"n": 10, "partitions": 3}).partitions()
    spans = sorted(p.value for p in parts)
    assert spans[0][0] == 0 and spans[-1][1] == 10
    assert all(a[1] == b[0] for a, b in zip(spans, spans[1:]))


def test_docstore_write_commit_protocol(spark, tmp_path):
    """DataSourceWriter two-phase commit (sources/pydatasource.py,
    DocStoreWriter): committed data round-trips exactly; append extends the
    manifest; a failed job ABORTS cleanly — staged files are removed and
    the previously committed manifest keeps serving the old version."""
    import json
    import os

    from pyspark_mllib_twitter_spark.sources.pydatasource import register

    register(spark)
    store = str(tmp_path / "store")
    df = spark.range(100).selectExpr(
        "id AS doc_id", "concat('text-', id, ' éß') AS text"
    )
    df.repartition(4).write.format("docstore").mode("overwrite").save(store)

    manifest = json.load(open(os.path.join(store, "_MANIFEST.json")))
    assert sum(e["rows"] for e in manifest["files"]) == 100
    back = spark.read.format("docstore").load(store)
    assert back.rdd.getNumPartitions() == len(manifest["files"])
    assert {(r.doc_id, r.text) for r in back.collect()} == {
        (r.doc_id, r.text) for r in df.collect()
    }

    # append mode extends rather than replaces
    spark.range(100, 150).selectExpr(
        "id AS doc_id", "concat('text-', id, ' éß') AS text"
    ).write.format("docstore").mode("append").save(store)
    assert spark.read.format("docstore").load(store).count() == 150

    # abort path: injected task failure -> job fails, staged dir drained,
    # manifest still serves the 150 committed rows
    try:
        df.repartition(4).write.format("docstore").mode("overwrite").option(
            "fail_partition", 2
        ).save(store)
        raise AssertionError("injected failure did not propagate")
    except Exception as e:
        assert "injected task failure" in str(e) or "RuntimeError" in str(e)
    staged = os.listdir(os.path.join(store, "_staged"))
    assert staged == [], f"orphaned staged files not aborted: {staged}"
    assert spark.read.format("docstore").load(store).count() == 150


def test_docstore_stream_commit_is_batch_idempotent(spark, tmp_path):
    """DataSourceStreamWriter replay contract: committing the same batchId
    twice must not double-append — the second commit discards its staged
    files (at-least-once delivery + idempotent commit = exactly-once
    storage)."""
    import json
    import os

    from pyspark.sql.types import StructType
    from pyspark_mllib_twitter_spark.sources.pydatasource import (
        DocStoreStreamWriter,
        _StagedFile,
    )

    store = str(tmp_path / "s")
    os.makedirs(os.path.join(store, "_staged"))
    schema = StructType.fromDDL("doc_id bigint")
    w = DocStoreStreamWriter({"path": store}, schema, overwrite=False)

    def stage(name, rows):
        rel = os.path.join("_staged", name)
        with open(os.path.join(store, rel), "w") as f:
            for i in range(rows):
                f.write(f"[{i}]\n")
        return _StagedFile(rel, rows)

    w.commit([stage("a.jsonl", 3)], batchId=0)
    w.commit([stage("b.jsonl", 2)], batchId=1)
    # replay of batch 1 after a simulated failure: must be a no-op
    w.commit([stage("c.jsonl", 2)], batchId=1)
    m = json.load(open(os.path.join(store, "_MANIFEST.json")))
    assert m["batches"] == [0, 1]
    assert sum(e["rows"] for e in m["files"]) == 5
    assert os.listdir(os.path.join(store, "_staged")) == []  # replay drained


def test_docstore_overwrite_reclaims_prior_files(spark, tmp_path):
    """Overwrite hygiene (round-6 verdict #5 / advice): publishing an
    overwrite manifest must DELETE the files the prior manifest listed —
    they are unreachable by construction (readers plan from the manifest)
    and would otherwise orphan on disk forever, growing the store with
    every overwrite and defeating q_s6's OPTIMIZE space reclaim."""
    import json
    import os

    from pyspark_mllib_twitter_spark.sources.pydatasource import register

    register(spark)
    store = str(tmp_path / "ow")
    df = spark.range(200).selectExpr("id AS doc_id", "concat('t', id) AS text")
    df.repartition(8).write.format("docstore").mode("overwrite").save(store)
    df.repartition(3).write.format("docstore").mode("overwrite").save(store)
    df.repartition(2).write.format("docstore").mode("overwrite").save(store)

    manifest = json.load(open(os.path.join(store, "_MANIFEST.json")))
    listed = {e["file"] for e in manifest["files"]}
    assert len(listed) == 2
    on_disk = {
        f for f in os.listdir(store) if f not in ("_MANIFEST.json", "_staged")
    }
    assert on_disk == listed, f"orphaned files not reclaimed: {on_disk - listed}"
    assert spark.read.format("docstore").load(store).count() == 200


def test_docstore_delete_prunes_by_zone_map(spark, tmp_path):
    """DELETE contract: with range-partitioned files and stats_field
    zone-maps, docstore_delete must (a) rewrite ONLY the files whose
    [min, max] intersects the predicate — untouched files keep their
    exact names, (b) delete exactly the in-range rows, (c) reclaim the
    replaced files so the store holds only manifest-listed files, and
    (d) record fresh stats on the rewritten files."""
    import json
    import os

    from pyspark_mllib_twitter_spark.sources.pydatasource import (
        docstore_delete,
        register,
    )

    register(spark)
    store = str(tmp_path / "del")
    df = spark.range(400).selectExpr("id AS doc_id", "concat('t', id) AS text")
    (
        df.repartitionByRange(8, "doc_id")
        .sortWithinPartitions("doc_id")
        .write.format("docstore")
        .mode("overwrite")
        .option("stats_field", "doc_id")
        .save(store)
    )
    m1 = json.load(open(os.path.join(store, "_MANIFEST.json")))
    assert all("min" in e and "max" in e for e in m1["files"])
    before = {e["file"]: (e["min"], e["max"]) for e in m1["files"]}

    res = docstore_delete(spark, store, "doc_id", 100, 149)
    expect_touch = {f for f, (lo, hi) in before.items() if not (hi < 100 or lo > 149)}
    assert set(res["touched"]) == expect_touch
    assert 0 < len(expect_touch) < len(before), "pruning must be non-trivial"

    m2 = json.load(open(os.path.join(store, "_MANIFEST.json")))
    after = {e["file"] for e in m2["files"]}
    # untouched files keep their identity; touched ones are gone
    assert set(res["untouched"]) <= after
    assert not (expect_touch & after)
    assert all("min" in e and "max" in e for e in m2["files"])
    # content: exactly the out-of-range rows survive
    back = spark.read.format("docstore").load(store)
    ids = sorted(r.doc_id for r in back.collect())
    assert ids == [i for i in range(400) if not (100 <= i <= 149)]
    # disk holds only manifest-listed files (+ manifest, + empty staging)
    on_disk = {
        f for f in os.listdir(store) if f not in ("_MANIFEST.json", "_staged")
    }
    assert on_disk == after
    # a delete that misses every file is a metadata-only no-op
    m_before = os.path.getmtime(os.path.join(store, "_MANIFEST.json"))
    res2 = docstore_delete(spark, store, "doc_id", 10_000, 20_000)
    assert res2["touched"] == []
    assert os.path.getmtime(os.path.join(store, "_MANIFEST.json")) == m_before


def test_docstore_compaction_collapses_files(spark, tmp_path):
    """OPTIMIZE contract: compaction reduces committed file count without
    changing content, and the manifest swap is atomic (the store is never
    manifest-less mid-compact)."""
    import json
    import os

    from pyspark_mllib_twitter_spark.sources.pydatasource import register

    register(spark)
    store = str(tmp_path / "c")
    df = spark.range(500).selectExpr("id AS doc_id", "concat('t', id) AS text")
    df.repartition(16).write.format("docstore").mode("overwrite").save(store)
    m1 = json.load(open(os.path.join(store, "_MANIFEST.json")))
    assert len(m1["files"]) == 16
    spark.read.format("docstore").load(store).coalesce(2).write.format(
        "docstore"
    ).mode("overwrite").save(store)
    m2 = json.load(open(os.path.join(store, "_MANIFEST.json")))
    assert len(m2["files"]) == 2
    back = spark.read.format("docstore").load(store)
    assert {(r.doc_id, r.text) for r in back.collect()} == {
        (r.doc_id, r.text) for r in df.collect()
    }


def test_docstore_time_travel(spark, tmp_path):
    """Time-travel contract: with retain_history every commit publishes an
    immutable versioned manifest; old versions stay readable (data files
    pinned) after later overwrites, and a version never written fails
    loudly."""
    import json
    import os

    from pyspark_mllib_twitter_spark.sources.pydatasource import register

    register(spark)
    store = str(tmp_path / "tt")

    def write(lo, hi, mode):
        (
            spark.range(lo, hi)
            .selectExpr("id AS doc_id", "concat('t', id) AS text")
            .repartition(2)
            .write.format("docstore")
            .mode(mode)
            .option("retain_history", "true")
            .save(store)
        )

    write(0, 100, "overwrite")    # v1
    write(100, 150, "overwrite")  # v2
    write(150, 170, "append")     # v3 = v2 + append

    def ids(version=None):
        r = spark.read.format("docstore")
        if version is not None:
            r = r.option("version", version)
        return sorted(x.doc_id for x in r.load(store).collect())

    # snapshot isolation: v1 unchanged after two later commits
    assert ids(1) == list(range(0, 100))
    assert ids(2) == list(range(100, 150))
    assert ids(3) == list(range(100, 170))
    assert ids() == ids(3)  # latest pointer == newest version

    # history pins superseded files: v1's files still on disk
    v1_files = {
        e["file"]
        for e in json.load(open(os.path.join(store, "_MANIFEST.v1.json")))["files"]
    }
    assert v1_files <= set(os.listdir(store))

    # a version that was never written fails loudly, not silently-empty
    with pytest.raises(Exception, match="version 4"):
        ids(4)


def test_docstore_merge_upserts_with_zone_pruning(spark, tmp_path):
    """MERGE contract: (a) only files whose zone range intersects the
    source's [min, max] are rewritten — untouched files keep their exact
    names; (b) matched keys are REPLACED, unmatched source keys are
    INSERTED, everything else survives byte-for-byte; (c) the action
    split (n_updates / n_inserts) is reported exactly; (d) the whole
    merge is ONE commit (replaced files reclaimed, inserts land in the
    rewritten set); (e) an empty source is a no-op."""
    import json
    import os

    from pyspark_mllib_twitter_spark.sources.pydatasource import (
        docstore_merge,
        register,
    )

    register(spark)
    store = str(tmp_path / "mrg")
    df = spark.range(400).selectExpr("id AS doc_id", "concat('t', id) AS text")
    (
        df.repartitionByRange(8, "doc_id")
        .sortWithinPartitions("doc_id")
        .write.format("docstore")
        .mode("overwrite")
        .option("stats_field", "doc_id")
        .save(store)
    )
    m1 = json.load(open(os.path.join(store, "_MANIFEST.json")))
    before = {e["file"]: (e["min"], e["max"]) for e in m1["files"]}

    # source: update ids 100..119 (new text), insert ids 400..409
    src = spark.range(100, 120).selectExpr(
        "id AS doc_id", "concat('UPD', id) AS text"
    ).unionByName(
        spark.range(400, 410).selectExpr("id AS doc_id", "concat('NEW', id) AS text")
    )
    res = docstore_merge(spark, store, "doc_id", src)
    assert res["n_updates"] == 20 and res["n_inserts"] == 10
    expect_touch = {
        f for f, (lo, hi) in before.items() if not (hi < 100 or lo > 409)
    }
    assert set(res["touched"]) == expect_touch
    assert 0 < len(expect_touch) < len(before), "pruning must be non-trivial"

    m2 = json.load(open(os.path.join(store, "_MANIFEST.json")))
    after = {e["file"] for e in m2["files"]}
    assert set(res["untouched"]) <= after
    assert not (expect_touch & after)

    back = {r.doc_id: r.text for r in
            spark.read.format("docstore").load(store).collect()}
    assert len(back) == 410
    for i in range(400):
        assert back[i] == (f"UPD{i}" if 100 <= i < 120 else f"t{i}")
    for i in range(400, 410):
        assert back[i] == f"NEW{i}"

    # empty source: metadata-only no-op
    empty = spark.range(0).selectExpr("id AS doc_id", "concat('x', id) AS text")
    res2 = docstore_merge(spark, store, "doc_id", empty)
    assert res2 == {"touched": [], "untouched": [], "n_updates": 0,
                    "n_inserts": 0, "n_deletes": 0}
    m3 = json.load(open(os.path.join(store, "_MANIFEST.json")))
    assert {e["file"] for e in m3["files"]} == after


def test_docstore_merge_delete_action(spark, tmp_path):
    """Three-action MERGE: deletes remove matched keys, updates replace,
    inserts land — all in one commit; action counts exact; a key in both
    delete_df and source_df ends up with the SOURCE row (delete applies
    to the target before the upsert union)."""
    from pyspark_mllib_twitter_spark.sources.pydatasource import (
        docstore_merge,
        register,
    )

    register(spark)
    store = str(tmp_path / "mrg3")
    df = spark.range(100).selectExpr("id AS doc_id", "concat('t', id) AS text")
    (
        df.repartitionByRange(4, "doc_id")
        .sortWithinPartitions("doc_id")
        .write.format("docstore")
        .mode("overwrite")
        .option("stats_field", "doc_id")
        .save(store)
    )
    src = spark.range(10, 20).selectExpr(
        "id AS doc_id", "concat('UPD', id) AS text"
    )
    dels = spark.range(50, 60).selectExpr("id AS doc_id").unionByName(
        spark.range(10, 12).selectExpr("id AS doc_id")  # overlap with source
    )
    res = docstore_merge(spark, store, "doc_id", src, delete_df=dels)
    assert res["n_deletes"] == 12
    assert res["n_updates"] == 8  # 10..19 minus the 2 already deleted
    assert res["n_inserts"] == 2  # the delete-then-upsert pair re-inserts
    back = {r.doc_id: r.text for r in
            spark.read.format("docstore").load(store).collect()}
    assert len(back) == 100 - 10  # 10 pure deletes
    for i in range(100):
        if 50 <= i < 60:
            assert i not in back
        elif 10 <= i < 20:
            assert back[i] == f"UPD{i}"
        else:
            assert back[i] == f"t{i}"


def test_docstore_occ_conflict_and_lock_hygiene(spark, tmp_path):
    """Optimistic concurrency: a commit that planned against a stale
    manifest version must raise, leave the store byte-identical, clean
    its staged output, and release the commit lock; a correctly-versioned
    commit and a blind append must still pass."""
    import json
    import os

    import pytest

    from pyspark_mllib_twitter_spark.sources.pydatasource import register

    register(spark)
    store = str(tmp_path / "occ_store")
    df = spark.range(100).selectExpr("id AS doc_id", "CAST(id AS STRING) AS text")
    df.write.format("docstore").mode("overwrite").save(store)

    def manifest():
        with open(os.path.join(store, "_MANIFEST.json")) as f:
            return json.load(f)

    assert manifest()["version"] == 1

    # Correct expectation: passes, bumps version.
    more = spark.range(100, 150).selectExpr(
        "id AS doc_id", "CAST(id AS STRING) AS text"
    )
    more.write.format("docstore").mode("append").option(
        "expected_version", "1"
    ).save(store)
    assert manifest()["version"] == 2
    before = manifest()

    # Stale expectation (still claims version 1): must conflict.
    with pytest.raises(Exception, match="planned against version 1"):
        spark.range(150, 160).selectExpr(
            "id AS doc_id", "CAST(id AS STRING) AS text"
        ).write.format("docstore").mode("append").option(
            "expected_version", "1"
        ).save(store)

    # Store untouched: same manifest, same readable rows, lock released,
    # and the conflicting job's staged files are gone.
    assert manifest() == before
    assert spark.read.format("docstore").load(store).count() == 150
    assert not os.path.exists(os.path.join(store, "_COMMIT.lock"))
    staged = os.path.join(store, "_staged")
    assert not os.path.isdir(staged) or os.listdir(staged) == []

    # Blind append (no expectation) never conflicts.
    spark.range(150, 170).selectExpr(
        "id AS doc_id", "CAST(id AS STRING) AS text"
    ).write.format("docstore").mode("append").save(store)
    assert manifest()["version"] == 3
    assert spark.read.format("docstore").load(store).count() == 170


def test_docstore_merge_carries_planned_version(spark, tmp_path):
    """The read-modify-write paths (MERGE / DELETE) now plan with OCC:
    their rewrite publishes only if the version they read is still
    current — verified here by the happy path (version advances by one)
    since both read the manifest immediately before rewriting."""
    from pyspark_mllib_twitter_spark.sources.pydatasource import (
        docstore_merge,
        register,
    )

    register(spark)
    store = str(tmp_path / "occ_merge")
    spark.range(50).selectExpr(
        "id AS doc_id", "CAST(id AS STRING) AS text"
    ).write.format("docstore").mode("overwrite").option(
        "stats_field", "doc_id"
    ).save(store)
    src = spark.range(40, 60).selectExpr(
        "id AS doc_id", "CAST(id * 10 AS STRING) AS text"
    )
    res = docstore_merge(spark, store, "doc_id", src)
    assert res["n_updates"] == 10 and res["n_inserts"] == 10
    import json
    import os

    with open(os.path.join(store, "_MANIFEST.json")) as f:
        assert json.load(f)["version"] == 2
    assert spark.read.format("docstore").load(store).count() == 60
