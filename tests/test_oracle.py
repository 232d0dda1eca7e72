"""t2 gate, locally: every oracle-declared query matches DuckDB under the
external checker's canonicalization (``tools/driver_mirror.canon``), so a
pass here is a pass at the gate."""

from __future__ import annotations

import os

import duckdb
import pytest

from pyspark_mllib_twitter_spark.plans import REGISTRY
from pyspark_mllib_twitter_spark.sources import FIXTURE_TABLES
from tools.driver_mirror import canon

ORACLE_SPECS = sorted(name for name, s in REGISTRY.items() if s.oracle is not None)
ROWS_ONLY_SPECS = sorted(name for name, s in REGISTRY.items() if s.oracle is None)


@pytest.fixture(scope="module")
def duck(sf_oracle):
    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        path = os.path.join(sf_oracle, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    yield con
    con.close()


@pytest.mark.parametrize("name", ORACLE_SPECS)
def test_oracle_match(spark, sf_oracle, duck, name):
    spec = REGISTRY[name]
    sdf = canon(spec.spark(spark, sf_oracle).toPandas())
    odf = canon(duck.execute(spec.oracle).df())
    assert list(sdf.columns) == list(odf.columns), (
        f"{name}: columns differ: spark={list(sdf.columns)} oracle={list(odf.columns)}"
    )
    assert len(sdf) == len(odf), f"{name}: row count spark={len(sdf)} oracle={len(odf)}"
    diff = (sdf != odf).any(axis=1)
    assert not diff.any(), (
        f"{name}: value mismatch on {int(diff.sum())} rows; first:\n"
        f"spark={sdf[diff].head(5).to_dict('records')}\n"
        f"oracle={odf[diff].head(5).to_dict('records')}"
    )


@pytest.mark.parametrize("name", ROWS_ONLY_SPECS)
def test_rows_only_runs(spark, sf_smoke, name):
    df = REGISTRY[name].spark(spark, sf_smoke)
    rows = df.limit(2000).collect()
    assert df.columns, f"{name} returned no schema"
    assert rows is not None
