"""The fixture reader pins each table's parquet schema
(``plans.tables.read_parquet``): a pinned read has the schema Spark
infers, runs no Spark job, and misses when the files or the inference
confs change; every load is still a new DataFrame."""

from __future__ import annotations

import os
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from spark_bi5_datasource_spark.plans import tables
from tests.conftest import TESTDATA_SF

NANOS = "spark.sql.legacy.parquet.nanosAsLong"
NTZ = "spark.sql.parquet.inferTimestampNTZ.enabled"

needs_fixture = pytest.mark.skipif(
    not os.path.isdir(TESTDATA_SF), reason=f"no fixture at {TESTDATA_SF}"
)


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn`` runs on this thread.  A marker job in a second
    group is waited for: the status listener sees job starts in order,
    so once it has the marker it has every job ``fn`` ran."""
    sc = spark.sparkContext
    group, marker = f"tables-{uuid.uuid4().hex}", f"marker-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "counted")
    try:
        fn()
        sc.setJobGroup(marker, "marker")
        sc.parallelize([1], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    deadline = time.monotonic() + 30
    while not sc.statusTracker().getJobIdsForGroup(marker):
        assert time.monotonic() < deadline, "marker job never reached the status tracker"
        time.sleep(0.05)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture()
def confs(spark):
    """Restore the two inference confs a test flips."""
    prior = {c: spark.conf.get(c) for c in (NANOS, NTZ)}
    yield
    for c, v in prior.items():
        spark.conf.set(c, v)


def _inferred(spark, name):
    """The table as Spark's own parquet inference reads it."""
    path = f"{TESTDATA_SF}/{name}.parquet"
    if name != "events":
        return spark.read.parquet(path)
    spark.conf.set(NANOS, "true")
    df = spark.read.parquet(path)
    if dict(df.dtypes)["ts"] == "bigint":  # TIMESTAMP(NANOS) storage
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df


@needs_fixture
@pytest.mark.parametrize("name", tables.TABLES)
def test_pinned_schema_equals_inferred(spark, confs, name):
    tables.t(spark, TESTDATA_SF, name)  # pins the schema, if not yet
    pinned = tables.t(spark, TESTDATA_SF, name)
    assert os.path.realpath(f"{TESTDATA_SF}/{name}.parquet") in tables._SCHEMAS
    assert pinned.schema == _inferred(spark, name).schema


@needs_fixture
@pytest.mark.parametrize("name", ["lineitem", "events"])
def test_second_load_runs_no_job(spark, confs, name):
    tables.t(spark, TESTDATA_SF, name)
    assert _jobs(spark, lambda: tables.t(spark, TESTDATA_SF, name)) == 0


@needs_fixture
@pytest.mark.parametrize("conf", [NANOS, NTZ])
def test_inference_conf_flip_misses(spark, confs, conf):
    tables.t(spark, TESTDATA_SF, "orders")
    flipped = "false" if spark.conf.get(conf) == "true" else "true"
    spark.conf.set(conf, flipped)
    assert _jobs(spark, lambda: tables.t(spark, TESTDATA_SF, "orders")) == 1
    # the re-inferred schema is pinned under the new value
    assert _jobs(spark, lambda: tables.t(spark, TESTDATA_SF, "orders")) == 0


def test_rewritten_file_gives_new_schema(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert tables.read_parquet(spark, path).columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    df = tables.read_parquet(spark, path)
    assert df.columns == ["a", "b"]
    assert sorted(tuple(r) for r in df.collect()) == [(1, "x"), (2, "y")]


def test_added_part_file_misses(spark, tmp_path):
    path = str(tmp_path / "d.parquet")
    os.makedirs(path)
    pq.write_table(pa.table({"a": [1]}), os.path.join(path, "part-1.parquet"))
    assert tables.read_parquet(spark, path).columns == ["a"]
    assert _jobs(spark, lambda: tables.read_parquet(spark, path)) == 0
    pq.write_table(
        pa.table({"a": [2], "b": ["y"]}), os.path.join(path, "part-0.parquet")
    )
    assert _jobs(spark, lambda: tables.read_parquet(spark, path)) == 1
    df = tables.read_parquet(spark, path)
    assert df.schema == spark.read.parquet(path).schema
    assert sorted(r.a for r in df.collect()) == [1, 2]


@needs_fixture
def test_two_loads_self_join(spark):
    """Each load is a new DataFrame with its own attribute ids, so a
    join of two loads through column references resolves."""
    a = tables.t(spark, TESTDATA_SF, "nation")
    b = tables.t(spark, TESTDATA_SF, "nation")
    got = a.join(b, a["n_nationkey"] == b["n_regionkey"]).select(
        a["n_name"], b["n_name"]
    )
    rows = pq.read_table(f"{TESTDATA_SF}/nation.parquet").to_pylist()
    want = sorted(
        (x["n_name"], y["n_name"])
        for x in rows
        for y in rows
        if x["n_nationkey"] == y["n_regionkey"]
    )
    assert want
    assert sorted(tuple(r) for r in got.collect()) == want
