"""Table I/O round-trips: schema fidelity per format, FAILFAST defaults,
and the parquet schema catalog."""

import datetime as dt
import re
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from dftly_spark.io import (
    normalize_event_ts,
    read_parquet,
    read_table,
    register_views,
    write_table,
)

SF_DIR = "/root/testdata/sf0.001"

SCHEMA = "id bigint, name string, score double, flag boolean, at timestamp"
ROWS = [
    (1, "a", 1.5, True, dt.datetime(2024, 1, 1, 12, 30, 0)),
    (2, "b,with,commas", -0.25, False, dt.datetime(2024, 6, 1, 0, 0, 1)),
    (3, None, None, None, None),
]


@pytest.fixture(scope="module")
def frame(spark):
    return spark.createDataFrame(ROWS, SCHEMA)


@pytest.mark.parametrize("fmt", ["parquet", "csv", "jsonl", "orc"])
def test_round_trip_preserves_schema_and_values(spark, frame, tmp_path, fmt):
    path = str(tmp_path / fmt)
    write_table(frame, path, format=fmt)
    back = read_table(spark, path, format=fmt, schema=SCHEMA)
    assert back.schema == frame.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, frame.collect()))


def test_jsonl_round_trips_nested_types(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, ["x", "y"], {"k": 2})],
        "id bigint, tags array<string>, props map<string,bigint>",
    )
    path = str(tmp_path / "nested")
    write_table(df, path, format="jsonl")
    back = read_table(
        spark, path, format="jsonl",
        schema="id bigint, tags array<string>, props map<string,bigint>",
    )
    r = back.collect()[0]
    assert r.tags == ["x", "y"] and r.props == {"k": 2}


def test_csv_requires_schema(spark, tmp_path):
    with pytest.raises(ValueError, match="explicit DDL schema"):
        read_table(spark, str(tmp_path), format="csv")


def test_failfast_raises_on_malformed(spark, tmp_path):
    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "part.json").write_text('{"id": 1}\n{not json at all\n')
    df = read_table(spark, str(bad), format="jsonl", schema="id bigint")
    with pytest.raises(Exception, match="FAILFAST|Malformed"):
        df.collect()
    # explicit opt-in to salvage
    ok = read_table(
        spark, str(bad), format="jsonl", schema="id bigint", mode="PERMISSIVE"
    )
    assert [r.id for r in ok.collect()] == [1, None]


def test_partitioned_write(spark, frame, tmp_path):
    path = str(tmp_path / "parts")
    write_table(frame.where(F.col("flag").isNotNull()), path, partition_by=["flag"])
    back = spark.read.parquet(path)
    assert back.count() == 2
    assert {f"flag={r.flag}" for r in back.collect()} <= {"flag=true", "flag=false"}
    # read_parquet reads a directory by inference every time, so the
    # partition column survives a repeated read
    for _ in range(2):
        assert read_parquet(spark, path).dtypes == back.dtypes


def test_register_views(spark):
    register_views(spark, "/root/testdata/sf0.001", ["region", "nation"])
    got = spark.sql(
        "SELECT count(*) AS n FROM region JOIN nation ON r_regionkey = n_regionkey"
    ).collect()[0].n
    assert got == 25


def test_text_round_trip_and_guard(spark, frame, tmp_path):
    path = str(tmp_path / "txt")
    write_table(frame.select(F.col("name").alias("value")), path, format="text")
    back = read_table(spark, path, format="text")
    assert back.columns == ["value"]
    # text has no null encoding: None rows write as empty lines
    assert sorted(r.value for r in back.collect()) == ["", "a", "b,with,commas"]
    with pytest.raises(ValueError, match="one string column"):
        write_table(frame, str(tmp_path / "bad"), format="text")


# -- schema catalog (read_parquet) --------------------------------------------

TABLES = [
    "customer",
    "documents",
    "embeddings",
    "events",
    "lineitem",
    "nation",
    "orders",
    "part",
    "region",
    "supplier",
]


def _jobs_launched(spark, fn) -> int:
    """Spark jobs that ``fn()`` launches, counted by job group.  A sentinel
    job in a second group runs after it: the status tracker is fed by the
    ordered listener bus, so once the sentinel shows, every job ``fn``
    launched has been recorded too."""
    sc = spark.sparkContext
    group, sentinel = f"io-{uuid.uuid4().hex}", f"io-{uuid.uuid4().hex}"
    try:
        sc.setJobGroup(group, "read_parquet catalog test")
        fn()
        sc.setJobGroup(sentinel, "read_parquet catalog test sentinel")
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(sentinel):
        assert time.monotonic() < deadline, "sentinel job never recorded"
        time.sleep(0.05)
    return len(tracker.getJobIdsForGroup(group))


@pytest.fixture()
def conf(spark):
    """Set session confs for one test and restore them after it."""
    saved = {}

    def _set(key, value):
        saved.setdefault(key, spark.conf.get(key))
        spark.conf.set(key, value)

    yield _set
    for key, value in saved.items():
        spark.conf.set(key, value)


def test_second_table_read_launches_no_job(spark, tmp_path):
    from dftly_spark.contract.common import _t

    pq.write_table(pa.table({"k": [1, 2, 3], "v": ["a", "b", "c"]}), tmp_path / "t.parquet")
    assert _jobs_launched(spark, lambda: _t(spark, str(tmp_path), "t")) >= 1
    frames = []
    assert _jobs_launched(spark, lambda: frames.append(_t(spark, str(tmp_path), "t"))) == 0
    assert sorted(map(tuple, frames[0].collect())) == [(1, "a"), (2, "b"), (3, "c")]


def test_overwritten_file_reads_its_new_schema(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"k": [1, 2]}), path)
    read_parquet(spark, path)
    assert read_parquet(spark, path).dtypes == [("k", "bigint")]
    pq.write_table(pa.table({"name": ["x", "y", "z"], "score": [0.5, 1.5, 2.5]}), path)
    back = read_parquet(spark, path)
    assert back.dtypes == [("name", "string"), ("score", "double")]
    assert back.count() == 3


def test_flipping_an_inference_conf_infers_again(spark, conf, tmp_path):
    # TIMESTAMP(NANOS): Spark reads it only as a nanos long, so with
    # nanosAsLong off a fresh inference refuses it; a catalog that ignored
    # the conf would hand back the bigint schema instead.
    nanos = str(tmp_path / "nanos.parquet")
    ns = 1_700_000_000_123_456_789
    pq.write_table(pa.table({"ts": pa.array([ns], pa.timestamp("ns"))}), nanos)
    conf("spark.sql.legacy.parquet.nanosAsLong", "true")
    assert read_parquet(spark, nanos).dtypes == [("ts", "bigint")]
    got = normalize_event_ts(read_parquet(spark, nanos))
    assert got.dtypes == [("ts", "timestamp")]
    assert got.collect()[0].ts == dt.datetime(2023, 11, 14, 22, 13, 20, 123456)
    conf("spark.sql.legacy.parquet.nanosAsLong", "false")
    with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
        read_parquet(spark, nanos)
    # TIMESTAMP(MICROS), the events layout: timestamp_ntz or timestamp by
    # conf, and normalize_event_ts gives the same timestamp both ways.
    micros = str(tmp_path / "micros.parquet")
    when = dt.datetime(2024, 6, 1, 12, 30, 0, 250)
    pq.write_table(pa.table({"ts": pa.array([when], pa.timestamp("us"))}), micros)
    for ntz, dtype in (("true", "timestamp_ntz"), ("false", "timestamp"), ("true", "timestamp_ntz")):
        conf("spark.sql.parquet.inferTimestampNTZ.enabled", ntz)
        read_parquet(spark, micros)
        assert read_parquet(spark, micros).dtypes == [("ts", dtype)]
        got = normalize_event_ts(read_parquet(spark, micros))
        assert got.dtypes == [("ts", "timestamp")]
        assert got.collect()[0].ts == when


@pytest.mark.parametrize("table", TABLES)
def test_cached_read_plans_like_inferred_read(spark, conf, table):
    conf("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{SF_DIR}/{table}.parquet"
    read_parquet(spark, path)
    assert _jobs_launched(spark, lambda: read_parquet(spark, path)) == 0

    def optimized(df):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        return re.sub(r"#\d+L?", "#", plan)

    assert optimized(read_parquet(spark, path)) == optimized(spark.read.parquet(path))
