"""Fixture-schema robustness: the events fixture's ts physical type has
changed across driver generations (int64 nanos -> timestamp[us]/NTZ),
and each change broke readers written against the previous one (the
round-2 regression cluster). load_table and read_events_stream must
normalize EVERY plausible physical encoding to one TimestampType column
with identical instants."""

from __future__ import annotations

import datetime
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql.types import LongType, TimestampNTZType

from fp_data_lakehouse_spark.sources import catalog
from fp_data_lakehouse_spark.sources.catalog import load_table

_EPOCHS_US = [1_700_000_000_000_000, 1_700_000_123_456_789, 1_700_003_600_000_000]


def _write_events(tmpdir: str, ts_array: pa.Array) -> str:
    table = pa.table(
        {
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": ts_array,
            "user_id": pa.array([10, 11, 10], pa.int64()),
            "event_type": pa.array(["click", "error", "purchase"]),
            "value": pa.array([1.0, 2.0, 3.0], pa.float64()),
            "props": pa.array(["{}", "{}", "{}"]),
        }
    )
    pq.write_table(table, f"{tmpdir}/events.parquet")
    return tmpdir


@pytest.mark.parametrize(
    "encoding,ts_array",
    [
        ("int64_nanos", pa.array([e * 1000 for e in _EPOCHS_US], pa.int64())),
        ("timestamp_us_ntz", pa.array(_EPOCHS_US, pa.timestamp("us"))),
        ("timestamp_us_utc", pa.array(_EPOCHS_US, pa.timestamp("us", tz="UTC"))),
        ("timestamp_ns_ntz", pa.array([e * 1000 for e in _EPOCHS_US], pa.timestamp("ns"))),
    ],
)
def test_load_table_normalizes_every_ts_encoding(spark, tmp_path, encoding, ts_array):
    d = _write_events(str(tmp_path), ts_array)
    df = load_table(spark, d, "events")
    assert dict(df.dtypes)["ts"] == "timestamp", encoding
    got = sorted(
        r.ep for r in df.selectExpr("unix_micros(ts) AS ep").collect()
    )
    assert got == sorted(_EPOCHS_US), encoding


def test_orders_ntz_orderdate_normalized(spark, tmp_path):
    table = pa.table(
        {
            "o_orderkey": pa.array([1], pa.int64()),
            "o_custkey": pa.array([7], pa.int64()),
            "o_orderstatus": pa.array(["O"]),
            "o_totalprice": pa.array([10.0], pa.float64()),
            "o_orderdate": pa.array(
                [datetime.datetime(1996, 1, 2)], pa.timestamp("us")
            ),
            "o_orderpriority": pa.array(["1-URGENT"]),
        }
    )
    pq.write_table(table, f"{tmp_path}/orders.parquet")
    df = load_table(spark, str(tmp_path), "orders")
    assert dict(df.dtypes)["o_orderdate"] == "timestamp"
    assert df.selectExpr("unix_timestamp(o_orderdate) AS ep").collect()[0].ep == 820540800


def test_load_table_reinfers_a_fixture_replaced_in_place(spark, tmp_path):
    """The cached schema serves a fixture only while its files are
    unchanged: a repeat load runs no inference job, and the same path
    rewritten with another ts encoding is inferred again."""
    from tests.test_versioned import _jobs_during

    d = _write_events(str(tmp_path), pa.array([e * 1000 for e in _EPOCHS_US], pa.int64()))
    load_table(spark, d, "events")
    df, jobs = _jobs_during(spark, lambda: load_table(spark, d, "events"))
    assert jobs == 0
    assert dict(df.dtypes)["ts"] == "timestamp"
    path = f"{d}/events.parquet"
    mtime = os.stat(path).st_mtime_ns
    _write_events(d, pa.array(_EPOCHS_US, pa.timestamp("us")))
    os.utime(path, ns=(mtime + 10**9, mtime + 10**9))
    assert catalog._fixture_schema(spark, path)["ts"].dataType == TimestampNTZType()
    df = load_table(spark, d, "events")
    got = sorted(r.ep for r in df.selectExpr("unix_micros(ts) AS ep").collect())
    assert got == sorted(_EPOCHS_US)


def test_fixture_schema_cache_is_keyed_by_inference_confs(spark, tmp_path):
    """Flipping ``nanosAsLong`` changes what inference makes of a
    TIMESTAMP(NANOS) column, so the cached type is not reused: with the
    conf off the reader refuses the column outright."""
    d = _write_events(str(tmp_path), pa.array([e * 1000 for e in _EPOCHS_US], pa.timestamp("ns")))
    path = f"{d}/events.parquet"
    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "true")
        assert catalog._fixture_schema(spark, path)["ts"].dataType == LongType()
        spark.conf.set(key, "false")
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
            catalog._fixture_schema(spark, path)
        spark.conf.set(key, "true")
        assert catalog._fixture_schema(spark, path)["ts"].dataType == LongType()
    finally:
        spark.conf.set(key, before)
