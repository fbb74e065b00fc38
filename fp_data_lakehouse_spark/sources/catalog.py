"""Table catalog over the driver parquet fixtures.

The reference's "sources" are a directory scan of PDFs plus hand-rolled
JDBC sinks (SURVEY.md §2.1, reference ETL_FINAL.py:137-145). Here every
table is a columnar parquet scan — Catalyst pushes predicates and prunes
columns into the scan, which is the 100 TB-relevant property: a query
touching 2 columns of lineitem must read 2 columns, not 11.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType, TimestampNTZType

from ..session import tune

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Tiny dimension tables that should always broadcast in star joins.
BROADCAST_TABLES = frozenset({"region", "nation", "customer", "supplier", "part"})


# Confs that change the type parquet inference returns for a column.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)

# path -> (key, inferred StructType); one entry per path, replaced when
# the key changes
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _files_key(path: str) -> tuple | None:
    """``(mtime_ns, size)`` of a local parquet file, or of each parquet
    entry of a local directory; None when the path cannot be stat'ed."""
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return (st.st_mtime_ns, st.st_size)
        out = []
        with os.scandir(path) as it:
            for e in it:
                if e.name.endswith(".parquet"):
                    est = e.stat()
                    out.append((e.name, est.st_mtime_ns, est.st_size))
        return tuple(sorted(out))
    except OSError:
        return None


def _fixture_schema(spark: SparkSession, path: str) -> StructType:
    """The schema parquet inference gives ``path``, inferred once per
    state of its files and of the inference confs. A ``scheme://`` path
    is inferred on every call."""
    files = None if "://" in path else _files_key(path)
    if files is None:
        return spark.read.parquet(path).schema
    key = (files, tuple(spark.conf.get(c, None) for c in _INFERENCE_CONFS))
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == key:
        return hit[1]
    schema = spark.read.parquet(path).schema
    _SCHEMAS[path] = (key, schema)
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan of one fixture table.

    The scan is planned from a cached schema, so a repeated load
    launches no footer-inference job. The cache key of a local path is
    its ``(mtime_ns, size)`` — for a directory, that pair for each of
    its parquet entries — plus the confs that change the inferred type
    (``nanosAsLong``, ``int96AsTimestamp``, ``binaryAsString``,
    ``inferTimestampNTZ``); a fixture replaced in place is re-inferred.
    ``scheme://`` paths are not cached.

    The events fixture's ``ts`` physical type has varied across driver
    generations — TIMESTAMP(NANOS) (admitted only as a raw long via
    nanosAsLong, set in session.tune) and plain timestamp[us] (read as
    TIMESTAMP_NTZ). Normalize both here so every consumer sees one
    TimestampType column; session TZ is pinned UTC, so the ntz→ltz cast
    is value-preserving.
    """
    tune(spark)
    path = f"{sf_dir}/{name}.parquet"
    schema = _fixture_schema(spark, path)
    df = spark.read.schema(schema).parquet(path)
    if name == "events" and "ts" in schema.fieldNames():
        if isinstance(schema["ts"].dataType, LongType):
            # integer division: nanos ~1.7e18 exceed double precision (2^53)
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Any remaining TIMESTAMP_NTZ column (events.ts, orders.o_orderdate, ...)
    # becomes TimestampType: several time functions (unix_micros,
    # unix_timestamp) reject NTZ, and the UTC session TZ makes the cast
    # value-preserving.
    for field in schema.fields:
        if isinstance(field.dataType, TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register the fixture tables as temp views for spark.sql queries."""
    for name, df in load_tables(spark, sf_dir, names).items():
        df.createOrReplaceTempView(name)
