"""Per-query conf scoping: ``session.scoped_session`` children carry the
parent's runtime confs plus their own, and never write the parent.

The tier-1 ``spark`` fixture gets its confs from the builder, which
``newSession()`` inherits anyway. These tests set confs on a parent at
RUNTIME instead, the way ``tune()`` configures a session built
elsewhere (the grading driver's), so they fail on a child that drops
runtime confs."""

from __future__ import annotations

import threading
import time

_NANOS = "spark.sql.legacy.parquet.nanosAsLong"
_SCRATCH = "spark.fp_lakehouse.scratch_dir"
_PARTS = "spark.sql.shuffle.partitions"
_NO_DATA = "spark.sql.streaming.noDataMicroBatches.enabled"


def _driver_shaped(spark, tmp_path):
    """A parent whose confs differ from the builder's at runtime."""
    parent = spark.newSession()
    flipped = "false" if spark.conf.get(_NANOS, "false") == "true" else "true"
    parent.conf.set(_NANOS, flipped)
    parent.conf.set(_SCRATCH, str(tmp_path / "scratch"))
    return parent, flipped


def test_scoped_session_copies_runtime_confs_and_leaves_parent(spark, tmp_path):
    from fp_data_lakehouse_spark.session import scoped_session

    parent, flipped = _driver_shaped(spark, tmp_path)
    before = parent.conf.getAll
    child = scoped_session(parent, {_PARTS: "3"})
    assert child.conf.get(_NANOS) == flipped
    assert child.conf.get(_SCRATCH) == str(tmp_path / "scratch")
    assert child.conf.get(_PARTS) == "3"
    assert parent.conf.getAll == before


def test_id_scan_session_keeps_parent_runtime_confs(spark, tmp_path):
    from fp_data_lakehouse_spark.sources.delta import _id_scan_session

    parent, flipped = _driver_shaped(spark, tmp_path)
    scan = _id_scan_session(parent)
    assert scan.conf.get(_NANOS) == flipped
    assert scan.conf.get(_SCRATCH) == str(tmp_path / "scratch")
    assert scan.conf.get("spark.sql.parquet.fieldId.read.enabled") == "true"
    assert parent.conf.get("spark.sql.parquet.fieldId.read.enabled") == "false"
    assert _id_scan_session(parent) is scan  # cached per parent


def _padded_source(path, mib: float) -> None:
    """A few event rows whose parquet file is ``mib`` MiB: the width
    rule sizes by source bytes, and the incompressible pad column is
    never read by the stream."""
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    n = 8
    pad = int(mib * 2**20) // n
    path.mkdir()
    pq.write_table(
        pa.table(
            {
                "k": pa.array([i % 4 for i in range(n)], pa.int64()),
                "ts": pa.array(
                    [dt.datetime(2024, 1, 1, i) for i in range(n)], pa.timestamp("us", "UTC")
                ),
                "pad": pa.array([os.urandom(pad) for _ in range(n)], pa.binary()),
            }
        ),
        path / "part-0.parquet",
        compression="none",
    )


def test_concurrent_scoped_drains_keep_their_widths(spark, tmp_path):
    """Two stateful drains in threads, each in its own drain session,
    run at their own sized widths with the no-data batch skipped, while
    the parent's width, no-data setting and catalog never change."""
    from pyspark.sql import functions as F

    from fp_data_lakehouse_spark.operators.streamquery import _drain_session

    parent = spark.newSession()
    parent.conf.set(_PARTS, "8")
    watched = lambda: (  # noqa: E731
        parent.conf.get(_PARTS),
        parent.conf.get(_NO_DATA),
        sorted(t.name for t in parent.catalog.listTables()),
    )
    start = watched()
    srcs = {2: tmp_path / "w2", 3: tmp_path / "w3"}
    _padded_source(srcs[2], 1.5)
    _padded_source(srcs[3], 2.5)
    results, errors = {}, []

    def drain(width: int) -> None:
        try:
            child = _drain_session(parent, str(srcs[width]), skip_no_data_batch=True)
            name = f"scoped_w{width}"
            q = (
                child.readStream.schema("k long, ts timestamp")
                .parquet(str(srcs[width]))
                .withWatermark("ts", "1 hour")
                .dropDuplicatesWithinWatermark(["k"])
                .writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            progress = q.recentProgress
            results[width] = (
                {op["numShufflePartitions"] for p in progress for op in p["stateOperators"]},
                len(progress),
                child.table(name).agg(F.count("*")).head()[0],
            )
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    threads = [threading.Thread(target=drain, args=(w,)) for w in srcs]
    for t in threads:
        t.start()
    seen = set()
    deadline = time.monotonic() + 120
    while any(t.is_alive() for t in threads) and time.monotonic() < deadline:
        seen.add(repr(watched()))
        for t in threads:
            t.join(0.05)
    seen.add(repr(watched()))

    assert not any(t.is_alive() for t in threads), "drains did not finish in 120 s"
    assert not errors, errors
    assert results[2] == ({2}, 1, 4)
    assert results[3] == ({3}, 1, 4)
    assert seen == {repr(start)}
    assert not parent.streams.active


def test_child_registers_python_sources_after_its_parent(spark, tmp_path):
    """Spark checks a new Python source's name against the ACTIVE
    session, so a child of a session that registered fp_versioned
    failed with DATA_SOURCE_ALREADY_EXISTS. The active session is the
    caller's again afterwards."""
    from pyspark.sql import SparkSession

    from fp_data_lakehouse_spark.session import scoped_session
    from fp_data_lakehouse_spark.sources.pyds import register_python_sources
    from fp_data_lakehouse_spark.sources.versioned import write_version

    register_python_sources(spark)
    child = scoped_session(spark, {_PARTS: "3"})
    register_python_sources(child)
    assert SparkSession.getActiveSession()._jsparkSession.equals(spark._jsparkSession)
    d = str(tmp_path / "t")
    write_version(spark.range(5), d)
    assert child.read.format("fp_versioned").option("path", d).load().count() == 5
