"""Unit tests for the Spark 4 Python DataSource seam (sources/pyds.py):
filter translation, arrow->spark schema mapping, snapshot/version
resolution, batch time-travel pinning, and the stream reader's offset
arithmetic. The end-to-end oracle certificates are io08/st06 in
tests/test_oracle_parity.py."""

from __future__ import annotations

import os

import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, In, IsNotNull, IsNull

from fp_data_lakehouse_spark.sources import pyds
from fp_data_lakehouse_spark.sources.pyds import (
    VersionFeedStreamReader,
    _arrow_schema_to_spark,
    _filters_to_arrow_expr,
    _translate_filters,
    register_python_sources,
)
from fp_data_lakehouse_spark.sources.versioned import (
    LocalFsBackend,
    _ledger_entries,
    latest_version,
    resolve_snapshot,
    versions,
)

from .conftest import SF_ORACLE


def test_translate_filters_supported_and_skipped():
    cols = {"a", "b"}
    specs = _translate_filters(
        [
            EqualTo(("a",), 5),
            GreaterThanOrEqual(("b",), 1.5),
            In(("a",), (1, 2, 3)),
            IsNotNull(("b",)),
            IsNull(("a",)),  # unsupported op -> skipped
            EqualTo(("nope",), 1),  # unknown column -> skipped
            EqualTo(("x", "y"), 1),  # nested path -> skipped
            EqualTo(("a",), None),  # null literal -> skipped (SQL null semantics)
        ],
        cols,
    )
    assert ("eq", "a", 5) in specs
    assert ("ge", "b", 1.5) in specs
    assert ("in", "a", (1, 2, 3)) in specs
    assert ("notnull", "b", None) in specs
    assert len(specs) == 4


def test_filters_to_arrow_expr_filters_a_table():
    tbl = pa.table({"a": [1, 2, 3, 4, None], "b": [1.0, 2.0, 3.0, 4.0, 5.0]})
    import pyarrow.dataset as pads

    ds = pads.dataset(tbl)
    expr = _filters_to_arrow_expr([("ge", "a", 2), ("notnull", "a", None)])
    got = ds.to_table(filter=expr).column("a").to_pylist()
    assert got == [2, 3, 4]
    assert _filters_to_arrow_expr([]) is None


def test_arrow_schema_to_spark_mapping():
    sch = pa.schema(
        [
            pa.field("i", pa.int64()),
            pa.field("d", pa.float64()),
            pa.field("s", pa.string()),
            # tz-naive parquet timestamps are wall-clock values; mapping
            # them to LTZ TimestampType would shift them by the session
            # timezone (round-5 advisor finding)
            pa.field("t_ntz", pa.timestamp("us")),
            pa.field("t_ltz", pa.timestamp("us", tz="UTC")),
            pa.field("b", pa.bool_()),
            # unsigned widths widen to the next signed Spark type so
            # values above the signed max can't wrap
            pa.field("u8", pa.uint8()),
            pa.field("u16", pa.uint16()),
            pa.field("u32", pa.uint32()),
            pa.field("i8", pa.int8()),
            pa.field("i16", pa.int16()),
            pa.field("i32", pa.int32()),
        ]
    )
    out = _arrow_schema_to_spark(sch)
    assert [f.dataType.simpleString() for f in out.fields] == [
        "bigint",
        "double",
        "string",
        "timestamp_ntz",
        "timestamp",
        "boolean",
        "smallint",
        "int",
        "bigint",
        "tinyint",
        "smallint",
        "int",
    ]
    with pytest.raises(TypeError):
        _arrow_schema_to_spark(pa.schema([pa.field("x", pa.decimal128(10, 2))]))
    # uint64 has no lossless signed home — rejected, not wrapped
    with pytest.raises(TypeError):
        _arrow_schema_to_spark(pa.schema([pa.field("x", pa.uint64())]))


@pytest.fixture()
def versioned_table(spark, tmp_path):
    from fp_data_lakehouse_spark.sources.versioned import write_version

    orders = spark.read.parquet(f"{SF_ORACLE}/orders.parquet")
    totals = orders.groupBy("o_custkey").agg(F.count("*").alias("n_orders"))
    d = str(tmp_path / "tt")
    v1 = write_version(totals.filter(F.col("n_orders") >= 10), d)
    v2 = write_version(totals, d)
    return d, v1, v2, totals


def test_batch_source_pins_old_version(spark, versioned_table):
    d, v1, v2, totals = versioned_table
    register_python_sources(spark)
    pinned = (
        spark.read.format("fp_versioned").option("path", d).option("version", v1).load()
    )
    latest = spark.read.format("fp_versioned").option("path", d).load()
    want_v1 = totals.filter(F.col("n_orders") >= 10)
    assert pinned.count() == want_v1.count()
    assert latest.count() == totals.count()
    # content, not just counts: anti-join both directions is empty
    assert pinned.exceptAll(want_v1).count() == 0
    assert want_v1.exceptAll(pinned).count() == 0


def test_batch_source_filter_matches_unfiltered(spark, versioned_table):
    d, v1, _, totals = versioned_table
    register_python_sources(spark)
    src = (
        spark.read.format("fp_versioned")
        .option("path", d)
        .option("version", v1)
        .option("pushdown", "true")
        .load()
    )
    # pushFilters prunes row groups source-side but Spark's own filter
    # stays authoritative — result must equal the plain-filter twin.
    got = src.filter(F.col("n_orders") >= 12).agg(F.sum("n_orders")).collect()[0][0]
    want = (
        totals.filter((F.col("n_orders") >= 10) & (F.col("n_orders") >= 12))
        .agg(F.sum("n_orders"))
        .collect()[0][0]
    )
    assert got == want


def test_stream_reader_offsets(versioned_table):
    d, v1, v2, _ = versioned_table
    r = VersionFeedStreamReader.__new__(VersionFeedStreamReader)
    r._table_dir = d
    r._cols = ["o_custkey", "n_orders"]
    assert r.initialOffset() == {"version": v1 - 1}
    assert r.latestOffset() == {"version": v2}
    # empty range is legal (no new commits this micro-batch)
    assert r.partitions({"version": v2}, {"version": v2}) == []
    parts = r.partitions({"version": v1 - 1}, {"version": v2})
    planned = [f for b in parts for f in b.files]
    assert sorted({f.version for f in planned}) == [v1, v2]
    # the bins cover every parquet file of both snapshots, once each
    assert all(f.file_path.endswith(".parquet") for f in planned)
    assert sorted((f.version, f.file_path) for f in planned) == sorted(
        (v, f"{d}/{rel}")
        for v in (v1, v2)
        for rel in resolve_snapshot(d, v).rels
    )


def test_stream_read_stamps_version(versioned_table):
    d, v1, _, _ = versioned_table
    r = VersionFeedStreamReader.__new__(VersionFeedStreamReader)
    r._table_dir = d
    r._cols = ["o_custkey", "n_orders"]
    parts = r.partitions({"version": v1 - 1}, {"version": v1})
    batches = [b for p in parts for b in r.read(p)]
    assert batches, "v1 snapshot must yield at least one batch"
    for b in batches:
        assert b.schema.names == ["o_custkey", "n_orders", "_version"]
        assert b.column("_version").to_pylist() == [v1] * b.num_rows


def test_batch_partitions_are_file_granular(spark, tmp_path):
    from fp_data_lakehouse_spark.sources.versioned import write_version

    df = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    d = str(tmp_path / "multi")
    write_version(df.repartition(4), d)
    files = [f"{d}/{rel}" for rel in resolve_snapshot(d, 1).rels]
    assert len(files) == 4
    reader = pyds.VersionedDataSource(
        {"path": d}
    ).reader(pyds._snapshot_schema(d, None))
    # the plan reads each file once; four small files share one bin
    planned = pyds._bin_files(reader.partitions())
    assert len(planned) == 4
    assert sorted(planned) == sorted(files)
    assert len(reader.partitions()) == 1


def test_writer_commits_new_versions_and_cleans_staging(spark, tmp_path):
    import os

    from fp_data_lakehouse_spark.sources.versioned import latest_version, read_table

    register_python_sources(spark)
    d = str(tmp_path / "w")
    df = spark.range(100).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    df.write.format("fp_versioned").option("path", d).mode("append").save()
    df.filter(F.col("k") < 50).write.format("fp_versioned").option("path", d).mode(
        "append"
    ).save()
    assert latest_version(d) == 2
    assert read_table(spark, d).count() == 50
    assert read_table(spark, d, version=1).count() == 100
    # two-phase commit leaves no staging debris behind
    assert not [n for n in os.listdir(d) if n.startswith("_staging_")]
    # round-trip content through the python reader too
    got = (
        spark.read.format("fp_versioned").option("path", d).option("version", 1).load()
    )
    assert got.exceptAll(df).count() == 0 and df.exceptAll(got).count() == 0


def test_writer_rejects_version_option(spark, tmp_path):
    register_python_sources(spark)
    df = spark.range(5).select(F.col("id").alias("k"))
    with pytest.raises(Exception, match="read-only"):
        df.write.format("fp_versioned").option("path", str(tmp_path / "x")).option(
            "version", 1
        ).mode("append").save()


def test_sql_using_surface(spark, versioned_table):
    """The docstring's SQL claim, held to: the source is consumable
    from pure SQL via CREATE TEMPORARY VIEW ... USING."""
    d, v1, _, totals = versioned_table
    register_python_sources(spark)
    spark.sql(
        f"CREATE OR REPLACE TEMPORARY VIEW vt_sql USING fp_versioned "
        f"OPTIONS (path '{d}', version '{v1}')"
    )
    got = spark.sql("SELECT COUNT(*) AS n FROM vt_sql").collect()[0]["n"]
    assert got == totals.filter(F.col("n_orders") >= 10).count()
    spark.sql("DROP VIEW vt_sql")


def test_writer_abort_publishes_nothing(spark, tmp_path):
    """Two-phase commit, failure leg: a job that dies mid-write must
    neither advance the version log nor leave staging debris."""
    import os

    from pyspark.sql.functions import udf
    from pyspark.sql.types import LongType

    from fp_data_lakehouse_spark.sources.versioned import latest_version

    register_python_sources(spark)
    d = str(tmp_path / "ab")
    ok = spark.range(10).select(F.col("id").alias("k"))
    ok.write.format("fp_versioned").option("path", d).mode("append").save()
    assert latest_version(d) == 1

    @udf(LongType())
    def boom(v):
        raise RuntimeError("injected failure")

    bad = spark.range(10).select(boom(F.col("id")).alias("k"))
    with pytest.raises(Exception):
        bad.write.format("fp_versioned").option("path", d).mode("append").save()
    assert latest_version(d) == 1, "failed job must not publish a version"
    assert not [n for n in os.listdir(d) if n.startswith("_staging_")], (
        "abort must remove the staging dir"
    )


def test_stream_writer_replayed_epoch_publishes_nothing(tmp_path):
    import os

    from fp_data_lakehouse_spark.sources.pyds import VersionedStreamArrowWriter

    d = str(tmp_path / "sw")
    w = VersionedStreamArrowWriter(d)
    batch = pa.RecordBatch.from_pydict({"k": [1, 2, 3]})

    w.commit([w.write(iter([batch]))], 0)
    assert versions(d) == [1]

    # epoch 0 REPLAY: re-staged file must be discarded, nothing published
    w.commit([w.write(iter([batch]))], 0)
    assert versions(d) == [1]
    # only the liveness lease may persist across epochs in staging
    assert not os.path.exists(w._staging) or os.listdir(w._staging) in ([], ["_lease"])

    # next epoch publishes v2; empty epoch publishes nothing
    w.commit([w.write(iter([batch]))], 1)
    w.commit([w.write(iter([]))], 2)
    assert versions(d) == [1, 2]
    assert latest_version(d) == 2


def test_nested_types_through_batch_source(spark, tmp_path):
    """array<float> (embeddings) and struct columns survive the
    arrow->spark schema mapping and the Arrow batch read path."""
    from fp_data_lakehouse_spark.sources.versioned import write_version

    df = spark.range(50).select(
        F.col("id").alias("k"),
        F.array(
            (F.col("id") * 0.5).cast("float"), (F.col("id") * 0.25).cast("float")
        ).alias("emb"),
        F.struct(F.col("id").alias("a"), (F.col("id") % 3).alias("b")).alias("meta"),
    )
    d = str(tmp_path / "nested")
    write_version(df, d)
    register_python_sources(spark)
    back = spark.read.format("fp_versioned").option("path", d).load()
    assert dict(back.dtypes) == {
        "k": "bigint",
        "emb": "array<float>",
        "meta": "struct<a:bigint,b:bigint>",
    }
    assert back.count() == 50
    got = back.filter(F.col("k") == 4).select("emb", "meta.b").collect()[0]
    assert got["emb"] == [2.0, 1.0] and got["b"] == 1


def test_nan_rows_survive_pushed_float_filter(spark, tmp_path):
    """Spark orders NaN above all numerics; arrow predicates drop NaN.
    Float columns are excluded from pushdown so the engine's filter
    stays authoritative — NaN rows must come back."""
    from fp_data_lakehouse_spark.sources.versioned import write_version

    df = spark.createDataFrame(
        [(1, 1.0), (2, 9.0), (3, float("nan"))], "k long, x double"
    )
    d = str(tmp_path / "nan")
    write_version(df, d)
    register_python_sources(spark)
    src = spark.read.format("fp_versioned").option("path", d).load()
    got = sorted(r["k"] for r in src.filter(F.col("x") > 5.0).collect())
    want = sorted(r["k"] for r in df.filter(F.col("x") > 5.0).collect())
    assert got == want == [2, 3]  # NaN > 5.0 is TRUE in Spark SQL


def test_stream_writer_replay_repairs_pointer(tmp_path):
    """Crash between ledger write and pointer swap: the replayed epoch
    must repair the pointer, not publish a duplicate version."""
    from fp_data_lakehouse_spark.sources.pyds import VersionedStreamArrowWriter

    d = str(tmp_path / "rp")
    w = VersionedStreamArrowWriter(d)
    batch = pa.RecordBatch.from_pydict({"k": [1, 2]})
    w.commit([w.write(iter([batch]))], 0)
    assert latest_version(d) == 1
    # simulate the crash window: ledger says v1 committed, pointer lost
    os.remove(f"{d}/_LATEST")
    w.commit([w.write(iter([batch]))], 0)  # replay of epoch 0
    assert versions(d) == [1], "replay must not double-publish"
    assert latest_version(d) == 1, "replay must repair the pointer"


def test_writer_reclaims_orphan_snapshot_slot(spark, tmp_path):
    """A crashed job's unledger'd orphan v-dir above the pointer is
    DELETED under the next writer's claim and its slot reused — the
    round-5 exposure (allocating PAST the orphan let it surface as a
    committed version once the pointer moved beyond it) is gone."""
    import os

    from fp_data_lakehouse_spark.sources.versioned import read_table, write_version

    d = str(tmp_path / "orphan")
    df = spark.range(10).select(F.col("id").alias("k"))
    write_version(df, d)  # v1, pointer -> 1
    # orphan: crashed writer left a partial v2 dir, pointer still 1
    os.makedirs(f"{d}/v00002")
    with open(f"{d}/v00002/garbage.parquet", "w") as f:
        f.write("not parquet")
    register_python_sources(spark)
    df.write.format("fp_versioned").option("path", d).mode("append").save()
    assert latest_version(d) == 2, "orphan slot must be reclaimed"
    assert versions(d) == [1, 2]
    # the reclaimed v2 holds the NEW commit, not the orphan's garbage
    assert read_table(spark, d).count() == 10
    assert read_table(spark, d, version=2).count() == 10
    assert not os.path.exists(f"{d}/v00002/garbage.parquet")


def test_feed_schema_without_version_column_rejected(versioned_table):
    d, _, _, _ = versioned_table
    from pyspark.sql.types import LongType, StructField, StructType

    with pytest.raises(ValueError, match="_version"):
        VersionFeedStreamReader(
            StructType([StructField("o_custkey", LongType())]), d
        )


# ---------------------------------------------------------------------------
# round 6: appId-scoped ledger, reset-checkpoint detection, URI prefix
# ---------------------------------------------------------------------------


def test_uri_prefix_preserves_authority(tmp_path):
    """hdfs://nn:8020/t must keep its authority in executor-bound
    paths (round-5 advisor finding: scheme-only reconstruction turned
    it into hdfs:///t). Verified via file:// where from_uri strips the
    prefix the same way."""
    d = str(tmp_path / "pfx")
    os.makedirs(d)
    assert pyds._uri_prefix(d) == ""  # bare local path
    assert pyds._uri_prefix(f"file://{d}") == "file://"
    # authority-bearing URIs: subtracting the fs-internal path keeps
    # everything up to the path component (no live hdfs in container;
    # exercise the string arithmetic on the documented shapes)
    assert pyds._uri_prefix(f"file://{d}/") == "file://"


def test_stream_writer_reset_checkpoint_raises(tmp_path):
    """A fresh checkpoint restarts batchIds at 0; without app identity
    the old ledger silently swallowed every epoch (round-5 advisor
    finding #1). Now: same appId -> loud error naming the fix; fresh
    appId -> its own idempotence scope, data publishes."""
    from fp_data_lakehouse_spark.sources.pyds import VersionedStreamArrowWriter

    d = str(tmp_path / "reset")
    batch = pa.RecordBatch.from_pydict({"k": [1, 2, 3]})

    run1 = VersionedStreamArrowWriter(d, "appA")
    run1.commit([run1.write(iter([batch]))], 0)
    run1.commit([run1.write(iter([batch]))], 1)
    assert latest_version(d) == 2

    # reset checkpoint, same appId: batch 0 is below appA's high-water
    # mark and NOT a replay of its newest epoch -> must raise, not drop
    run2 = VersionedStreamArrowWriter(d, "appA")
    with pytest.raises(ValueError, match="txnAppId"):
        run2.commit([run2.write(iter([batch]))], 0)
    assert latest_version(d) == 2, "failed commit publishes nothing"

    # reset checkpoint, FRESH appId: own scope, publishes normally
    run3 = VersionedStreamArrowWriter(d, "appB")
    run3.commit([run3.write(iter([batch]))], 0)
    assert latest_version(d) == 3
    assert versions(d) == [1, 2, 3]

    # appB's replay of ITS newest epoch still dedups
    run3.commit([run3.write(iter([batch]))], 0)
    assert latest_version(d) == 3

    # ledger is app-scoped on disk
    entries = _ledger_entries(d, LocalFsBackend())
    assert entries == {("appA", 0): 1, ("appA", 1): 2, ("appB", 0): 3}


def test_stream_writer_legacy_ledger_lines_parse(tmp_path):
    """Pre-round-6 ledgers used batchId:version lines; they must read
    back under appId 'default' so existing tables keep their replay
    idempotence."""
    d = str(tmp_path / "legacy")
    os.makedirs(d)
    with open(f"{d}/_COMMITS", "w") as f:
        f.write("0:1\n1:2")
    assert _ledger_entries(d, LocalFsBackend()) == {("default", 0): 1, ("default", 1): 2}


def test_stream_writers_use_run_unique_staging(tmp_path):
    """Two writer instances (restart / concurrent queries) must not
    share a staging dir — one run's sweep can never eat the other's
    staged files (round-5 advisor finding #3)."""
    from fp_data_lakehouse_spark.sources.pyds import VersionedStreamArrowWriter

    d = str(tmp_path / "uniq")
    wa = VersionedStreamArrowWriter(d, "a")
    wb = VersionedStreamArrowWriter(d, "b")
    assert wa._staging != wb._staging
    batch = pa.RecordBatch.from_pydict({"k": [1]})
    ma = wa.write(iter([batch]))  # staged in wa's dir
    mb = wb.write(iter([batch]))  # staged in wb's dir
    wa.commit([ma], 0)  # sweeps ONLY wa's staging
    assert os.path.exists(f"{wb._staging}/{mb.file_name}"), (
        "another run's staged file must survive wa's sweep"
    )
    wb.commit([mb], 0)
    assert versions(d) == [1, 2]


def test_stream_writer_rejects_bad_app_id(tmp_path):
    from fp_data_lakehouse_spark.sources.pyds import VersionedStreamArrowWriter

    for bad in ("", "a:b", "a\nb"):
        with pytest.raises(ValueError):
            VersionedStreamArrowWriter(str(tmp_path / "x"), bad)


# ---------------------------------------------------------------------------
# one commit protocol: the writers commit through versioned._claim_slot
# ---------------------------------------------------------------------------


def test_stream_sink_lost_claim_publishes_nothing(tmp_path, monkeypatch):
    """A stream-sink commit whose claim lease another writer id took
    over before the pointer swap (a lease reclaimed while the commit
    stalled) raises ConcurrentWriteError and publishes no version —
    the ownership check every versioned.py commit makes."""
    from fp_data_lakehouse_spark.sources import versioned
    from fp_data_lakehouse_spark.sources.pyds import VersionedStreamArrowWriter

    d = str(tmp_path / "lost")
    w = VersionedStreamArrowWriter(d, "app")
    batch = pa.RecordBatch.from_pydict({"k": [1, 2]})
    w.commit([w.write(iter([batch]))], 0)
    real_claim_slot = versioned._claim_slot

    def reclaimed(table_dir, backend, base_version, **kw):
        v = real_claim_slot(table_dir, backend, base_version, **kw)
        backend.write_text_atomic(
            f"{table_dir}/_claim_v{v:05d}", versioned._lease_line("intruder")
        )
        return v

    monkeypatch.setattr(versioned, "_claim_slot", reclaimed)
    with pytest.raises(versioned.ConcurrentWriteError, match="no longer owned"):
        w.commit([w.write(iter([batch]))], 1)
    assert latest_version(d) == 1
    assert versions(d) == [1]
    assert _ledger_entries(d, LocalFsBackend()) == {("app", 0): 1}


def test_uri_table_commits_through_arrow_backend(tmp_path):
    """A scheme:// table resolves and commits through the pyarrow.fs
    backend: the sink publishes, a replay dedups, the version resolves
    through the same backend, and the claim's check-then-create
    degradation warns."""
    from fp_data_lakehouse_spark.sources.pyds import (
        VersionedStreamArrowWriter,
        _backend,
    )

    d = str(tmp_path / "uri")
    w = VersionedStreamArrowWriter(f"file://{d}")
    batch = pa.RecordBatch.from_pydict({"k": [1, 2, 3]})
    with pytest.warns(RuntimeWarning, match="check-then-create"):
        w.commit([w.write(iter([batch]))], 0)
    w.commit([w.write(iter([batch]))], 0)  # replay: publishes nothing
    w.commit([w.write(iter([batch]))], 1)
    assert versions(d) == [1, 2] and latest_version(d) == 2
    uri = f"file://{d}"
    assert resolve_snapshot(uri, None, _backend(uri)).version == 2
    assert _ledger_entries(d, LocalFsBackend()) == {
        ("default", 0): 1,
        ("default", 1): 2,
    }
    assert [n for n in os.listdir(d) if n.startswith("_claim_")] == []


def test_timestamp_columns_read_as_instants(spark, tmp_path):
    """Spark writes TIMESTAMP as INT96 parquet, which pyarrow reads as
    naive timestamp[ns] (Spark's Arrow bridge rejected it). Both Python
    sources read such a column as TimestampType, with the instants
    versioned.read_table returns — including one past the ns range."""
    import uuid

    import pyarrow.parquet as pq

    from fp_data_lakehouse_spark.sources.versioned import read_table, write_version

    d = str(tmp_path / "ts")
    df = spark.createDataFrame(
        [
            (1, "2024-01-01 23:59:59.7"),
            (2, "1995-06-30 00:00:00.123456"),
            (3, "2300-01-01 12:00:00"),
            (4, None),
        ],
        "k long, s string",
    ).selectExpr("k", "CAST(s AS TIMESTAMP) AS ts")
    write_version(df, d, manifest=True)
    body = __import__("json").load(open(f"{d}/_manifest_v00001.json"))
    md = pq.ParquetFile(f"{d}/{body['files'][0]}").schema
    assert md.column(1).physical_type == "INT96"
    register_python_sources(spark)
    want = {(r.k, r.ts) for r in read_table(spark, d).collect()}
    assert len(want) == 4

    batch = spark.read.format("fp_versioned").option("path", d).load()
    assert batch.schema["ts"].dataType.typeName() == "timestamp"
    assert {(r.k, r.ts) for r in batch.collect()} == want

    name = f"tsfeed_{uuid.uuid4().hex[:6]}"
    q = (
        spark.readStream.format("fp_versioned_feed")
        .option("path", d)
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert {(r.k, r.ts) for r in spark.table(name).collect()} == want


# ---------------------------------------------------------------------------
# round 8: the Python DataSource resolves MANIFEST-published versions —
# both readers see the same snapshot set regardless of publication form
# ---------------------------------------------------------------------------


def test_batch_source_reads_manifest_versions(spark, tmp_path):
    from fp_data_lakehouse_spark.sources.pyds import register_python_sources
    from fp_data_lakehouse_spark.sources.versioned import write_version

    register_python_sources(spark)
    d = str(tmp_path / "mt")
    df1 = spark.range(5).selectExpr("id", "id * 2 AS v")
    df2 = spark.range(9).selectExpr("id", "id * 3 AS v")
    write_version(df1, d, manifest=True)
    write_version(df2, d)  # mixed table: v2 copy-published
    head = spark.read.format("fp_versioned").option("path", d).load()
    assert head.count() == 9
    tt = (
        spark.read.format("fp_versioned")
        .option("path", d)
        .option("version", "1")
        .load()
    )
    assert {(r.id, r.v) for r in tt.collect()} == {(i, 2 * i) for i in range(5)}


def test_stream_feed_replays_manifest_versions(spark, tmp_path):
    from fp_data_lakehouse_spark.sources.pyds import register_python_sources
    from fp_data_lakehouse_spark.sources.versioned import write_version

    register_python_sources(spark)
    d = str(tmp_path / "mt2")
    write_version(spark.range(3).selectExpr("id", "id AS v"), d, manifest=True)
    write_version(spark.range(4).selectExpr("id", "id AS v"), d, manifest=True)
    feed = (
        spark.readStream.format("fp_versioned_feed").option("path", d).load()
    )
    import uuid as _uuid

    name = f"mfeed_{_uuid.uuid4().hex[:6]}"
    q = (
        feed.writeStream.format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {(r._version, r.id) for r in spark.table(name).collect()}
    assert got == {(1, i) for i in range(3)} | {(2, i) for i in range(4)}


def test_file_may_match_pruning_logic():
    from fp_data_lakehouse_spark.sources.versioned import _file_may_match

    st = {"k": [10, 20], "s": ["b", "d"]}
    assert _file_may_match(st, [("eq", "k", 15)])
    assert not _file_may_match(st, [("eq", "k", 9)])
    assert not _file_may_match(st, [("eq", "k", 21)])
    assert _file_may_match(st, [("ge", "k", 20)])
    assert not _file_may_match(st, [("ge", "k", 21)])
    assert not _file_may_match(st, [("gt", "k", 20)])
    assert _file_may_match(st, [("le", "k", 10)])
    assert not _file_may_match(st, [("le", "k", 9)])
    assert not _file_may_match(st, [("lt", "k", 10)])
    assert not _file_may_match(st, [("in", "k", (1, 2, 30))])
    assert _file_may_match(st, [("in", "k", (1, 15))])
    assert not _file_may_match(st, [("eq", "s", "a")])
    assert _file_may_match(st, [("eq", "s", "c")])
    # unknown column / missing stats / cross-type: never prune
    assert _file_may_match(st, [("eq", "zzz", 1)])
    assert _file_may_match(None, [("eq", "k", 999)])
    assert _file_may_match({}, [("eq", "k", 999)])
    assert _file_may_match(st, [("eq", "k", "not-an-int")])
    # notnull carries no range information
    assert _file_may_match(st, [("notnull", "k", None)])


def test_manifest_stats_skip_files_end_to_end(spark, tmp_path):
    """Range-layout manifest commit + a pushed filter: the reader must
    plan FEWER file partitions than the snapshot holds, and the result
    must still match the plain filter exactly (skipping is I/O-only)."""
    from fp_data_lakehouse_spark.sources.pyds import (
        VersionedDataSource,
        _snapshot_schema,
        register_python_sources,
    )
    from fp_data_lakehouse_spark.sources.versioned import write_version

    register_python_sources(spark)
    d = str(tmp_path / "sk")
    df = spark.range(10_000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v")
    )
    # range layout -> disjoint per-file k ranges (the z-order/cluster
    # precondition every data-skipping story assumes)
    write_version(df.repartitionByRange(8, "k"), d, manifest=True)

    from pyspark.sql.datasource import LessThanOrEqual

    reader = VersionedDataSource({"path": d, "pushdown": "true"}).reader(
        _snapshot_schema(d, None)
    )
    assert len(pyds._bin_files(reader.partitions())) == 8  # no filter: all files
    reader.pushFilters([LessThanOrEqual(("k",), 100)])
    pruned = pyds._bin_files(reader.partitions())
    assert 1 <= len(pruned) <= 2, f"expected ~1 file to survive, got {len(pruned)}"

    got = (
        spark.read.format("fp_versioned")
        .option("path", d)
        .load()
        .filter(F.col("k") <= 100)
    )
    want = df.filter(F.col("k") <= 100)
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    assert got.count() == 101


# ---------------------------------------------------------------------------
# round 9: column mapping through the Python DataSource
# ---------------------------------------------------------------------------


def test_batch_source_reads_column_mapping(spark, tmp_path):
    """A renamed/dropped table reads through fp_versioned with the
    mapped logical schema — latest under the new names, a pinned
    pre-rename version under its own — and mapping-aware pushdown
    still prunes correctly (translated to physical for stats and
    arrow filters, re-applied by Spark above)."""
    from fp_data_lakehouse_spark.sources.versioned import (
        drop_column,
        read_table,
        rename_column,
        write_version,
    )

    d = str(tmp_path / "mapped")
    df = spark.range(1_000).selectExpr(
        "id AS k", "id * 2 AS v", "CAST(id % 5 AS INT) AS tag"
    )
    write_version(df.repartitionByRange(4, "k"), d, manifest=True)
    rename_column(spark, d, "v", "value")
    drop_column(spark, d, "tag")
    register_python_sources(spark)

    latest = spark.read.format("fp_versioned").option("path", d).load()
    assert latest.columns == ["k", "value"]
    got = {(r.k, r.value) for r in latest.collect()}
    assert got == {(i, 2 * i) for i in range(1_000)}
    # pushdown on a LOGICAL name over physically-named files/stats —
    # fresh pushdown-enabled load (one filter context per load)
    filt = (
        spark.read.format("fp_versioned")
        .option("path", d)
        .option("pushdown", "true")
        .load()
        .filter(F.col("value") <= 100)
    )
    assert {(r.k, r.value) for r in filt.collect()} == {
        (i, 2 * i) for i in range(51)
    }
    # pinned pre-rename version: its own names, same values
    v1 = spark.read.format("fp_versioned").option("path", d).option("version", "1").load()
    assert v1.columns == ["k", "v", "tag"]
    assert v1.count() == 1_000
    # pyds and JVM reader agree on the mapped head
    jvm = read_table(spark, d)
    assert latest.exceptAll(jvm).count() == 0
    assert jvm.exceptAll(latest).count() == 0


def test_stream_feed_replays_across_rename(spark, tmp_path):
    """The version-feed stream declares the LATEST logical schema and
    replays pre-rename versions through the stable physical names."""
    from fp_data_lakehouse_spark.sources.versioned import (
        merge_into_version_cow,
        rename_column,
        write_version,
    )

    d = str(tmp_path / "feedmap")
    df = spark.range(100).selectExpr("id AS k", "id * 2 AS v")
    write_version(df, d, manifest=True)                      # v1 (old name)
    rename_column(spark, d, "v", "value")                    # v2 (metadata)
    upd = spark.range(10).selectExpr("id AS k", "id * 100 AS value")
    merge_into_version_cow(spark, d, upd, ["k"])             # v3 (new name)
    register_python_sources(spark)

    feed = spark.readStream.format("fp_versioned_feed").option("path", d).load()
    assert feed.columns == ["k", "value", "_version"]
    out = str(tmp_path / "out")
    q = (
        feed.writeStream.format("memory")
        .queryName("feedmap_q")
        .option("checkpointLocation", out)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM feedmap_q").collect()
    by_ver = {}
    for r in rows:
        by_ver.setdefault(r._version, {})[r.k] = r.value
    assert set(by_ver) == {1, 2, 3}
    assert by_ver[1][7] == 14          # pre-rename version, new logical name
    assert by_ver[3][7] == 700         # post-merge values
    assert by_ver[2] == by_ver[1]      # metadata-only commit: same rows


def test_pushdown_state_is_per_load_opt_in(spark, tmp_path):
    """Spark caches the planned scan (with the LAST pushdown's reader
    state) on the relation behind one .load() handle, so a derived
    filtered query would silently shrink later UNFILTERED reads of the
    same handle. With pushdown OFF (the default) the reader keeps no
    filter state and the shared handle stays correct; the opt-in
    accepts the one-filter-context-per-load contract (and this test
    documents the hazard the default closes)."""
    from fp_data_lakehouse_spark.sources.versioned import write_version

    d = str(tmp_path / "pdopt")
    write_version(
        spark.range(100).selectExpr("id AS k", "id * 2 AS v"), d, manifest=True
    )
    register_python_sources(spark)
    base = spark.read.format("fp_versioned").option("path", d).load()
    assert base.filter(F.col("v") <= 20).count() == 11
    # the same handle, unfiltered, AFTER a filtered derivation ran:
    # must still see every row (fails with 11 if pushdown state leaked)
    assert base.count() == 100
    # opt-in handle consumed through exactly one filter context prunes
    pushed = (
        spark.read.format("fp_versioned")
        .option("path", d)
        .option("pushdown", "true")
        .load()
    )
    assert pushed.filter(F.col("v") <= 20).count() == 11


# ---------------------------------------------------------------------------
# round 9: stats-skipping breadth + explicit soundness
# ---------------------------------------------------------------------------


def test_file_may_match_soundness_matrix():
    from fp_data_lakehouse_spark.sources.versioned import _file_may_match

    import datetime

    d = datetime.date(1995, 6, 30)
    # legacy 2-entry stats still work
    assert not _file_may_match({"k": [10, 20]}, [("le", "k", 5)])
    assert _file_may_match({"k": [10, 20]}, [("le", "k", 15)])
    # 4-entry with values: range pruning + notnull kept (some non-null)
    assert not _file_may_match({"k": [10, 20, 3, 9]}, [("gt", "k", 20)])
    assert _file_may_match({"k": [10, 20, 3, 9]}, [("notnull", "k", None)])
    # all-null column: notnull prunes, comparisons prune
    assert not _file_may_match({"k": [None, None, 9, 9]}, [("notnull", "k", None)])
    assert not _file_may_match({"k": [None, None, 9, 9]}, [("eq", "k", 1)])
    # empty file (0 rows): never claim all-null proof
    assert _file_may_match({"k": [None, None, 0, 0]}, [("notnull", "k", None)])
    # date literal vs ISO-string stats: chronological pruning
    assert not _file_may_match(
        {"d": ["1996-01-01", "1996-12-31", 0, 5]}, [("le", "d", d)]
    )
    assert _file_may_match(
        {"d": ["1995-01-01", "1995-12-31", 0, 5]}, [("le", "d", d)]
    )
    # string ranges
    assert not _file_may_match({"s": ["K000", "K099", 0, 5]}, [("ge", "s", "K100")])
    # UNUSABLE min/max (decimal/binary stats) with real values: the
    # entry is [None, None, nulls<rows] — comparisons must KEEP the
    # file (only a proven all-null count may prune)
    assert _file_may_match({"k": [None, None, 2, 9]}, [("eq", "k", 1)])
    assert _file_may_match({"k": [None, None, 2, 9]}, [("le", "k", 0)])
    assert _file_may_match({"k": [None, None, 2, 9]}, [("notnull", "k", None)])
    # missing stats for the column, or no stats at all: keep
    assert _file_may_match({"other": [1, 2]}, [("le", "k", 0)])
    assert _file_may_match({}, [("le", "k", 0)])
    assert _file_may_match(None, [("le", "k", 0)])


def test_statsless_file_is_never_skipped(spark, tmp_path):
    """THE soundness pin for the skipping index: a data file whose row
    groups carry no statistics (write_statistics=False) joins the
    manifest WITHOUT a stats entry, and every pushed filter must keep
    it — pruning is an optimization, never a correctness dependency."""
    import json
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql.datasource import LessThanOrEqual

    from fp_data_lakehouse_spark.sources.pyds import (
        VersionedDataSource,
        _snapshot_schema,
    )
    from fp_data_lakehouse_spark.sources.versioned import write_version

    d = str(tmp_path / "nostats")
    df = spark.range(1_000).selectExpr("id AS k", "id * 2 AS v")
    write_version(df.repartitionByRange(4, "k"), d, manifest=True)

    # plant a stats-less file into the committed manifest's prefix
    mpath = f"{d}/_manifest_v00001.json"
    body = json.loads(open(mpath).read())
    prefix = os.path.dirname(f"{d}/{body['files'][0]}")
    extra = "part-nostats.parquet"
    pq.write_table(
        pa.table({"k": pa.array([5_000], pa.int64()), "v": pa.array([1], pa.int64())}),
        f"{prefix}/{extra}",
        write_statistics=False,
    )
    rel = f"{os.path.relpath(prefix, d)}/{extra}"
    body["files"].append(rel)
    assert extra not in body["stats"], "stats-less file must carry no entry"
    open(mpath, "w").write(json.dumps(body))

    reader = VersionedDataSource({"path": d, "pushdown": "true"}).reader(
        _snapshot_schema(d, None)
    )
    assert len(pyds._bin_files(reader.partitions())) == 5
    # k=5000 lives ONLY in the stats-less file; a k>=4000 filter prunes
    # every stats-bearing file but must keep the blind one
    from pyspark.sql.datasource import GreaterThanOrEqual

    reader.pushFilters([GreaterThanOrEqual(("k",), 4_000)])
    kept = pyds._bin_files(reader.partitions())
    assert len(kept) == 1 and kept[0].endswith(extra), kept
    # and a full read through the format still sees the planted row
    register_python_sources(spark)
    got = (
        spark.read.format("fp_versioned")
        .option("path", d)
        .option("pushdown", "true")
        .load()
        .filter(F.col("k") >= 4_000)
        .collect()
    )
    assert {(r.k, r.v) for r in got} == {(5_000, 1)}


def test_sql_view_over_fp_versioned(spark, tmp_path):
    """The SQL surface the DataSource API exists for: CREATE TEMPORARY
    VIEW ... USING fp_versioned, with time travel via OPTIONS."""
    from fp_data_lakehouse_spark.sources.versioned import write_version

    d = str(tmp_path / "sqlv")
    write_version(spark.range(5).selectExpr("id AS k", "id * 2 AS v"), d, manifest=True)
    write_version(spark.range(9).selectExpr("id AS k", "id * 2 AS v"), d, manifest=True)
    register_python_sources(spark)
    spark.sql(
        f"CREATE OR REPLACE TEMPORARY VIEW vhead USING fp_versioned OPTIONS (path '{d}')"
    )
    spark.sql(
        f"CREATE OR REPLACE TEMPORARY VIEW vold USING fp_versioned "
        f"OPTIONS (path '{d}', version '1')"
    )
    assert spark.sql("SELECT COUNT(*) AS n FROM vhead").head()["n"] == 9
    assert spark.sql("SELECT COUNT(*) AS n FROM vold").head()["n"] == 5
    assert spark.sql("SELECT SUM(v) AS s FROM vold").head()["s"] == 20
    spark.sql("DROP VIEW vhead")
    spark.sql("DROP VIEW vold")


def test_stream_feed_applies_deletion_vectors(spark, tmp_path):
    """A dv-delete commit replays through the version feed with the
    deleted positions masked — both for the dv'd version itself and
    for later versions referencing the same files."""
    from pyspark.sql import functions as F

    from fp_data_lakehouse_spark.sources.versioned import (
        delete_where_dv,
        write_version,
    )

    d = str(tmp_path / "feeddv")
    write_version(
        spark.range(100).selectExpr("id AS k", "id * 2 AS v").repartitionByRange(2, "k"),
        d,
        manifest=True,
    )
    delete_where_dv(spark, d, F.col("k") % 10 == 7)
    register_python_sources(spark)
    feed = spark.readStream.format("fp_versioned_feed").option("path", d).load()
    q = (
        feed.writeStream.format("memory")
        .queryName("feeddv_q")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM feeddv_q").collect()
    v1 = {r.k for r in rows if r._version == 1}
    v2 = {r.k for r in rows if r._version == 2}
    assert v1 == set(range(100))
    assert v2 == {i for i in range(100) if i % 10 != 7}


def test_pyds_added_column_backfill(spark, tmp_path):
    """A metadata-only ADD COLUMN (versioned.add_column) reads through
    the Python DataSource: schema declares the manifest's DDL type,
    pre-add files NULL-backfill per batch, post-add rewrites carry real
    values, pre-add versions time-travel without the column, and the
    version feed replays mixed-schema files under the latest logical
    schema."""
    from pyspark.sql import functions as F

    from fp_data_lakehouse_spark.sources.versioned import (
        add_column,
        merge_into_version_cow,
        read_table,
        write_version,
    )

    d = str(tmp_path / "addcol")
    write_version(
        spark.range(20).selectExpr("id AS k", "id * 2 AS v").repartitionByRange(2, "k"),
        d,
        manifest=True,
    )
    add_column(spark, d, "score", "double")
    merge_into_version_cow(
        spark,
        d,
        spark.createDataFrame([(1, 111, 9.5), (50, 500, 1.0)], "k long, v long, score double"),
        ["k"],
    )
    register_python_sources(spark)
    pyr = spark.read.format("fp_versioned").option("path", d).load()
    assert pyr.schema["score"].dataType.typeName() == "double"
    got = {(r.k, r.v, r.score) for r in pyr.collect()}
    jvm = {(r.k, r.v, r.score) for r in read_table(spark, d).collect()}
    assert got == jvm and (2, 4, None) in got and (1, 111, 9.5) in got
    # pushed filter on a pre-add file's missing column is dropped for
    # that file (pruning only; Spark refilters above)
    filtered = (
        spark.read.format("fp_versioned")
        .option("path", d)
        .option("pushdown", "true")
        .load()
        .filter(F.col("score").isNotNull())
    )
    assert {(r.k, r.score) for r in filtered.collect()} == {(1, 9.5), (50, 1.0)}
    # pre-add time travel: no column at all
    p1 = spark.read.format("fp_versioned").option("path", d).option("version", "1").load()
    assert p1.columns == ["k", "v"] and p1.count() == 20
    # feed replay across the add: v1/v2 files lack the physical column
    feed = spark.readStream.format("fp_versioned_feed").option("path", d).load()
    q = (
        feed.writeStream.format("memory")
        .queryName("addcol_feed")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT _version, COUNT(*) n, COUNT(score) s FROM addcol_feed GROUP BY 1 ORDER BY 1").collect()
    assert [(r[0], r.n, r.s) for r in rows] == [(1, 20, 0), (2, 20, 0), (3, 21, 2)], rows


def test_stream_feed_starting_version(spark, tmp_path):
    """option('startingVersion', n) replays from version n inclusive
    (Delta's startingVersion contract); asking for a version below the
    earliest retained one fails loudly instead of silently skipping."""
    from fp_data_lakehouse_spark.sources.pyds import (
        VersionFeedDataSource,
        register_python_sources,
    )
    from fp_data_lakehouse_spark.sources.versioned import write_version

    register_python_sources(spark)
    d = str(tmp_path / "svt")
    for n in (2, 3, 4):
        write_version(spark.range(n).selectExpr("id", "id AS v"), d, manifest=True)

    feed = (
        spark.readStream.format("fp_versioned_feed")
        .option("path", d)
        .option("startingVersion", 2)
        .load()
    )
    import uuid as _uuid

    name = f"svfeed_{_uuid.uuid4().hex[:6]}"
    q = (
        feed.writeStream.format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {(r._version, r.id) for r in spark.table(name).collect()}
    assert got == {(2, i) for i in range(3)} | {(3, i) for i in range(4)}

    # below the earliest retained version: loud failure at first offset
    ds = VersionFeedDataSource({"path": d, "startingversion": "0"})
    reader = ds.streamReader(ds.schema())
    with pytest.raises(ValueError, match="predates the earliest"):
        reader.initialOffset()

    # ABOVE the latest committed version: equally loud (round-10
    # ADVICE — a nonexistent future version must not silently idle),
    # except latest+1, the legal "tail from the next commit" idiom
    ds = VersionFeedDataSource({"path": d, "startingversion": "9"})
    with pytest.raises(ValueError, match="does not exist"):
        ds.streamReader(ds.schema()).initialOffset()
    ds = VersionFeedDataSource({"path": d, "startingversion": "3"})
    assert ds.streamReader(ds.schema()).initialOffset() == {"version": 2}
    latest = 3  # versions 1..3 committed above
    ds = VersionFeedDataSource({"path": d, "startingversion": str(latest + 1)})
    assert ds.streamReader(ds.schema()).initialOffset() == {"version": latest}

    # empty table: nothing to replay — already loud at schema
    # resolution (there is no version to derive a schema from); the
    # initialOffset guard behind it is defense in depth
    import os as _os

    empty = str(tmp_path / "svt_empty")
    _os.makedirs(empty, exist_ok=True)
    ds = VersionFeedDataSource({"path": empty, "startingversion": "1"})
    with pytest.raises(FileNotFoundError, match="no versions"):
        ds.schema()


def test_stream_feed_replays_across_mapping_reset(spark, tmp_path):
    """A full rewrite (compaction) RESETS the column mapping; the feed
    must still replay pre-reset versions — per-version translation by
    stable field id (head mapped) or by name (head unmapped), instead
    of one latest-mapping translation that breaks the moment the head
    loses its mapping (round-10 review finding)."""
    from fp_data_lakehouse_spark.sources.pyds import register_python_sources
    from fp_data_lakehouse_spark.sources.versioned import (
        add_column,
        compact_version,
        merge_into_version_cow,
        write_version,
    )

    register_python_sources(spark)
    d = str(tmp_path / "reset")
    write_version(spark.range(3).selectExpr("id", "id * 10 AS v"), d, manifest=True)
    assert add_column(spark, d, "score", "bigint") == 2
    upd = spark.createDataFrame([(1, 10, 77)], "id long, v long, score long")
    assert merge_into_version_cow(spark, d, upd, keys=["id"]) == 3
    assert compact_version(spark, d, 1, manifest=True) == 4  # mapping reset

    feed = spark.readStream.format("fp_versioned_feed").option("path", d).load()
    import uuid as _uuid

    name = f"reset_{_uuid.uuid4().hex[:6]}"
    q = (
        feed.writeStream.format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {(r._version, r.id, r.v, r.score) for r in spark.table(name).collect()}
    v1 = {(1, i, i * 10, None) for i in range(3)}
    v2 = {(2, i, i * 10, None) for i in range(3)}  # post-add, all-NULL backfill
    v3 = {(3, i, i * 10, 77 if i == 1 else None) for i in range(3)}
    v4 = {(4, i, i * 10, 77 if i == 1 else None) for i in range(3)}
    assert got == v1 | v2 | v3 | v4, sorted(got)


def test_stream_feed_rename_across_mapping_reset(spark, tmp_path):
    """Rename + mapping-resetting rewrite: the feed composes the
    translation THROUGH the dead era (by name at the boundary, by
    field id inside), so even pre-era versions replay with correct
    values under the head's names — no silent NULLs, no refusal."""
    from fp_data_lakehouse_spark.sources.pyds import register_python_sources
    from fp_data_lakehouse_spark.sources.versioned import (
        compact_version,
        rename_column,
        write_version,
    )

    register_python_sources(spark)
    d = str(tmp_path / "renreset")
    write_version(spark.range(3).selectExpr("id", "id * 10 AS v"), d, manifest=True)
    assert rename_column(spark, d, "v", "w") == 2
    assert compact_version(spark, d, 1, manifest=True) == 3

    feed = spark.readStream.format("fp_versioned_feed").option("path", d).load()
    assert feed.schema.names == ["id", "w", "_version"]
    import uuid as _uuid

    name = f"ren_{_uuid.uuid4().hex[:6]}"
    q = (
        feed.writeStream.format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {(r._version, r.id, r.w) for r in spark.table(name).collect()}
    per_version = {(ver, i, i * 10) for ver in (1, 2, 3) for i in range(3)}
    assert got == per_version, sorted(got)


def test_feed_rate_limit_offset_walk(spark, tmp_path):
    """Reader-level admission control: maxFilesPerTrigger splits one
    big version into file-indexed offsets; the caught-up offset is the
    canonical bare {"version": N} (pre-rate-limit checkpoints resume
    unchanged)."""
    from fp_data_lakehouse_spark.sources.versioned import write_version

    d = str(tmp_path / "rl")
    write_version(
        spark.range(40).selectExpr("id", "id AS v").repartitionByRange(4, "id"),
        d,
        manifest=True,
    )
    r = VersionFeedStreamReader.__new__(VersionFeedStreamReader)
    r._table_dir = d
    r._cols = ["id", "v"]
    r._starting_version = None
    r._max_files = 2
    r._max_bytes = None

    o0 = r.initialOffset()
    assert o0 == {"version": 0}
    o1 = r.latestOffset()
    assert o1 == {"version": 1, "index": 2}
    parts = pyds._bin_files(r.partitions(o0, o1))
    assert len(parts) == 2
    o2 = r.latestOffset()
    assert o2 == {"version": 1}  # remaining 2 files complete the version
    parts2 = pyds._bin_files(r.partitions(o1, o2))
    assert len(parts2) == 2
    assert set(parts) | set(parts2) == set(
        pyds._bin_files(r.partitions({"version": 0}, {"version": 1}))
    )
    # caught up: canonical offset, empty batch
    assert r.latestOffset() == {"version": 1}
    assert r.partitions(o2, {"version": 1}) == []


def test_feed_max_bytes_soft_cap_walk(spark, tmp_path):
    """maxBytesPerTrigger admits at least one file per batch even when
    a single file exceeds the budget (Delta's soft-cap contract)."""
    from fp_data_lakehouse_spark.sources.versioned import write_version

    d = str(tmp_path / "rb")
    write_version(
        spark.range(30).selectExpr("id", "id AS v").repartitionByRange(3, "id"),
        d,
        manifest=True,
    )
    r = VersionFeedStreamReader.__new__(VersionFeedStreamReader)
    r._table_dir = d
    r._cols = ["id", "v"]
    r._starting_version = None
    r._max_files = None
    r._max_bytes = 1  # every file exceeds this: one file per batch

    pos = r.initialOffset()
    seen = []
    for _ in range(5):
        end = r.latestOffset()
        if end == pos:
            break
        seen.append(len(pyds._bin_files(r.partitions(pos, end))))
        pos = end
    assert seen == [1, 1, 1]
    assert pos == {"version": 1}


def test_feed_rate_limited_drain_resumes_exactly(spark, tmp_path):
    """End-to-end: repeated rate-limited availableNow drains (one
    bounded batch per run under the Python source API) reassemble the
    table byte-identically, restart-exact across runs — the round-11
    verdict's done-criterion for admission control."""
    from fp_data_lakehouse_spark.sources.pyds import register_python_sources
    from fp_data_lakehouse_spark.sources.versioned import write_version

    register_python_sources(spark)
    d = str(tmp_path / "rr")
    write_version(
        spark.range(50).selectExpr("id", "id AS v").repartitionByRange(5, "id"),
        d,
        manifest=True,
    )
    work = str(tmp_path / "w")

    def drain():
        q = (
            spark.readStream.format("fp_versioned_feed").option("path", d)
            .option("maxFilesPerTrigger", "1").load()
            .writeStream.format("parquet")
            .option("path", f"{work}/out")
            .option("checkpointLocation", f"{work}/ck")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        try:
            return spark.read.parquet(f"{work}/out").count()
        except Exception:
            return 0

    counts = [drain()]
    for _ in range(9):
        c = drain()
        if c == counts[-1]:
            break
        counts.append(c)
    # 5 files -> 5 strictly-growing bounded steps, each one file
    assert counts[-1] == 50, counts
    assert len(counts) >= 5, counts
    assert all(b > a for a, b in zip(counts, counts[1:])), counts
    rows = spark.read.parquet(f"{work}/out").collect()
    got = {(r.id, r._version) for r in rows}
    assert got == {(i, 1) for i in range(50)}


# ---------------------------------------------------------------------------
# bin packing: the readers pack their files by Spark's FilePartition rule
# ---------------------------------------------------------------------------


def test_pack_follows_spark_file_partition_rule():
    """Known answers for Spark's getFilePartitions rule at its default
    constants: a bin closes before the file whose length would take it
    past 128 MiB, and every file adds 4 MiB of open cost."""
    mib = 1024 * 1024

    def shape(sizes):
        entries = [pyds._FileRead(f"f{i}.parquet") for i in range(len(sizes))]
        return [len(b.files) for b in pyds._pack(entries, sizes)]

    assert shape([]) == []
    # 31 one-byte files bring a bin to 124 MiB + 31 B; the 32nd still
    # fits (124 MiB + 32 B), the 33rd would pass 128 MiB
    assert shape([1] * 40) == [32, 8]
    # open cost alone fills a bin: 32 empty files reach 128 MiB, the
    # 33rd still fits (the rule compares the current size plus length)
    assert shape([0] * 40) == [33, 7]
    # a file past the cap gets a bin of its own
    assert shape([100 * mib, 30 * mib, 200 * mib, 1]) == [1, 1, 1, 1]
    # 64 MiB + 60 MiB fits; the third file would pass 128 MiB
    assert shape([60 * mib, 60 * mib, 1]) == [2, 1]


def _feed_and_batch_tables(spark, tmp_path):
    """A 4-version feed of 12 files (3 per version; v3 adds a deletion
    vector, v4 a column rename) and a 12-file snapshot with one shared
    deletion-vector object and a renamed column."""
    from fp_data_lakehouse_spark.sources.versioned import (
        delete_where_dv,
        rename_column,
        write_version,
    )

    feed = str(tmp_path / "feed12")
    write_version(
        spark.range(600).selectExpr("id AS k", "id * 3 AS v").repartitionByRange(3, "k"),
        feed,
        manifest=True,
    )
    write_version(
        spark.range(900).selectExpr("id AS k", "id * 5 AS v").repartitionByRange(3, "k"),
        feed,
        manifest=True,
    )
    delete_where_dv(spark, feed, F.col("k") % 10 == 7)
    rename_column(spark, feed, "v", "w")

    snap = str(tmp_path / "snap12")
    write_version(
        spark.range(3000).selectExpr("id AS k", "id * 2 AS v").repartitionByRange(12, "k"),
        snap,
        manifest=True,
    )
    delete_where_dv(spark, snap, F.col("k") % 10 == 7)
    rename_column(spark, snap, "v", "w")
    return feed, snap


def _read_rows(reader, bins) -> list[tuple]:
    rows = []
    for b in bins:
        for batch in reader.read(b):
            rows.extend(tuple(r.values()) for r in batch.to_pylist())
    return sorted(rows)


def _one_file_bins(bins):
    return [pyds._FileBin([f]) for b in bins for f in b.files]


def test_small_files_plan_one_bin_and_read_like_the_per_file_plan(spark, tmp_path):
    feed_dir, snap_dir = _feed_and_batch_tables(spark, tmp_path)

    src = pyds.VersionFeedDataSource({"path": feed_dir})
    r = src.streamReader(src.schema())
    bins = r.partitions(r.initialOffset(), r.latestOffset())
    assert len(bins) == 1 and len(bins[0].files) == 12
    assert [f.version for f in bins[0].files] == [1, 1, 1, 2, 2, 2, 3, 3, 3, 4, 4, 4]
    got = _read_rows(r, bins)
    assert got == _read_rows(r, _one_file_bins(bins))
    want_v2 = {(k, k * 5) for k in range(900) if k % 10 != 7}
    assert {(k, w) for k, w, v in got if v == 1} == {(k, k * 3) for k in range(600)}
    assert {(k, w) for k, w, v in got if v == 2} == {(k, k * 5) for k in range(900)}
    assert {(k, w) for k, w, v in got if v == 3} == want_v2
    assert {(k, w) for k, w, v in got if v == 4} == want_v2

    reader = pyds.VersionedDataSource({"path": snap_dir}).reader(
        pyds._snapshot_schema(snap_dir, None)
    )
    bins = reader.partitions()
    assert len(bins) == 1 and len(bins[0].files) == 12
    got = _read_rows(reader, bins)
    assert got == _read_rows(reader, _one_file_bins(bins))
    assert got == sorted((k, 2 * k) for k in range(3000) if k % 10 != 7)


def test_small_bin_constants_split_plans_and_keep_every_file_once(
    spark, tmp_path, monkeypatch
):
    feed_dir, snap_dir = _feed_and_batch_tables(spark, tmp_path)
    src = pyds.VersionFeedDataSource({"path": feed_dir})
    r = src.streamReader(src.schema())
    reader = pyds.VersionedDataSource({"path": snap_dir}).reader(
        pyds._snapshot_schema(snap_dir, None)
    )
    start, end = r.initialOffset(), r.latestOffset()
    want_feed = _read_rows(r, r.partitions(start, end))
    want_snap = _read_rows(reader, reader.partitions())
    fs, _ = pyds._fs_and_path(snap_dir)

    for open_cost in (0, 100):
        monkeypatch.setattr(pyds, "_OPEN_COST_BYTES", open_cost)
        for plan, rd, want in (
            (lambda: r.partitions(start, end), r, want_feed),
            (reader.partitions, reader, want_snap),
        ):
            files = pyds._bin_files(plan())
            sizes = dict(zip(files, pyds._file_sizes(fs, files, "")))
            # about three files per bin
            monkeypatch.setattr(
                pyds, "_MAX_BIN_BYTES", 3 * (max(sizes.values()) + open_cost)
            )
            bins = plan()
            assert len(bins) >= 4, [len(b.files) for b in bins]
            # every file exactly once, in plan order
            assert pyds._bin_files(bins) == files
            # each bin stops where the rule says: its files fit, and
            # the next bin's first file would not have
            for i, b in enumerate(bins):
                used = sum(sizes[f.file_path] + open_cost for f in b.files[:-1])
                assert used + sizes[b.files[-1].file_path] <= pyds._MAX_BIN_BYTES or len(b.files) == 1
                if i + 1 < len(bins):
                    used += sizes[b.files[-1].file_path] + open_cost
                    nxt = sizes[bins[i + 1].files[0].file_path]
                    assert used + nxt > pyds._MAX_BIN_BYTES
            assert _read_rows(rd, bins) == want


def test_deletion_vector_object_is_read_once_per_bin(spark, tmp_path, monkeypatch):
    import pyarrow.parquet as pq

    _, snap_dir = _feed_and_batch_tables(spark, tmp_path)
    reader = pyds.VersionedDataSource({"path": snap_dir}).reader(
        pyds._snapshot_schema(snap_dir, None)
    )
    (b,) = reader.partitions()
    dvs = {f.dv_path for f in b.files}
    assert len(b.files) == 12 and len(dvs) == 1 and None not in dvs
    calls = []
    real = pq.read_table

    def counting(*a, **kw):
        calls.append(a[0] if a else kw.get("source"))
        return real(*a, **kw)

    monkeypatch.setattr(pq, "read_table", counting)
    got = _read_rows(reader, [b])
    assert len(calls) == 1, calls
    assert got == sorted((k, 2 * k) for k in range(3000) if k % 10 != 7)


# ---------------------------------------------------------------------------
# one rule for "committed": every reader resolves the same version set
# ---------------------------------------------------------------------------


def _orphaned_table(spark, d: str) -> None:
    """v1, v2 manifests under the pointer; v3 a v-dir the ledger
    records above the pointer (its swap lost to a crash); v4 an
    unledgered manifest and v5 an unledgered v-dir above it, the
    orphans a crashed writer leaves for the next claim to delete."""
    from fp_data_lakehouse_spark.sources.versioned import write_version

    def rows(n: int, tag: int):
        return spark.range(n).selectExpr("id AS k", f"id * 10 + {tag} AS v")

    write_version(rows(4, 1), d, manifest=True)
    write_version(rows(5, 2), d, manifest=True)
    write_version(rows(6, 3), d)
    write_version(rows(7, 4), d, manifest=True)
    rows(8, 5).write.parquet(f"{d}/v00005")
    with open(f"{d}/_LATEST", "w") as f:
        f.write("2")
    with open(f"{d}/_COMMITS", "w") as f:
        f.write("app:0:3")


def test_every_reader_resolves_one_committed_set(spark, tmp_path):
    import uuid

    from fp_data_lakehouse_spark.sources.versioned import (
        change_feed,
        committed_versions,
        read_table,
    )

    register_python_sources(spark)
    d = str(tmp_path / "orphans")
    _orphaned_table(spark, d)
    assert versions(d) == [1, 2, 3, 4, 5]
    assert committed_versions(d) == [1, 2, 3]

    def rows(df):
        return sorted((r.k, r.v) for r in df.collect())

    def ds(version=None):
        reader = spark.read.format("fp_versioned").option("path", d)
        if version is not None:
            reader = reader.option("version", str(version))
        return reader.load()

    want = {v: rows(read_table(spark, d, version=v)) for v in (1, 2, 3)}
    assert [len(want[v]) for v in (1, 2, 3)] == [4, 5, 6]
    for v in (1, 2, 3):
        assert rows(ds(v)) == want[v]
    assert rows(read_table(spark, d)) == rows(ds()) == want[3]
    for v in (4, 5):
        with pytest.raises(FileNotFoundError, match="not committed"):
            read_table(spark, d, version=v)
        with pytest.raises(Exception, match="not committed"):
            ds(v).collect()
        with pytest.raises(FileNotFoundError, match="not committed"):
            change_feed(spark, d, 2, v, ["k"])
    # both manifest endpoints: the diff path, then the v-dir fallback
    assert {r._change_type for r in change_feed(spark, d, 1, 2, ["k"]).collect()} == {
        "insert", "update_postimage"
    }
    assert len(change_feed(spark, d, 2, 3, ["k"]).collect()) == 6

    name = f"orphanfeed_{uuid.uuid4().hex[:6]}"
    q = (
        spark.readStream.format("fp_versioned_feed").option("path", d).load()
        .writeStream.format("memory").queryName(name)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    fed = spark.table(name)
    assert sorted({r._version for r in fed.select("_version").collect()}) == [1, 2, 3]
    for v in (1, 2, 3):
        assert rows(fed.filter(F.col("_version") == v)) == want[v]
