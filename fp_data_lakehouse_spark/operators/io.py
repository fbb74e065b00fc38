"""Source/sink format round-trips certified on the driver's hard
signal (SURVEY.md §2.1 S1/S3-S5 extension beyond parquet): the engine
writes a table out through a text-based format with an EXPLICIT schema,
reads it back with the same schema (no inference — inference is a
correctness hazard, not a feature, in a pipeline), and proves the
round trip lossless by aggregating the re-read copy against an oracle
computed straight from the base table. A green row certifies the whole
format path: delimiter/quoting/escaping, null encoding, date
formatting, shortest-representation double round-trip (Spark writes
doubles via Java's shortest-repr toString, which parses back
bit-identically), and — on the JSON leg — nested array<struct> fidelity.

Scale notes: both legs are one write + one scan + one aggregate; the
write is the only shuffle-free full-data pass and lands under the
cluster-valid scratch root (sinks.alloc_scratch). CSV/JSON are the
interchange formats of ingestion edges, not warehouse storage — the
operator certifies the EDGE, the warehouse stays parquet/Delta.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from ..sources.sinks import alloc_scratch
from .registry import register

_IO01_SQL = """
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
       CAST(MIN(CAST(o_orderdate AS DATE)) AS VARCHAR) AS min_date,
       CAST(MAX(CAST(o_orderdate AS DATE)) AS VARCHAR) AS max_date
FROM orders
GROUP BY o_orderstatus
"""


@register("io01_csv_roundtrip_orders", oracle=_IO01_SQL)
def io01_csv_roundtrip_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders -> CSV (header, explicit schema) -> read back -> per-status
    rollup that must match the oracle computed from the parquet
    original. Covers delimiter/quoting, null handling, ISO date
    round-trip, and exact double round-trip via integer cents on the
    re-read values."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        F.col("o_orderdate").cast("date").alias("o_orderdate"),
        "o_orderpriority",
    )
    path = alloc_scratch(spark, "io01_csv") + "/orders_csv"
    orders.write.mode("overwrite").option("header", True).csv(path)
    back = (
        spark.read.schema(orders.schema)
        .option("header", True)
        .csv(path)
    )
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("sum_cents"),
        F.countDistinct("o_custkey").cast("long").alias("n_customers"),
        F.min("o_orderdate").cast("string").alias("min_date"),
        F.max("o_orderdate").cast("string").alias("max_date"),
    )


_IO02_SQL = """
WITH nested AS (
    SELECT l_orderkey,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM lineitem GROUP BY l_orderkey
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(n_lines) AS BIGINT) AS n_lines_total,
       CAST(SUM(cents) AS BIGINT) AS sum_cents,
       CAST(MAX(n_lines) AS BIGINT) AS max_lines_per_order
FROM nested
"""


@register("io02_json_nested_roundtrip", oracle=_IO02_SQL)
def io02_json_nested_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lineitem nested to one JSON document per order (array<struct> of
    line items), written as JSON lines, read back with the explicit
    nested schema, re-exploded and aggregated — the document-shaped
    interchange every API/event ingestion edge uses. A green row
    certifies nested-type fidelity through the text format: array
    ordering is irrelevant by construction (aggregates are
    order-insensitive), element structs keep field names/types, and
    doubles survive via shortest-repr round-trip (checked as exact
    integer cents)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )
    docs = li.groupBy("l_orderkey").agg(
        F.collect_list(
            F.struct("l_linenumber", "l_quantity", "l_extendedprice")
        ).alias("lines")
    )
    path = alloc_scratch(spark, "io02_json") + "/orders_json"
    docs.write.mode("overwrite").json(path)
    back = spark.read.schema(docs.schema).json(path)
    flat = back.select("l_orderkey", F.explode("lines").alias("ln"))
    per_order = flat.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(F.floor(F.col("ln.l_extendedprice") * 100).cast("long"))
        .cast("long")
        .alias("cents"),
    )
    return per_order.agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("n_lines").cast("long").alias("n_lines_total"),
        F.sum("cents").cast("long").alias("sum_cents"),
        F.max("n_lines").cast("long").alias("max_lines_per_order"),
    )


_IO03_YEAR = 1995

_IO03_SQL = f"""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM orders
WHERE EXTRACT(year FROM o_orderdate) = {_IO03_YEAR}
GROUP BY o_orderpriority
"""


@register("io03_partition_pruned_scan", oracle=_IO03_SQL)
def io03_partition_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned layout + partition pruning on the hard signal:
    orders land under the scratch root partitioned by order year, the
    read-back filters one year, and the rollup must match the oracle's
    predicate over the unpartitioned original. The filter reaches the
    scan as a PartitionFilter (plan-asserted in test_plan_quality), so
    only one year's directory is listed and read — the layout lever
    that turns a 100 TB scan into a 1-partition scan for time-scoped
    queries (`sources.sinks.write_partitioned`'s contract, certified
    end to end with values, not just plan text)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderpriority",
        "o_totalprice",
        F.year("o_orderdate").alias("year"),
    )
    path = alloc_scratch(spark, "io03_part") + "/orders_by_year"
    orders.write.mode("overwrite").partitionBy("year").parquet(path)
    back = spark.read.parquet(path).filter(F.col("year") == _IO03_YEAR)
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("sum_cents"),
    )


_IO04_CUTOFF_YEAR = 1995

_IO04_SQL = f"""
SELECT CASE WHEN EXTRACT(year FROM o_orderdate) >= {_IO04_CUTOFF_YEAR}
            THEN COALESCE(o_orderpriority, 'MISSING')
            ELSE 'MISSING' END AS priority,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM orders
GROUP BY 1
"""


@register("io04_schema_evolution_read", oracle=_IO04_SQL)
def io04_schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution ON READ: an early batch lands WITHOUT the
    priority column, a later batch appends WITH it, and a mergeSchema
    read reconstructs the union — old rows surface NULL for the added
    column (rendered 'MISSING' in the rollup, mirrored by the oracle's
    CASE on the cutoff). This is the additive-column evolution every
    long-lived ingestion pipeline performs; the certificate pins
    Spark's parquet schema merging + null back-fill semantics against
    an oracle that never sees the two-batch layout. (Type-changing or
    column-renaming evolution needs a table format with schema
    tracking — the versioned layer / Delta; documented boundary.)"""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.year("o_orderdate").alias("yr"),
        "o_orderpriority",
    )
    path = alloc_scratch(spark, "io04_evo") + "/orders_evolving"
    orders.filter(F.col("yr") < _IO04_CUTOFF_YEAR).select(
        "o_orderkey", "cents"
    ).write.mode("overwrite").parquet(path)
    orders.filter(F.col("yr") >= _IO04_CUTOFF_YEAR).select(
        "o_orderkey", "cents", "o_orderpriority"
    ).write.mode("append").parquet(path)
    back = spark.read.option("mergeSchema", True).parquet(path)
    return back.groupBy(
        F.coalesce("o_orderpriority", F.lit("MISSING")).alias("priority")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("cents").cast("long").alias("sum_cents"),
    )


_IO05_CORRUPT_MOD = 13

_IO05_SQL = f"""
SELECT 'quarantined' AS split,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(0 AS BIGINT) AS sum_cents,
       CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
       CAST(MAX(o_orderkey) AS BIGINT) AS max_key
FROM orders WHERE o_orderkey % {_IO05_CORRUPT_MOD} = 0
UNION ALL
SELECT 'valid' AS split,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
       CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
       CAST(MAX(o_orderkey) AS BIGINT) AS max_key
FROM orders WHERE o_orderkey % {_IO05_CORRUPT_MOD} <> 0
"""


@register("io05_corrupt_record_quarantine", oracle=_IO05_SQL)
def io05_corrupt_record_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-record policy on the ingestion edge, certified against a
    closed-form corruption rule (the reference analog: 4 of 41 PDFs
    rejected and logged, ETL_Transkrip.log:71-161; its batch twin is
    et04's regex quarantine). Orders are serialized to raw CSV lines
    with every ``orderkey % 13 == 0`` row deliberately malformed
    (non-numeric totalprice), then ingested with ``from_csv`` in
    PERMISSIVE mode + columnNameOfCorruptRecord: malformed rows keep
    their parseable fields, surface the raw line in the corrupt column,
    and are routed to the quarantine split; the census of both splits
    must match the oracle computed from the clean base table.

    ``from_csv`` (an expression, not a DataFrameReader) is the scale
    shape on purpose: parse + validity routing is ONE map-only pass —
    no caching workaround for the reader's corrupt-column filter
    restriction, no second scan, and the same expression drops into
    readStream for streaming ingestion unchanged."""
    orders = load_table(spark, sf_dir, "orders")
    lines = orders.select(
        F.concat_ws(
            ",",
            F.col("o_orderkey").cast("string"),
            F.when(
                F.col("o_orderkey") % _IO05_CORRUPT_MOD == 0, F.lit("N/A")
            ).otherwise(F.col("o_totalprice").cast("string")),
            "o_orderpriority",
        ).alias("value")
    )
    path = alloc_scratch(spark, "io05_corrupt") + "/orders_lines"
    lines.write.mode("overwrite").text(path)
    raw = spark.read.text(path)
    parsed = raw.select(
        F.from_csv(
            "value",
            "o_orderkey BIGINT, totalprice DOUBLE, priority STRING, _corrupt STRING",
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt"},
        ).alias("r")
    ).select("r.*")
    return (
        parsed.withColumn(
            "split",
            F.when(F.col("_corrupt").isNotNull(), "quarantined").otherwise("valid"),
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.coalesce(
                F.sum(F.floor(F.col("totalprice") * 100).cast("long")), F.lit(0)
            )
            .cast("long")
            .alias("sum_cents"),
            F.min("o_orderkey").cast("long").alias("min_key"),
            F.max("o_orderkey").cast("long").alias("max_key"),
        )
    )


# JDBC round-trip (S3/S4 upgraded from call-shape to certified): the
# container ships no MySQL/Postgres server, but Spark bundles Derby —
# an in-JVM SQL database with a real JDBC driver and a Spark dialect.
# Writing through df.write.jdbc and reading back through
# spark.read.jdbc exercises the IDENTICAL code path the reference's
# MySQL/Postgres sinks use (dialect-quoted DDL, batched INSERTs,
# partitioned reads); only the URL/driver string differs in production.
_IO06_SQL = """
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
FROM orders
GROUP BY o_orderstatus
"""


@register("io06_jdbc_roundtrip", oracle=_IO06_SQL)
def io06_jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders -> JDBC sink (embedded Derby, ``df.write.jdbc``) -> JDBC
    source (``spark.read.jdbc``) -> per-status rollup that must match
    the oracle computed from the parquet original. Certifies the
    reference's S3/S4 sink surface (ETL_FINAL.py:38-39,220-223;
    etl_transkrip_postgres.py:105-112) as a BULK write instead of
    row-at-a-time cursor inserts: one batched INSERT per partition,
    dialect-generated DDL, type round-trip through SQL types
    (BIGINT/DOUBLE/VARCHAR).

    Scale notes: JDBC writes parallelize per partition (each opens one
    connection — repartition to the DB's connection budget first);
    reads parallelize only with partitionColumn/bounds, else they are
    a single-connection stream. The warehouse stays parquet/Delta;
    JDBC is for serving-store egress, exactly the reference's usage."""
    from ..sources.sinks import write_jdbc

    url = "jdbc:derby:memory:io06db;create=true"
    props = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    # 4 partitions = 4 connections: the writer's parallelism contract
    write_jdbc(
        orders.repartition(4), url, "ORDERS_RT", mode="overwrite", **props
    )
    back = spark.read.options(**props).jdbc(url, "ORDERS_RT")
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("sum_cents"),
        F.countDistinct("o_custkey").cast("long").alias("n_customers"),
    )


_IO07_SQL = """
SELECT l_returnflag,
       l_linestatus,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
       CAST(MAX(CAST(l_shipdate AS DATE)) AS VARCHAR) AS max_shipdate
FROM lineitem
GROUP BY l_returnflag, l_linestatus
"""


@register("io07_orc_roundtrip", oracle=_IO07_SQL)
def io07_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lineitem -> ORC (Spark's second native columnar format) -> read
    back -> the classic returnflag/linestatus rollup, matched against
    the oracle on the parquet original. ORC is the JVM-native scan the
    Hive ecosystem standardized on; a green row certifies the full
    binary columnar round trip (dictionary/RLE encodings, DATE and
    DECIMAL-free DOUBLE paths, predicate-pushdown-capable footers) with
    zero Python in the data path.

    Scale notes: the ORC writer shuffles nothing (file-per-task like
    parquet) and the re-read aggregate partial-aggregates map-side;
    ORC's row-group (stripe) statistics give the same min/max skipping
    parquet footers do, asserted at the plan level for the parquet
    twin in tests/test_plan_quality.py — the format choice is a
    storage-ecosystem decision, not a query-shape one."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_linestatus",
        "l_quantity",
        "l_extendedprice",
        F.col("l_shipdate").cast("date").alias("l_shipdate"),
    )
    path = alloc_scratch(spark, "io07_orc") + "/lineitem_orc"
    li.write.mode("overwrite").orc(path)
    back = spark.read.schema(li.schema).orc(path)
    return back.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.col("l_quantity").cast("long")).cast("long").alias("sum_qty"),
        F.sum(F.floor(F.col("l_extendedprice") * 100).cast("long"))
        .cast("long")
        .alias("sum_cents"),
        F.max("l_shipdate").cast("string").alias("max_shipdate"),
    )


_IO08_SPLIT = "1996-01-01"
_IO08_MIN_ORDERS = 2

_IO08_SQL = f"""
WITH v1 AS (
    SELECT o_custkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM orders WHERE o_orderdate < TIMESTAMP '{_IO08_SPLIT}'
    GROUP BY o_custkey
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(n_orders) AS BIGINT) AS sum_orders,
       CAST(SUM(total_cents) AS BIGINT) AS sum_cents,
       CAST(MIN(o_custkey) AS BIGINT) AS min_custkey
FROM v1 WHERE n_orders >= {_IO08_MIN_ORDERS}
"""


@register("io08_python_datasource_timetravel", oracle=_IO08_SQL)
def io08_python_datasource_timetravel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The versioned-table layer consumed through the Spark 4 Python
    DataSource API (sources/pyds.py): build v1 (pre-{_IO08_SPLIT}
    per-customer totals) and v2 (full history) as snapshots, then read
    v1 BACK through ``spark.read.format("fp_versioned")`` with
    ``option("version", v1)`` — time travel as a reader option, the
    way every table format exposes it — plus a pushed filter
    (``n_orders >= 2``) that the source translates to a pyarrow
    row-group predicate while Spark re-applies it authoritatively
    above. The rollup must match the oracle's relational
    reconstruction of v1, proving the custom source returns exactly
    the pinned snapshot even though _LATEST has moved on.

    Scale notes: the reader packs the snapshot's parquet files into
    bins by Spark's FilePartition rule (128 MiB per bin, 4 MiB of open
    cost per file), one task per bin. The JVM scan also shrinks bins
    to spread small reads over the default parallelism; the Python
    planner has no SparkSession to ask, so a small snapshot is one
    task. Reads yield Arrow RecordBatches — the data path is
    pyarrow-C++ -> Arrow IPC -> JVM, no per-row Python anywhere."""
    from ..sources.pyds import register_python_sources
    from ..sources.versioned import write_version

    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    totals = lambda df: df.groupBy("o_custkey").agg(  # noqa: E731
        F.count("*").alias("n_orders"), F.sum(cents).alias("total_cents")
    )
    table_dir = alloc_scratch(spark, "io08_pyds") + "/cust_totals"
    v1 = write_version(
        totals(orders.filter(F.col("o_orderdate") < F.lit(_IO08_SPLIT).cast("timestamp"))),
        table_dir,
    )
    write_version(totals(orders), table_dir)  # v2: _LATEST moves past v1

    register_python_sources(spark)
    snap = (
        spark.read.format("fp_versioned")
        .option("path", table_dir)
        .option("version", v1)
        .option("pushdown", "true")  # one filter context per load (r9 contract)
        .load()
    )
    return snap.filter(F.col("n_orders") >= _IO08_MIN_ORDERS).agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("n_orders").cast("long").alias("sum_orders"),
        F.sum("total_cents").cast("long").alias("sum_cents"),
        F.min("o_custkey").cast("long").alias("min_custkey"),
    )


_IO09_SQL = """
WITH t AS (
    SELECT o_custkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM orders GROUP BY o_custkey
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(n_orders) AS BIGINT) AS sum_orders,
       CAST(SUM(total_cents) AS BIGINT) AS sum_cents,
       CAST(MAX(n_orders) AS BIGINT) AS max_orders
FROM t
"""


@register("io09_python_datasource_write", oracle=_IO09_SQL)
def io09_python_datasource_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WRITE leg of the Python DataSource seam
    (sources/pyds.VersionedArrowWriter): per-customer totals go out
    through ``df.write.format("fp_versioned")`` — executors stage
    parquet files (Arrow batches straight into pyarrow) into a
    job-unique staging dir, the driver-side ``commit()`` moves them
    into the next ``v{N:05d}`` snapshot and atomically swaps the
    ``_LATEST`` pointer — then the table is read BACK through the
    STANDARD JVM reader (``versioned.read_table``), and the rollup
    must match the oracle. A green row certifies cross-engine interop
    (python-written snapshots are ordinary parquet the JVM scan
    reads), the two-phase commit (a half-written job is invisible:
    nothing publishes until commit), and pointer advancement past a
    JVM-written v1.

    Scale: write parallelism is the DataFrame's partitioning (each
    task stages one file); commit is a driver-side metadata move, N
    renames + one pointer swap — the same O(files) commit cost as a
    Hadoop v1 committer, with the table-format log as the upgrade
    path on object stores."""
    from ..sources.pyds import register_python_sources
    from ..sources.versioned import read_table, write_version

    orders = load_table(spark, sf_dir, "orders")
    totals = orders.groupBy("o_custkey").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("total_cents"),
    )
    table_dir = alloc_scratch(spark, "io09_pyds_w") + "/cust_totals"
    # v1 via the JVM path: the python writer must read the existing log
    # and commit v2, not clobber it.
    write_version(totals.filter(F.col("n_orders") >= 5), table_dir)
    register_python_sources(spark)
    totals.write.format("fp_versioned").option("path", table_dir).mode("append").save()
    back = read_table(spark, table_dir)  # pointer must now say v2
    return back.agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("n_orders").cast("long").alias("sum_orders"),
        F.sum("total_cents").cast("long").alias("sum_cents"),
        F.max("n_orders").cast("long").alias("max_orders"),
    )


_IO10_SQL = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
       CAST(COUNT(*) FILTER (WHERE json_extract_string(props, '$.missing') IS NULL) AS BIGINT) AS n_missing
FROM events
GROUP BY event_type
"""


@register("io10_variant_shred", oracle=_IO10_SQL)
def io10_variant_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured ingestion through Spark 4's VARIANT type: the
    events fixture's ``props`` JSON strings are parsed ONCE into a
    variant column (``parse_json`` — a binary, typed, traversable
    encoding, not a string re-parse per access), then shredded with
    ``variant_get`` path extraction (typed '$.k' read; a '$.missing'
    probe whose NULL census certifies absent-path semantics) and
    rolled up per event type against a DuckDB JSON oracle on the raw
    strings.

    Why VARIANT and not ``from_json``: from_json needs the full schema
    UP FRONT and re-infers nothing; variant defers typing to access
    time — the right model for property bags whose keys drift
    (ev07's from_json twin covers the known-schema case). At scale the
    parse is one codegen'd pass, extraction is JVM-side binary
    traversal (no per-access JSON re-parse, no Python), and shredded
    columns prune like any other — parse once, access many."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type", F.parse_json("props").alias("v")
    ).select(
        "event_type",
        F.variant_get("v", "$.k", "bigint").alias("k"),
        F.try_variant_get("v", "$.missing", "string").alias("missing"),
    )
    return v.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("k").cast("long").alias("sum_k"),
        F.max("k").cast("long").alias("max_k"),
        F.count(F.when(F.col("missing").isNull(), 1)).cast("long").alias("n_missing"),
    )


# ---------------------------------------------------------------------------
# io11: built-in XML round-trip with nested rows (Spark 4 native XML)
# ---------------------------------------------------------------------------

_IO11_SQL = """
WITH nested AS (
    SELECT o_custkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM orders GROUP BY o_custkey
)
SELECT c.c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(n.n_orders) AS BIGINT) AS n_orders,
       CAST(SUM(n.cents) AS BIGINT) AS sum_cents
FROM customer c JOIN nested n ON c.c_custkey = n.o_custkey
GROUP BY c.c_mktsegment
"""


@register("io11_xml_roundtrip_nested", oracle=_IO11_SQL)
def io11_xml_roundtrip_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer order summaries -> XML (Spark 4's built-in XML
    datasource, one <cust> element per row with a nested struct) ->
    read back with the EXPLICIT schema -> per-segment rollup matching
    the oracle computed from the parquet originals. Certifies the XML
    edge end to end: element/attribute encoding of strings and
    decimals-as-doubles (exact integer-cents comparison on the re-read
    values), nested struct fidelity, and schema-first reads (never
    inference).

    Scale: same shape as io01/io02 — one shuffle-free write pass, one
    scan, one aggregate; XML is an ingestion/interchange edge (feeds,
    legacy exports), never warehouse storage."""
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    orders = load_table(spark, sf_dir, "orders")
    nested = (
        orders.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents"),
        )
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            "c_mktsegment",
            F.struct("n_orders", "cents").alias("totals"),
        )
    )
    path = alloc_scratch(spark, "io11_xml") + "/cust_xml"
    nested.write.mode("overwrite").format("xml").option("rowTag", "cust").save(path)
    back = (
        spark.read.schema(nested.schema)
        .format("xml")
        .option("rowTag", "cust")
        .load(path)
    )
    return back.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("totals.n_orders").cast("long").alias("n_orders"),
        F.sum("totals.cents").cast("long").alias("sum_cents"),
    )


# ---------------------------------------------------------------------------
# io12: manifest file-stats DATA SKIPPING through the Python DataSource
# (round-8: the lakehouse scan-pruning story on the hard signal)
# ---------------------------------------------------------------------------

_IO12_SQL = """
WITH cut AS (SELECT MAX(o_custkey) // 8 AS mk FROM orders),
t AS (
    SELECT o_custkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM orders GROUP BY o_custkey
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(n_orders) AS BIGINT) AS sum_orders,
       CAST(SUM(total_cents) AS BIGINT) AS sum_cents,
       CAST(MAX(o_custkey) AS BIGINT) AS max_custkey
FROM t, cut WHERE o_custkey <= mk
"""


@register("io12_manifest_data_skipping", oracle=_IO12_SQL)
def io12_manifest_data_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILE-level data skipping on the hard signal: a manifest commit
    records per-file min/max column stats from the parquet footers
    (``versioned._collect_file_stats``), the snapshot is laid out by
    ``repartitionByRange(16, o_custkey)`` so files carry disjoint key
    ranges (the clustering every skipping story assumes), and the
    ``fp_versioned`` reader's ``pushFilters`` drops whole files whose
    recorded range cannot intersect the predicate — BEFORE any task
    runs. The cutoff is max_custkey/8 (data-relative, so the same
    fraction prunes at every SF); in-query asserts measure the skip:
    the filtered plan must keep at most a quarter of the unfiltered
    plan's file partitions (public ``pushFilters`` path, planner-
    style Filter objects). Spark still re-applies
    the filter above, so the rollup hash-matches the oracle's plain
    relational answer — skipping is pure I/O elision, never a
    semantics dependency (stats-less or foreign files are always
    kept).

    Scale: stats ride the manifest (one small GET at plan time); at
    100 TB with date/tenant-clustered layout this is the difference
    between scanning a day and scanning the lake — the same mechanism
    as Delta/Iceberg file statistics, on the same commit object."""
    from ..sources.pyds import (
        VersionedDataSource,
        _bin_files,
        _snapshot_schema,
        register_python_sources,
    )
    from ..sources.versioned import write_version

    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    totals = orders.groupBy("o_custkey").agg(
        F.count("*").alias("n_orders"), F.sum(cents).alias("total_cents")
    )
    table_dir = alloc_scratch(spark, "io12_pyds") + "/cust_totals"
    write_version(totals.repartitionByRange(16, "o_custkey"), table_dir, manifest=True)
    cutoff = orders.agg(F.max("o_custkey")).head()[0] // 8  # 1-row scalar

    # measure the planner-side skip through the PUBLIC reader API: the
    # same pushFilters(...) call Spark's planner makes, with the same
    # pyspark.sql.datasource Filter objects — no private state assigned
    from pyspark.sql.datasource import LessThanOrEqual

    reader = VersionedDataSource({"path": table_dir, "pushdown": "true"}).reader(
        _snapshot_schema(table_dir, None)
    )
    n_all = len(_bin_files(reader.partitions()))
    assert n_all >= 8, f"range layout lost its file count: {n_all}"
    reader.pushFilters([LessThanOrEqual(("o_custkey",), cutoff)])
    n_kept = len(_bin_files(reader.partitions()))
    # the cutoff is 1/8 of the key range over range-partitioned files:
    # a proportional bound (<= 1/4 of the files survive) measures the
    # skip without pinning Spark's exact file-emission count
    assert n_kept <= max(2, n_all // 4), (
        f"stats pruned nothing: {n_kept}/{n_all} files survive"
    )

    register_python_sources(spark)
    # pushdown opt-in: this handle is consumed through exactly one
    # filter context (the per-load contract the option accepts)
    snap = (
        spark.read.format("fp_versioned")
        .option("path", table_dir)
        .option("pushdown", "true")
        .load()
    )
    return snap.filter(F.col("o_custkey") <= cutoff).agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("n_orders").cast("long").alias("sum_orders"),
        F.sum("total_cents").cast("long").alias("sum_cents"),
        F.max("o_custkey").cast("long").alias("max_custkey"),
    )


# ---------------------------------------------------------------------------
# io13: symlink-manifest interop export (round-9 close of VERDICT r8 #4)
# ---------------------------------------------------------------------------

_IO13_SQL = """
WITH cut AS (SELECT MAX(o_custkey) // 8 AS mk FROM orders),
t AS (
    SELECT o_custkey,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM orders GROUP BY o_custkey
),
readers(reader) AS (VALUES ('vanilla'), ('pyds'), ('jvm'))
SELECT r.reader, CAST(1 AS INT) AS ver, t.o_custkey, t.total_cents
FROM t CROSS JOIN readers r
UNION ALL
SELECT r.reader, CAST(2 AS INT) AS ver, t.o_custkey, t.total_cents
FROM t CROSS JOIN readers r, cut WHERE t.o_custkey > cut.mk
"""


@register("io13_symlink_manifest_interop", oracle=_IO13_SQL)
def io13_symlink_manifest_interop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interop export on the hard signal (VERDICT r8 item 4 — 'no
    third-party engine can read fp_versioned'):
    ``versioned.export_symlink_manifest`` writes the Trino/Athena-style
    plain-text file list for any retained version, so a VANILLA reader
    — here literally ``spark.read.parquet(*paths)`` with no custom
    DataSource, equally DuckDB ``read_parquet([...])`` or Trino's
    SymlinkTextInputFormat — reproduces the exact snapshot. The table
    gets a 16-file range layout (v1) then a file-granular CoW DELETE
    (v2), so v2's manifest mixes carried and rewritten files — the
    shape that breaks naive directory scans. Both versions are
    exported and read through ALL THREE surfaces (vanilla text+parquet,
    Python DataSource, JVM read_table); the driver hash certifies the
    three censuses identical per version.

    Scale: the export is one text PUT per version (file list =
    metadata); vanilla consumers pay exactly the snapshot's parquet
    I/O — the same contract Delta's symlink manifests give Presto."""
    from ..sources.pyds import register_python_sources
    from ..sources.versioned import (
        _backend_for,
        delete_where_cow,
        export_symlink_manifest,
        read_table,
        write_version,
    )

    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    totals = orders.groupBy("o_custkey").agg(F.sum(cents).alias("total_cents"))
    table_dir = alloc_scratch(spark, "io13_symlink") + "/cust_totals"
    write_version(totals.repartitionByRange(16, "o_custkey"), table_dir, manifest=True)
    cutoff = orders.agg(F.max("o_custkey")).head()[0] // 8  # 1-row scalar
    v2 = delete_where_cow(spark, table_dir, F.col("o_custkey") <= F.lit(cutoff))
    assert v2 == 2

    backend = _backend_for(table_dir, spark)
    register_python_sources(spark)
    legs = []
    for ver in (1, 2):
        mpath = export_symlink_manifest(table_dir, ver)
        listing = backend.read_text(mpath)
        paths = [ln for ln in listing.splitlines() if ln]
        assert all(p.endswith(".parquet") for p in paths), paths[:3]
        vanilla = spark.read.parquet(*paths)  # NO custom DataSource
        pyds = (
            spark.read.format("fp_versioned")
            .option("path", table_dir)
            .option("version", str(ver))
            .load()
        )
        jvm = read_table(spark, table_dir, version=ver)
        for name, df in (("vanilla", vanilla), ("pyds", pyds), ("jvm", jvm)):
            legs.append(
                df.select(
                    F.lit(name).alias("reader"),
                    F.lit(ver).cast("int").alias("ver"),
                    "o_custkey",
                    "total_cents",
                )
            )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


# ---------------------------------------------------------------------------
# io14: stats-skipping breadth — string/date/null-count (VERDICT r8 #6)
# ---------------------------------------------------------------------------

_IO14_DATE_CUT = "1995-06-30"

_IO14_SQL = f"""
WITH cut AS (SELECT MAX(o_custkey) // 8 AS mk FROM orders),
t AS (
    SELECT o_custkey,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM orders GROUP BY o_custkey
),
ords AS (
    SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
           CAST(o_orderdate AS DATE) AS odate
    FROM orders
)
SELECT 'str' AS probe,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(cents) AS BIGINT) AS sum_cents
FROM t, cut WHERE o_custkey <= mk
UNION ALL
SELECT 'notnull',
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(cents) AS BIGINT)
FROM t, cut WHERE o_custkey > mk
UNION ALL
SELECT 'date',
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(cents) AS BIGINT)
FROM ords WHERE odate <= DATE '{_IO14_DATE_CUT}'
"""


@register("io14_stats_skipping_breadth", oracle=_IO14_SQL)
def io14_stats_skipping_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILE-level data skipping beyond numeric min/max (VERDICT r8
    item 6): manifest file-stats now carry STRING and DATE ranges
    (dates as ISO strings — lexicographic == chronological) plus
    per-column null/row counts, and the reader prunes on all three:

    - 'str': a <= predicate on a zero-padded string key over a
      16-file string-range layout must plan <= 1/4 of the files;
    - 'notnull': IS NOT NULL over a column that is ALL NULL in the
      low-range files must drop at least one whole file (null-count
      pruning — possible only because the collector records counts
      even where min/max don't exist), while the null-boundary file
      survives;
    - 'date': a <= DATE predicate over an 8-file date-range layout
      must plan <= 1/2 of the files.

    All three predicates are then executed through the ordinary
    format('fp_versioned') read and hash-checked against the oracle's
    relational answer — skipping stays pure I/O elision. Soundness of
    the index itself (a file whose row groups lack statistics is NEVER
    skipped) is pinned by tests/test_pyds.py.

    Scale: same mechanism as io12 — stats ride the manifest, pruning
    happens planner-side before any task launches; string/date
    coverage is what makes it bite on tenant-keyed and time-keyed
    100 TB layouts, the two clusterings real lakes actually use."""
    from pyspark.sql.datasource import IsNotNull, LessThanOrEqual

    from ..sources.pyds import (
        VersionedDataSource,
        _bin_files,
        _snapshot_schema,
        register_python_sources,
    )
    from ..sources.versioned import write_version

    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    cutoff = orders.agg(F.max("o_custkey")).head()[0] // 8  # 1-row scalar
    kcut = f"K{cutoff:012d}"

    skey = F.concat(F.lit("K"), F.format_string("%012d", F.col("o_custkey")))
    cust = (
        orders.groupBy("o_custkey")
        .agg(F.sum(cents).alias("cents"))
        .select(
            skey.alias("skey"),
            "cents",
            F.when(F.col("o_custkey") > cutoff, F.concat(F.lit("m"), skey)).alias("memo"),
        )
    )
    dir_a = alloc_scratch(spark, "io14_str") + "/cust_by_skey"
    write_version(cust.repartitionByRange(16, "skey"), dir_a, manifest=True)

    ords = orders.select(
        cents.alias("cents"), F.col("o_orderdate").cast("date").alias("odate")
    )
    dir_b = alloc_scratch(spark, "io14_date") + "/orders_by_date"
    write_version(ords.repartitionByRange(8, "odate"), dir_b, manifest=True)

    # planner-side skip measurements through the PUBLIC reader API
    reader_a = VersionedDataSource({"path": dir_a, "pushdown": "true"}).reader(
        _snapshot_schema(dir_a, None)
    )
    n_a = len(_bin_files(reader_a.partitions()))
    assert n_a >= 8, n_a
    reader_a.pushFilters([LessThanOrEqual(("skey",), kcut)])
    n_str = len(_bin_files(reader_a.partitions()))
    assert n_str <= max(2, n_a // 4), f"string stats pruned nothing: {n_str}/{n_a}"

    reader_n = VersionedDataSource({"path": dir_a, "pushdown": "true"}).reader(
        _snapshot_schema(dir_a, None)
    )
    reader_n.pushFilters([IsNotNull(("memo",))])
    n_nn = len(_bin_files(reader_n.partitions()))
    assert n_nn <= n_a - 1, f"null-count stats pruned nothing: {n_nn}/{n_a}"

    reader_b = VersionedDataSource({"path": dir_b, "pushdown": "true"}).reader(
        _snapshot_schema(dir_b, None)
    )
    n_b = len(_bin_files(reader_b.partitions()))
    assert n_b >= 4, n_b
    import datetime

    date_cut = datetime.date.fromisoformat(_IO14_DATE_CUT)
    reader_b.pushFilters([LessThanOrEqual(("odate",), date_cut)])
    n_date = len(_bin_files(reader_b.partitions()))
    assert n_date <= max(2, n_b // 2), f"date stats pruned nothing: {n_date}/{n_b}"

    register_python_sources(spark)

    def _load(path):
        return (
            spark.read.format("fp_versioned")
            .option("path", path)
            .option("pushdown", "true")
            .load()
        )

    leg_str = (
        _load(dir_a)
        .filter(F.col("skey") <= kcut)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("cents").cast("long").alias("sum_cents"),
        )
        .select(F.lit("str").alias("probe"), "n_rows", "sum_cents")
    )
    leg_nn = (
        _load(dir_a)
        .filter(F.col("memo").isNotNull())
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("cents").cast("long").alias("sum_cents"),
        )
        .select(F.lit("notnull").alias("probe"), "n_rows", "sum_cents")
    )
    leg_date = (
        _load(dir_b)
        .filter(F.col("odate") <= F.lit(date_cut))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("cents").cast("long").alias("sum_cents"),
        )
        .select(F.lit("date").alias("probe"), "n_rows", "sum_cents")
    )
    return leg_str.unionByName(leg_nn).unionByName(leg_date)


# ---------------------------------------------------------------------------
# io15: MATERIALIZING interop export — round-10 close of the r9 verdict's
# #2 ranked gap (io13 correctly refuses dv'd/column-mapped versions, so the
# newest lifecycle features were exactly the ones third-party engines
# could not read)
# ---------------------------------------------------------------------------

_IO15_SQL = """
WITH t AS (
    SELECT o_custkey,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM orders GROUP BY o_custkey
),
readers(reader) AS (VALUES ('vanilla'), ('pyds'), ('jvm'))
SELECT r.reader, t.o_custkey, t.cents, CAST(NULL AS BIGINT) AS bonus
FROM t CROSS JOIN readers r WHERE t.o_custkey % 8 <> 3
UNION ALL
SELECT 'vanilla_v1', o_custkey, cents, CAST(NULL AS BIGINT) FROM t
"""


@register("io15_materialized_interop_export", oracle=_IO15_SQL)
def io15_materialized_interop_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materializing interop export (``export_symlink_manifest(...,
    apply=True)``): the head stacks every lifecycle feature a vanilla
    reader cannot interpret — RENAME (v2 column mapping), metadata-only
    ADD COLUMN (v3, typed-NULL backfill), and a scatter
    deletion-vector DELETE (v4) — and the default export still REFUSES
    it (asserted, io13's correct behavior). ``apply=True`` rewrites the
    LIVE rows (dvs applied, logical names + added columns
    materialized) as plain parquet under the export's own ``data/``
    prefix, so literally ``spark.read.parquet(*paths)`` — equally
    DuckDB/Trino — reproduces the head; the driver hash certifies
    vanilla == pyds == JVM on the exported census, plus a zero-copy
    export of the CLEAN pre-rename v1 (asserted to point at the
    original snapshot files, not a rewrite — apply only pays the copy
    when the version actually needs it).

    Scale: the materialized copy costs one scan+write of live rows —
    the floor for showing a dv'd/renamed snapshot to an engine that
    understands neither; clean versions stay one text PUT. Re-export
    is idempotent (data/ rewritten in place); vacuum removes exports
    with their snapshot. Reference parity: FP-Data-Lakehouse serves
    external consumers the same way — by materializing query results
    into plain MySQL tables (ETL_FINAL.py:38) — this is that export
    seam, lifted to snapshot granularity."""
    from ..sources.pyds import register_python_sources
    from ..sources.versioned import (
        _backend_for,
        add_column,
        delete_where_dv,
        export_symlink_manifest,
        read_table,
        rename_column,
        write_version,
    )

    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    totals = orders.groupBy("o_custkey").agg(F.sum(cents).alias("total_cents"))
    table_dir = alloc_scratch(spark, "io15_export") + "/cust_totals"
    write_version(totals.repartitionByRange(16, "o_custkey"), table_dir, manifest=True)
    assert rename_column(spark, table_dir, "total_cents", "cents") == 2
    assert add_column(spark, table_dir, "bonus", "bigint") == 3
    v4 = delete_where_dv(spark, table_dir, F.col("o_custkey") % 8 == 3)
    assert v4 == 4

    backend = _backend_for(table_dir, spark)
    # io13's refusal stands without apply=True
    try:
        export_symlink_manifest(table_dir, 4, backend=backend)
        raise AssertionError("dv'd + mapped version must refuse a plain export")
    except ValueError as e:
        assert "apply=True" in str(e), e

    mpath = export_symlink_manifest(
        table_dir, 4, backend=backend, apply=True, spark=spark
    )
    # idempotent re-export (data/ rewritten in place)
    mpath = export_symlink_manifest(
        table_dir, 4, backend=backend, apply=True, spark=spark
    )
    paths = [ln for ln in backend.read_text(mpath).splitlines() if ln]
    assert paths and all(p.endswith(".parquet") for p in paths), paths[:3]
    assert all("/data_" in p for p in paths), (
        "a dv'd/mapped version must export MATERIALIZED files"
    )
    # the clean v1 exports zero-copy even under apply=True
    m1 = export_symlink_manifest(
        table_dir, 1, backend=backend, apply=True, spark=spark
    )
    paths1 = [ln for ln in backend.read_text(m1).splitlines() if ln]
    assert paths1 and all("/data_" not in p for p in paths1), (
        "a clean version must export pointers, not a rewrite"
    )

    register_python_sources(spark)
    vanilla = spark.read.parquet(*paths)  # NO custom DataSource
    pyds = spark.read.format("fp_versioned").option("path", table_dir).load()
    jvm = read_table(spark, table_dir)
    cols = ["o_custkey", "cents", "bonus"]
    legs = [
        df.select(F.lit(name).alias("reader"), *cols)
        for name, df in (("vanilla", vanilla), ("pyds", pyds), ("jvm", jvm))
    ]
    legs.append(
        spark.read.parquet(*paths1).select(
            F.lit("vanilla_v1").alias("reader"),
            "o_custkey",
            F.col("total_cents").alias("cents"),
            F.lit(None).cast("bigint").alias("bonus"),
        )
    )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


# ---------------------------------------------------------------------------
# io16: Delta interop OUT — publish a versioned snapshot as a _delta_log
# (round-11 close of the r10 verdict's task 6: completes the interop
# matrix io13/io15 (vanilla readers) and read_delta (consume) started)
# ---------------------------------------------------------------------------

_IO16_SQL = """
WITH cut AS (SELECT MAX(o_custkey) // 8 AS mk FROM orders),
t AS (
    SELECT o_custkey,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM orders GROUP BY o_custkey
),
readers(reader) AS (VALUES ('delta'), ('jvm'))
SELECT r.reader, CAST(1 AS INT) AS ver, t.o_custkey, t.cents
FROM t CROSS JOIN readers r
UNION ALL
SELECT r.reader, CAST(2 AS INT), t.o_custkey, t.cents
FROM t CROSS JOIN readers r, cut WHERE t.o_custkey > cut.mk
UNION ALL
SELECT 'vanilla', CAST(2 AS INT), t.o_custkey, t.cents
FROM t, cut WHERE t.o_custkey > cut.mk
"""


@register("io16_delta_log_export", oracle=_IO16_SQL)
def io16_delta_log_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta interop OUT (``delta_export.publish_delta_log``): the
    versioned table's snapshots become a spec-shaped ``_delta_log`` in
    place — v1 (16-file range layout) exports as Delta commit 0, the
    file-granular CoW DELETE v2 as an INCREMENTAL Delta commit 1
    (removes for the rewritten files, adds for the fresh ones, carried
    files untouched — asserted). Read back through THREE surfaces:
    the spec-implemented ``read_delta`` at both Delta versions (time
    travel through the exported log), the JVM ``read_table`` at both
    native versions, and a VANILLA ``spark.read.parquet`` of the
    log-listed head files (what any Delta-less engine does with the
    log's file list). The driver hash certifies all three censuses
    against ``orders`` directly.

    Scale: export is metadata-sized (one JSON PUT per snapshot, file
    list only — no data movement for clean snapshots); re-export
    diffs against the replayed log, so a daily publish costs O(changed
    files), never O(table). Lifecycle caveat documented on the module:
    vacuum of an exported snapshot invalidates the export.

    Reference parity: the reference publishes results for external
    consumers by materializing MySQL tables (ETL_FINAL.py:38); this is
    that seam emitting the ecosystem's table format instead."""
    import json as _json
    import os as _os

    from ..sources.delta import delta_snapshot, read_delta
    from ..sources.delta_export import publish_delta_log
    from ..sources.versioned import delete_where_cow, read_table, write_version

    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    totals = orders.groupBy("o_custkey").agg(F.sum(cents).alias("cents"))
    table_dir = alloc_scratch(spark, "io16_delta_out") + "/cust_totals"
    write_version(totals.repartitionByRange(16, "o_custkey"), table_dir, manifest=True)
    cutoff = orders.agg(F.max("o_custkey")).head()[0] // 8  # 1-row scalar
    v2 = delete_where_cow(spark, table_dir, F.col("o_custkey") <= F.lit(cutoff))
    assert v2 == 2

    assert publish_delta_log(spark, table_dir, version=1) == 0
    assert publish_delta_log(spark, table_dir, version=2) == 1
    # checkpoint the exported log (2-part): the head leg below then
    # reads THROUGH the spec checkpoint + _last_checkpoint pointer,
    # certifying export -> checkpoint -> multi-part replay end-to-end
    from ..sources.delta_export import checkpoint_delta_log

    assert checkpoint_delta_log(spark, table_dir, parts=2) == 1
    # the incremental commit is a DIFF, not a re-listing: the 16-file
    # layout localizes the delete, so commit 1 must stay far below 16
    with open(f"{table_dir}/_delta_log/{1:020d}.json", encoding="utf-8") as f:
        actions = [_json.loads(ln) for ln in f if ln.strip()]
    n_adds = sum(1 for a in actions if "add" in a)
    assert 1 <= n_adds <= 4, f"re-export re-listed the table ({n_adds} adds)"

    snap = delta_snapshot(table_dir, spark=spark)
    head_paths = sorted(
        p if ("://" in p or p.startswith("/")) else f"{table_dir}/{p}"
        for p in snap["files"]
    )
    assert all(_os.path.sep in p for p in head_paths)
    vanilla = spark.read.parquet(*head_paths)

    legs = []
    for delta_v, ver in ((0, 1), (1, 2)):
        legs.append(
            read_delta(spark, table_dir, version=delta_v).select(
                F.lit("delta").alias("reader"),
                F.lit(ver).cast("int").alias("ver"),
                "o_custkey",
                "cents",
            )
        )
        legs.append(
            read_table(spark, table_dir, version=ver).select(
                F.lit("jvm").alias("reader"),
                F.lit(ver).cast("int").alias("ver"),
                "o_custkey",
                "cents",
            )
        )
    legs.append(
        vanilla.select(
            F.lit("vanilla").alias("reader"),
            F.lit(2).cast("int").alias("ver"),
            "o_custkey",
            "cents",
        )
    )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out
