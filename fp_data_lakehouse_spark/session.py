"""SparkSession factory tuned for the target execution profile.

Local testing runs on ``local[N]`` (one JVM); the configuration is
written so the same knobs are the right ones on a multi-executor
cluster at ~100 TB: AQE on (runtime coalescing + skew-join splitting),
shuffle partitions sized to cores locally (cluster deployments override
via ``spark.sql.shuffle.partitions`` / rely on AQE), Arrow enabled for
the few Pandas-UDF paths, UTC session time so timestamp arithmetic is
deterministic across environments.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_session", "scoped_session", "tune"]

# The directory holding this package: workers import the daemon module
# below from it whatever the driver's working directory is.
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runtime-settable confs applied defensively to ANY session handed to us
# (the driver constructs its own SparkSession for verify runs).
_RUNTIME_CONFS = {
    # Deterministic timestamp semantics: fixtures store naive UTC instants.
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime partition coalescing, skew-join splitting, join-strategy
    # switching — the main lever that keeps one static plan viable from
    # sf0.001 up to 100 TB.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for pandas interchange (Pandas UDFs, toPandas in tests/bench).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # The events fixture stores TIMESTAMP(NANOS), which Spark's parquet
    # reader rejects by default; read as long and normalize in the
    # catalog (sources/catalog.py) — value-lossless.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Distributed file-STATUS listing defaults to a 10000-task job once
    # a source has >32 paths — for et08's 15k tiny PDFs that is two
    # 10000-empty-task stages (~16 s of pure scheduling at sf0.1,
    # measured r7) against milliseconds of actual listing. Cores-scaled
    # parallelism keeps listing distributed (an object-store deployment
    # still fans out) without the fixed-10000 scheduling tax.
    "spark.sql.sources.parallelPartitionDiscovery.parallelism": "64",
}


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally created session."""
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Conf may be static/forbidden on a managed cluster — the
            # defaults there are acceptable; never fail a query over it.
            pass
    return spark


def scoped_session(spark: SparkSession, confs: dict[str, str]) -> SparkSession:
    """A child of ``spark`` that runs under ``confs``, so a query can
    tune confs for itself without writing any on ``spark``. The child
    shares the SparkContext and table cache but has its own SQLConf,
    temp views, UDFs and streaming query manager. ``newSession()``
    starts from the SparkContext conf and drops every conf set on
    ``spark`` at runtime (``tune()``'s, on a session built elsewhere),
    so those are copied first. Python DataSource registrations are not
    carried over."""
    child = spark.newSession()
    fresh = child.conf.getAll
    for k, v in {**spark.conf.getAll, **confs}.items():
        if fresh.get(k) != v:
            child.conf.set(k, v)
    return child


def get_session(app_name: str = "fp_data_lakehouse_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a local session sized from SPARK_GRAFT_CPUS.

    On a real cluster the deployment's spark-submit conf wins; this
    factory is for tests and bench runs.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # Shuffle partitions ~= cores in local mode; AQE coalesces down
        # when partitions are small, splits skewed ones when they are not.
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Python workers fork from worker_daemon, which stops each task
        # from re-parsing pyspark.zip (about 100 ms a task; see the
        # module docstring). Static confs: a session built elsewhere
        # keeps Spark's own daemon.
        .config("spark.python.daemon.module", "fp_data_lakehouse_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune(spark)
