"""Spark 4 Python DataSource bindings for the versioned-table layer:
the engine's own table format surfaced through ``spark.read.format()``
/ ``spark.readStream.format()`` instead of helper functions.

Two sources, registered via :func:`register_python_sources`:

- ``fp_versioned`` (batch): reads one snapshot of a
  ``sources.versioned`` table. Options: ``path`` (table dir),
  ``version`` (time travel; default = the ``_LATEST`` pointer). The
  reader packs the snapshot's parquet files into bins by Spark's own
  ``FilePartition`` rule (a bin closes before the file that would take
  it past 128 MiB, and every file counts 4 MiB of open cost on top of
  its length — ``_pack``) and hands Spark one InputPartition per bin:
  a 12-file, few-MB snapshot is one task, a 1000-file 10 GB snapshot
  about 110. Unlike the JVM scan it does not shrink bins to spread
  small reads over the default parallelism: the planner runs in a
  Python worker with no SparkSession. Reads yield Arrow RecordBatches
  (zero per-row Python), and the reader implements ``pushFilters``
  conservatively:
  supported comparisons are translated to a pyarrow dataset predicate
  so parquet row-group statistics prune I/O on the executor, but every
  filter is RETURNED as unsupported so Spark re-applies it — double
  filtering is free compared to trusting a Python reimplementation of
  SQL comparison semantics (nulls, NaN, collation) to be exact.
  Pruning is OPT-IN per load (``option("pushdown", "true")``): Spark
  caches the planned scan on the relation behind one ``.load()``
  handle with whatever state the LAST pushdown left in the reader, so
  a derived filtered query would contaminate later unfiltered reads
  of the same handle — the default keeps the reader stateless and the
  shared handle always correct; the opt-in accepts a one-filter-
  context-per-load contract in exchange for manifest-stats file
  skipping + arrow row-group pruning (see
  test_pushdown_state_is_per_load_opt_in). Tables with a column
  mapping (versioned.rename_column/drop_column) read with their
  manifest's LOGICAL schema; file access and pushdown translate to
  the stable physical names.

- ``fp_versioned_feed`` (streaming): the version LOG as a micro-batch
  stream — each committed version is one offset increment, so a
  downstream pipeline replays table history exactly once, in commit
  order, with a ``_version`` column stamping provenance. Offsets are
  ``{"version": N}`` dicts; ``initialOffset`` starts before the first
  retained version; ``latestOffset`` tracks the ``_LATEST`` pointer,
  so the stream keeps tailing as new versions commit (the Delta
  "table-as-a-stream" pattern, reduced to its essentials). Each
  micro-batch packs its files, across versions, by the same bin rule.

``fp_versioned`` also writes: ``df.write`` (one new version per save)
and ``writeStream`` (one new version per micro-batch, exactly once per
(txnAppId, batchId) via the ``_COMMITS`` ledger). Both stage parquet
from the executors and commit through ``versioned._commit_files`` —
the same claim, ledger and pointer protocol ``versioned.write_version``
uses; this module holds no commit protocol of its own.

Why a Python DataSource and not another helper function: the
``DataSource`` API is the supported Spark-4 seam for sources the JVM
has no connector for — registering once makes the versioned layer
consumable from SQL (``CREATE TEMPORARY VIEW ... USING``), from any
language binding, and from readStream, with Catalyst seeing an
ordinary relation it can prune/filter above. Data files ride
``pyarrow.fs`` (local paths and any ``scheme://`` pyarrow can reach).
Version listing, the pointer and commits go through the
``sources/versioned.py`` backend seam with a pure-Python backend
(``_backend``): these run in Python workers with no SparkSession, so
the Hadoop backend is out of reach.

Reference parity: the reference's sources are fixed-format directory
scans (SURVEY.md §2.1 S1); this module is the extension seam those
rows point at — new formats/layouts plug in without touching query
code. Certified on the driver signal by io08 (batch + time travel +
pushdown) and st06 (version-feed replay) in operators/io.py and
operators/streamquery.py.
"""

from __future__ import annotations

import re
from typing import TYPE_CHECKING, Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceStreamArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import (
    BooleanType,
    ByteType,
    DateType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from .versioned import (
    LocalFsBackend,
    _commit_files,
    _finish_replayed_commit,
    _heartbeat_staging,
    _lease_staging,
    _ledger_entries,
    latest_version,
    versions,
)

if TYPE_CHECKING:  # pragma: no cover
    import pyarrow.fs as pafs


# ---------------------------------------------------------------------------
# pyarrow-side filesystem + metadata helpers (pure Python: these run on
# the driver at plan time and inside executors' Python workers — no JVM)
# ---------------------------------------------------------------------------


def _fs_and_path(path: str) -> tuple["pafs.FileSystem", str]:
    import pyarrow.fs as pafs

    if "://" in path:
        return pafs.FileSystem.from_uri(path)
    return pafs.LocalFileSystem(), path


def _backend(path: str):
    """The ``versioned`` backend for a table path. Reads and commits run
    in Python worker processes that have no SparkSession, so
    ``versioned._backend_for``'s Hadoop backend is out of reach: bare
    paths take ``LocalFsBackend``, ``scheme://`` paths the pyarrow.fs
    adapter below."""
    return _ArrowFsBackend(path) if "://" in path else LocalFsBackend()


class _ArrowFsBackend:
    """The ``versioned`` backend methods the Python DataSource reads and
    commits call, over the ``pyarrow.fs`` filesystem of a ``scheme://``
    table path. Paths arrive as full URIs and are mapped to the
    filesystem's own paths by stripping the prefix ``from_uri`` drops."""

    def __init__(self, uri: str):
        self._fs, _ = _fs_and_path(uri)
        self._prefix = _uri_prefix(uri)

    def _p(self, p: str) -> str:
        return p[len(self._prefix):] if p.startswith(self._prefix) else p

    def list_names(self, d: str) -> list[str]:
        import pyarrow.fs as pafs

        sel = pafs.FileSelector(self._p(d), allow_not_found=True)
        return [i.base_name for i in self._fs.get_file_info(sel)]

    def makedirs(self, d: str) -> None:
        self._fs.create_dir(self._p(d), recursive=True)

    def read_text(self, p: str) -> str | None:
        try:
            with self._fs.open_input_stream(self._p(p)) as f:
                return f.read().decode()
        except FileNotFoundError:
            return None

    def write_text_atomic(self, p: str, content: str) -> None:
        import uuid

        fp = self._p(p)
        tmp = f"{fp.rsplit('/', 1)[0]}/._latest_{uuid.uuid4().hex[:8]}.tmp"
        with self._fs.open_output_stream(tmp) as out:
            out.write(content.encode())
        self._fs.move(tmp, fp)

    def rmtree(self, p: str) -> None:
        try:
            self._fs.delete_dir(self._p(p))
        except FileNotFoundError:
            pass

    def create_exclusive(self, p: str, content: str = "") -> bool:
        import warnings

        import pyarrow.fs as pafs

        warnings.warn(
            f"claim protocol on {type(self._fs).__name__} degrades to "
            "check-then-create (pyarrow exposes no exclusive create); "
            "concurrent writers on this filesystem need a log-based table "
            "format or an object store with conditional PUT",
            RuntimeWarning,
            stacklevel=2,
        )
        fp = self._p(p)
        if self._fs.get_file_info(fp).type != pafs.FileType.NotFound:
            return False
        with self._fs.open_output_stream(fp) as out:
            out.write(content.encode())
        return True

    def delete_file(self, p: str) -> None:
        try:
            self._fs.delete_file(self._p(p))
        except FileNotFoundError:
            pass

    def move(self, src: str, dst: str) -> None:
        self._fs.move(self._p(src), self._p(dst))


def _resolve_version(table_dir: str, version: int | None) -> int:
    """An explicit version, else the pointer, else the newest retained
    version."""
    if version is not None:
        return version
    backend = _backend(table_dir)
    v = latest_version(table_dir, backend)
    if v is None:
        vs = versions(table_dir, backend)
        if not vs:
            raise FileNotFoundError(f"no versions under {table_dir}")
        v = vs[-1]
    return v


def _uri_prefix(original_path: str) -> str:
    """pyarrow FileInfo.path drops the URI scheme AND authority
    (s3://bucket/k -> bucket/k, hdfs://nn:8020/t -> /t); capture
    exactly the prefix from the user-supplied URI that from_uri strips,
    so executor-bound file paths resolve the SAME filesystem there.
    Computed by subtracting the fs-internal path from the original URI
    (not by re-appending 'scheme://', which loses hdfs/abfs authorities
    like nn:8020)."""
    if "://" not in original_path:
        return ""
    _, internal = _fs_and_path(original_path)
    trimmed = original_path.rstrip("/")
    if internal and trimmed.endswith(internal.rstrip("/")):
        return trimmed[: len(trimmed) - len(internal.rstrip("/"))]
    # unexpected shape: fall back to scheme-only (correct for s3/file)
    return original_path.split("://", 1)[0] + "://"


def _snapshot_files(
    fs: "pafs.FileSystem", snap_dir: str, uri_prefix: str = ""
) -> list[str]:
    import pyarrow.fs as pafs

    infos = fs.get_file_info(pafs.FileSelector(snap_dir, recursive=False))
    return sorted(
        uri_prefix + i.path
        for i in infos
        if i.type == pafs.FileType.File and i.base_name.endswith(".parquet")
    )


def _manifest_stats(fs: "pafs.FileSystem", table_dir: str, v: int) -> dict:
    """Per-file min/max stats from a manifest commit ({} when the
    version is copy-published or the manifest carries none)."""
    import json

    try:
        with fs.open_input_stream(f"{table_dir}/_manifest_v{v:05d}.json") as f:
            return json.loads(f.read().decode()).get("stats", {}) or {}
    except (FileNotFoundError, OSError, ValueError):
        return {}


def _manifest_columns(fs: "pafs.FileSystem", table_dir: str, v: int) -> list | None:
    """COLUMN MAPPING of a manifest version (None = identity): entries
    {"id", "name" (logical), "physical"} — see versioned._manifest_columns.
    Physical file columns never change; each version's manifest maps its
    own logical names over them, so renamed/dropped columns read
    correctly for every retained version."""
    import json

    try:
        with fs.open_input_stream(f"{table_dir}/_manifest_v{v:05d}.json") as f:
            return json.loads(f.read().decode()).get("columns")
    except (FileNotFoundError, OSError, ValueError):
        return None


def _stat_comparable(val):
    """Normalize a pushed literal to the manifest-stats domain: DATE
    literals become ISO 'YYYY-MM-DD' strings (how the stats collector
    records date min/max; lexicographic == chronological), everything
    else passes through."""
    import datetime

    if isinstance(val, datetime.date) and not isinstance(val, datetime.datetime):
        return val.isoformat()
    return val


def _manifest_dv(fs: "pafs.FileSystem", table_dir: str, v: int) -> dict:
    """Deletion-vector map of a manifest version ({} = none): data-file
    rel -> dv parquet rel of (file, pos) DELETED row positions. See
    versioned._manifest_dv."""
    import json

    try:
        with fs.open_input_stream(f"{table_dir}/_manifest_v{v:05d}.json") as f:
            return json.loads(f.read().decode()).get("dv") or {}
    except (FileNotFoundError, OSError, ValueError):
        return {}


def _file_may_match(stats: dict | None, pushed: list[tuple]) -> bool:
    """File-level skipping decision: False ONLY when the pushed
    conjuncts prove no row of the file can match. Entries are
    ``[min, max]`` (legacy manifests) or ``[min, max, nulls, rows]``;
    min/max are sound over NON-NULL values, and the supported
    comparison ops never match nulls, so range-pruning ignores null
    rows safely; ``notnull`` prunes only on an explicit all-null count.
    A min/max of None (all-null column) can never satisfy a comparison,
    so comparison conjuncts prune those files too. Missing stats,
    unknown ops, or cross-type comparisons keep the file — skipping is
    an optimization, never a correctness dependency."""
    if not stats:
        return True
    for op, col, val in pushed:
        rng = stats.get(col)
        if rng is None:
            continue
        lo, hi = rng[0], rng[1]
        all_null = len(rng) >= 4 and rng[2] == rng[3] and rng[3] > 0
        if op == "notnull":
            if all_null:
                return False  # provably all-null: NOT NULL matches nothing
            continue
        if lo is None:
            # min/max absent: either a provably all-null column (no
            # comparison can match a null) or merely UNUSABLE statistics
            # (decimal/binary min-max) — only the former may prune
            if all_null:
                return False
            continue
        val = _stat_comparable(val)
        try:
            if op == "eq" and (val < lo or val > hi):
                return False
            if op == "ge" and hi < val:
                return False
            if op == "gt" and hi <= val:
                return False
            if op == "le" and lo > val:
                return False
            if op == "lt" and lo >= val:
                return False
            if op == "in" and all(
                x < lo or x > hi for x in map(_stat_comparable, val)
            ):
                return False
        except TypeError:
            continue  # cross-type comparison: keep the file
    return True


def _version_files(
    fs: "pafs.FileSystem", table_dir: str, v: int, uri_prefix: str = ""
) -> list[str]:
    """Data files of version ``v`` in either publication form: the
    copy-published v-dir, or the manifest's file list (paths relative
    to the table root). Raises FileNotFoundError when neither form is
    retained — same contract the v-dir-only path had."""
    import json

    import pyarrow.fs as pafs

    snap = f"{table_dir}/v{v:05d}"
    if fs.get_file_info(snap).type == pafs.FileType.Directory:
        return _snapshot_files(fs, snap, uri_prefix)
    mkey = f"{table_dir}/_manifest_v{v:05d}.json"
    try:
        with fs.open_input_stream(mkey) as f:
            body = json.loads(f.read().decode())
    except (FileNotFoundError, OSError) as e:
        raise FileNotFoundError(f"version {v} not retained in {table_dir}") from e
    return sorted(
        f"{uri_prefix}{table_dir}/{rel}"
        for rel in body["files"]
        if rel.endswith(".parquet")
    )


_ARROW_TO_SPARK = [
    ("is_boolean", BooleanType),
    ("is_float64", DoubleType),
    ("is_float32", FloatType),
    ("is_floating", DoubleType),
    ("is_string", StringType),
    ("is_large_string", StringType),
    ("is_date", DateType),
]

# signed widths map 1:1; unsigned widths map to the NEXT WIDER signed
# Spark type (Spark has no unsigned ints — mapping uint32 to a 32-bit
# signed type would wrap values above INT32_MAX). uint64 has no wider
# signed home and is rejected loudly.
_INT_WIDTHS = {
    "int8": ByteType,
    "int16": ShortType,
    "int32": IntegerType,
    "int64": LongType,
    "uint8": ShortType,
    "uint16": IntegerType,
    "uint32": LongType,
}


def _arrow_type_to_spark(t):
    import pyarrow.types as pat

    from pyspark.sql.types import ArrayType

    if pat.is_list(t) or pat.is_large_list(t):
        return ArrayType(_arrow_type_to_spark(t.value_type))
    if pat.is_struct(t):
        return StructType(
            [
                StructField(f.name, _arrow_type_to_spark(f.type), f.nullable)
                for f in t
            ]
        )
    if pat.is_integer(t):
        spark_t = _INT_WIDTHS.get(str(t))
        if spark_t is None:
            raise TypeError(
                f"fp_versioned: arrow {t} has no lossless Spark integer "
                "type (uint64 values above INT64_MAX cannot be "
                "represented) — store int64 or decimal instead"
            )
        return spark_t()
    if pat.is_timestamp(t):
        # tz-naive parquet timestamps are wall-clock values: mapping
        # them to Spark's LTZ TimestampType would silently reinterpret
        # them as UTC instants (values shift by session timezone).
        return TimestampType() if t.tz is not None else TimestampNTZType()
    for probe, spark_t in _ARROW_TO_SPARK:
        if getattr(pat, probe)(t):
            return spark_t()
    raise TypeError(
        f"fp_versioned: unsupported arrow type {t} — extend "
        "_ARROW_TO_SPARK or store a simpler type"
    )


def _arrow_schema_to_spark(schema) -> StructType:
    return StructType(
        [
            StructField(f.name, _arrow_type_to_spark(f.type), f.nullable)
            for f in schema
        ]
    )


def _ddl_to_spark_type(ddl: str):
    """Spark type for a manifest-recorded ADD COLUMN DDL string,
    parsed WITHOUT the JVM: Python DataSource planning and reads run
    in detached Python worker processes where no SparkContext exists,
    so Spark's own DDL parser (a py4j call) is unreachable. Covers the
    primitive/decimal/array types a metadata-only ADD realistically
    declares; anything fancier fails loudly here while the JVM reader
    (versioned.read_table) still handles it."""
    import re as _re

    from pyspark.sql import types as T

    s = ddl.strip().lower()
    prim = {
        "string": T.StringType(),
        "int": T.IntegerType(),
        "integer": T.IntegerType(),
        "bigint": T.LongType(),
        "long": T.LongType(),
        "smallint": T.ShortType(),
        "short": T.ShortType(),
        "tinyint": T.ByteType(),
        "byte": T.ByteType(),
        "double": T.DoubleType(),
        "float": T.FloatType(),
        "real": T.FloatType(),
        "boolean": T.BooleanType(),
        "date": T.DateType(),
        "timestamp": T.TimestampType(),
        "timestamp_ntz": T.TimestampNTZType(),
        "binary": T.BinaryType(),
    }
    if s in prim:
        return prim[s]
    m = _re.fullmatch(r"decimal\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)", s)
    if m:
        return T.DecimalType(int(m.group(1)), int(m.group(2)))
    m = _re.fullmatch(r"array\s*<(.+)>", s)
    if m:
        return T.ArrayType(_ddl_to_spark_type(m.group(1)))
    raise ValueError(
        f"unsupported added-column type for the pyds reader: {ddl!r}"
    )


def _ddl_to_arrow(ddl: str):
    """Arrow type for a manifest-recorded ADD COLUMN DDL string (same
    JVM-free constraint as _ddl_to_spark_type)."""
    from pyspark.sql.pandas.types import to_arrow_type

    return to_arrow_type(_ddl_to_spark_type(ddl))


def _snapshot_schema(table_dir: str, version: int | None) -> StructType:
    fs, p = _fs_and_path(table_dir)
    v = _resolve_version(table_dir, version)
    files = _version_files(fs, p, v)
    if not files:
        raise FileNotFoundError(f"empty snapshot v{v} in {table_dir}")
    physical = _arrow_schema_to_spark(_parquet_dataset(fs, files[0]).schema)
    mapping = _manifest_columns(fs, p, v)
    if not mapping:
        return physical
    by_phys = {f.name: f for f in physical.fields}
    fields = []
    for c in mapping:
        f = by_phys.get(c["physical"])
        if f is not None:
            fields.append(StructField(c["name"], f.dataType, f.nullable))
        else:
            # ADDED column (metadata-only add_column commit) not yet
            # present in the sampled file: the manifest's declared DDL
            # type IS the schema; rows backfill NULL at read time
            fields.append(
                StructField(c["name"], _ddl_to_spark_type(c["type"]), True)
            )
    return StructType(fields)


# Filters are shipped to executors as plain tuples (pyarrow expressions
# don't pickle): (op, column, value).
_FILTER_OPS = {
    EqualTo: "eq",
    GreaterThan: "gt",
    GreaterThanOrEqual: "ge",
    LessThan: "lt",
    LessThanOrEqual: "le",
    In: "in",
    IsNotNull: "notnull",
}


def _translate_filters(filters: list[Filter], columns: set[str]) -> list[tuple]:
    """``columns`` must already EXCLUDE floating-point columns: Spark
    orders NaN above every numeric (NaN > x is true, NaN == NaN is
    true) while the arrow predicate evaluates IEEE-false, and the
    scanner filter is row-LEVEL — rows it drops never reach Spark's
    authoritative re-filter, so a float pushdown would silently lose
    NaN rows rather than merely prune less."""
    out = []
    for f in filters:
        op = _FILTER_OPS.get(type(f))
        attr = getattr(f, "attribute", None)
        if op is None or attr is None or len(attr) != 1 or attr[0] not in columns:
            continue
        col = attr[0]
        if op in ("notnull",):
            out.append((op, col, None))
        elif op == "in":
            out.append((op, col, tuple(f.value)))
        else:
            v = f.value
            if v is None:
                continue
            out.append((op, col, v))
    return out


def _filters_to_arrow_expr(specs: list[tuple]):
    import pyarrow.dataset as pads

    expr = None
    for op, col, v in specs:
        field = pads.field(col)
        e = {
            "eq": lambda: field == v,
            "gt": lambda: field > v,
            "ge": lambda: field >= v,
            "lt": lambda: field < v,
            "le": lambda: field <= v,
            "in": lambda: field.isin(list(v)),
            "notnull": lambda: field.is_valid(),
        }[op]()
        expr = e if expr is None else (expr & e)
    return expr


def _parquet_dataset(fs: "pafs.FileSystem", path: str):
    """One data file as a pyarrow dataset in the types Spark's Arrow
    bridge accepts. Spark writes TIMESTAMP columns as INT96 by default,
    which pyarrow reads as naive ``timestamp[ns]``: Spark rejects the
    unit, and a naive type would read as wall-clock. INT96 holds
    UTC-normalized instants, so those columns are coerced to
    microseconds and typed ``timestamp[us, UTC]`` — TimestampType, the
    same instants ``versioned.read_table`` returns."""
    import pyarrow as pa
    import pyarrow.dataset as pads

    fmt = pads.ParquetFileFormat(
        read_options=pads.ParquetReadOptions(coerce_int96_timestamp_unit="us")
    )
    ds = pads.dataset(path, format=fmt, filesystem=fs)
    md = next(ds.get_fragments()).metadata.schema
    cols = [md.column(i) for i in range(len(md))]
    int96 = {c.path for c in cols if c.physical_type == "INT96"}
    if not int96:
        return ds
    utc = pa.timestamp("us", tz="UTC")
    schema = pa.schema(
        [f.with_type(utc) if f.name in int96 else f for f in ds.schema]
    )
    return pads.dataset(path, schema=schema, format=fmt, filesystem=fs)


def _read_parquet_batches(
    file_path: str,
    columns: list[str],
    filter_specs: list[tuple],
    added_arrow: dict | None = None,
) -> Iterator:
    """One file -> arrow RecordBatches, with row-group pruning from the
    pushed predicate. Runs inside the executor's Python worker; the
    filesystem handle is rebuilt here (non-serializable resource).

    ``added_arrow`` maps ADDED physical column names (metadata-only
    add_column commits) to their arrow types: a pre-add file lacks
    those columns, so they are appended as null arrays per batch —
    keeping the emitted column order exactly ``columns`` — and pushed
    specs referencing them are dropped for this file (pruning only;
    Spark re-applies every filter above)."""
    import pyarrow as pa

    fs, p = _fs_and_path(file_path)
    ds = _parquet_dataset(fs, p)
    have = set(ds.schema.names)
    missing = [
        c for c in columns if c not in have and added_arrow and c in added_arrow
    ]
    if missing:
        present = [c for c in columns if c in have]
        specs = [s for s in filter_specs if s[1] in have]
        expr = _filters_to_arrow_expr(specs)
        scanner = ds.scanner(columns=present, filter=expr, batch_size=65536)
        idx = {c: i for i, c in enumerate(present)}
        for b in scanner.to_batches():
            arrays = [
                b.column(idx[c])
                if c in idx
                else pa.nulls(b.num_rows, type=added_arrow[c])
                for c in columns
            ]
            yield pa.RecordBatch.from_arrays(arrays, names=columns)
        return
    expr = _filters_to_arrow_expr(filter_specs)
    scanner = ds.scanner(columns=columns, filter=expr, batch_size=65536)
    yield from scanner.to_batches()


# ---------------------------------------------------------------------------
# batch source
# ---------------------------------------------------------------------------


# Spark's FilePartition packing constants, at their defaults
# (spark.sql.files.maxPartitionBytes, spark.sql.files.openCostInBytes)
_MAX_BIN_BYTES = 128 * 1024 * 1024
_OPEN_COST_BYTES = 4 * 1024 * 1024


class _FileRead:
    """One data file of a bin: the version it replays (feed only), its
    deletion-vector object, and the per-version column translation
    (feed replay under column mapping; None = the reader's defaults)."""

    def __init__(
        self,
        file_path: str,
        version: int | None = None,
        dv_path: str | None = None,
        read_cols: list[str] | None = None,
        added: dict | None = None,
    ):
        self.file_path = file_path
        self.version = version
        self.dv_path = dv_path
        self.read_cols = read_cols
        self.added = added


class _FileBin(InputPartition):
    """One Spark task's files, read one after another."""

    def __init__(self, files: list[_FileRead]):
        self.files = files


def _pack(files: list[_FileRead], sizes: list[int]) -> list[_FileBin]:
    """Spark's ``FilePartition.getFilePartitions`` rule over the files
    in plan order: a bin closes when the next file's length would take
    it past ``_MAX_BIN_BYTES``, and each file adds ``_OPEN_COST_BYTES``
    on top of its length. Plan order (version, then file name) keeps
    each bin's rows in replay order; Spark sorts by size first."""
    bins: list[_FileBin] = []
    cur: list[_FileRead] = []
    cur_bytes = 0
    for f, size in zip(files, sizes):
        if cur and cur_bytes + size > _MAX_BIN_BYTES:
            bins.append(_FileBin(cur))
            cur, cur_bytes = [], 0
        cur.append(f)
        cur_bytes += size + _OPEN_COST_BYTES
    if cur:
        bins.append(_FileBin(cur))
    return bins


def _bin_files(bins: list[_FileBin]) -> list[str]:
    """The data files a packed plan reads, in plan order."""
    return [f.file_path for b in bins for f in b.files]


def _file_sizes(fs: "pafs.FileSystem", files: list[str], prefix: str) -> list[int]:
    """Byte size per file, in one metadata call (0 when absent)."""
    infos = fs.get_file_info(
        [f[len(prefix):] if prefix and f.startswith(prefix) else f for f in files]
    )
    return [int(i.size or 0) for i in infos]


def _read_file(
    f: _FileRead,
    cols: list[str],
    read_cols: list[str],
    added: dict | None,
    pushed: list[tuple],
    dv_tables: dict,
) -> Iterator:
    """One data file's batches named ``cols``: ``read_cols`` requested
    from the file (``added`` null-backfills the ones it lacks), the
    deletion-vector positions masked, physical names renamed to
    logical ones. A file with a deletion vector is scanned WITHOUT the
    pushed predicate: positions are absolute row indexes over the full
    file, so a pruned scan would shift them (Spark re-applies its own
    filters above). ``dv_tables`` caches each dv object's (file, pos)
    table for the caller's bin, so files sharing one object read it
    once."""
    import pyarrow as pa

    dead = None
    if f.dv_path is not None:
        import numpy as np
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        dv = dv_tables.get(f.dv_path)
        if dv is None:
            dfs, dp = _fs_and_path(f.dv_path)
            dv = dv_tables[f.dv_path] = pq.read_table(
                dp, filesystem=dfs, columns=["file", "pos"]
            )
        fname = f.file_path.rsplit("/", 1)[-1]
        pos = dv.filter(pc.equal(dv.column("file"), fname)).column("pos")
        dead = np.sort(pos.to_numpy().astype(np.int64, copy=False))
        pushed = []
    offset = 0
    for batch in _read_parquet_batches(f.file_path, read_cols, pushed, added):
        n = batch.num_rows
        if dead is not None and dead.size:
            lo = int(np.searchsorted(dead, offset, side="left"))
            hi = int(np.searchsorted(dead, offset + n, side="left"))
            if hi > lo:
                mask = np.ones(n, dtype=bool)
                mask[dead[lo:hi] - offset] = False
                batch = batch.filter(pa.array(mask))
        offset += n
        if read_cols != cols:
            # zero-copy rename physical -> logical
            batch = pa.RecordBatch.from_arrays(list(batch.columns), names=cols)
        yield batch


class VersionedReader(DataSourceReader):
    def __init__(
        self,
        schema: StructType,
        table_dir: str,
        version: int | None,
        pushdown: bool = False,
    ):
        # Pruning from pushed filters is OPT-IN per load: Spark caches
        # the planned scan (partitions + read function, with whatever
        # state the LAST pushdown left in the reader) on the shared
        # relation behind one .load() handle, so a derived filtered
        # query would contaminate later UNFILTERED reads of the same
        # handle with its pruning — silently missing rows (pinned by
        # tests/test_pyds.py::test_pushdown_state_is_per_load_opt_in).
        # With pushdown off (default) this reader keeps no filter
        # state, making stale-scan reuse harmless; option("pushdown",
        # "true") accepts the one-filter-context-per-load contract in
        # exchange for file-level manifest-stats skipping + arrow
        # row-group pruning.
        self._pushdown = pushdown
        self._cols = [f.name for f in schema.fields]
        # NaN-ordering divergence makes float pushdown unsound (see
        # _translate_filters) — exclude those columns up front.
        # Timestamps are excluded too: Spark pushes a tz-aware literal
        # for LTZ columns, and pyarrow raises ArrowInvalid comparing a
        # tz-aware scalar against a tz-naive parquet column (and the
        # session-timezone reinterpretation would prune WRONG row
        # groups even when it doesn't raise). Pushdown here is pruning
        # only — skipping a column costs I/O, never correctness.
        self._pushable = {
            f.name
            for f in schema.fields
            if f.dataType.typeName()
            not in ("float", "double", "timestamp", "timestamp_ntz")
        }
        self._table_dir = table_dir
        self._version = version
        self._pushed: list[tuple] = []
        # column mapping (logical <-> physical), resolved at plan time
        # for THIS snapshot's manifest: file reads and stats lookups use
        # physical names; Spark sees logical ones
        fs, p = _fs_and_path(table_dir)
        # resolve the snapshot ONCE: mapping, dv map, and (via
        # self._resolved_v in partitions()) the file list must all come
        # from the SAME version, or a commit racing the plan would
        # apply one version's mapping to another version's files
        v = _resolve_version(table_dir, version)
        self._resolved_v = v
        mapping = _manifest_columns(fs, p, v) or []
        self._log2phys = {c["name"]: c["physical"] for c in mapping}
        # ADDED columns (metadata-only) may be absent from pre-add
        # files: arrow types resolved here, driver-side, for the
        # executor-side null backfill
        self._added_arrow = {
            c["physical"]: _ddl_to_arrow(c["type"]) for c in mapping if "type" in c
        }
        # deletion vectors, keyed by data-file NAME at plan time; the
        # dv parquet itself is read executor-side per partition
        prefix = _uri_prefix(table_dir)
        self._dv_by_name = {
            rel.rsplit("/", 1)[-1]: f"{prefix}{p}/{dv_rel}"
            for rel, dv_rel in _manifest_dv(fs, p, v).items()
        }

    def _phys(self, name: str) -> str:
        return self._log2phys.get(name, name)

    def pushFilters(self, filters: list[Filter]):  # noqa: N802 (Spark API)
        if self._pushdown:
            self._pushed = _translate_filters(filters, self._pushable)
        # Return EVERYTHING as unsupported: the pushed specs prune
        # files/row groups executor-side, Spark's own filter above
        # stays authoritative for SQL semantics.
        return iter(filters)

    def partitions(self):
        fs, p = _fs_and_path(self._table_dir)
        v = getattr(self, "_resolved_v", None)
        if v is None:  # instances built without __init__ (tests)
            v = _resolve_version(self._table_dir, self._version)
        prefix = _uri_prefix(self._table_dir)
        files = _version_files(fs, p, v, prefix)
        if self._pushed:
            # FILE-level data skipping from manifest min/max stats (the
            # Delta/Iceberg move): a pushed conjunct whose value range
            # cannot intersect a file's recorded range drops the whole
            # file from the scan — planner-side, before any task runs.
            # Spark still re-applies every filter above, so skipping is
            # pure I/O savings, never a semantics dependency.
            stats = _manifest_stats(fs, p, v)
            if stats:
                pushed_phys = [
                    (op, self._phys(col), val) for op, col, val in self._pushed
                ]  # stats come from parquet footers: physical-keyed
                files = [
                    f
                    for f in files
                    if _file_may_match(
                        stats.get(f.rsplit("/", 1)[-1]), pushed_phys
                    )
                ]
        entries = [
            _FileRead(f, dv_path=self._dv_by_name.get(f.rsplit("/", 1)[-1]))
            for f in files
        ]
        return _pack(entries, _file_sizes(fs, files, prefix))

    def read(self, partition: _FileBin):
        phys_cols = [self._phys(c) for c in self._cols]
        pushed_phys = [
            (op, self._phys(col), val) for op, col, val in self._pushed
        ]
        added_arrow = getattr(self, "_added_arrow", None)
        dv_tables: dict = {}
        for f in partition.files:
            yield from _read_file(
                f, self._cols, phys_cols, added_arrow, pushed_phys, dv_tables
            )


class VersionedDataSource(DataSource):
    """``spark.read.format("fp_versioned").option("path", d)`` with
    optional ``option("version", n)`` time travel."""

    @classmethod
    def name(cls) -> str:
        return "fp_versioned"

    def _target(self) -> tuple[str, int | None]:
        path = self.options.get("path")
        if not path:
            raise ValueError("fp_versioned requires option('path', <table_dir>)")
        v = self.options.get("version")
        return path, (int(v) if v is not None else None)

    def schema(self) -> StructType:
        path, version = self._target()
        return _snapshot_schema(path, version)

    def reader(self, schema: StructType) -> VersionedReader:
        path, version = self._target()
        pushdown = str(self.options.get("pushdown", "false")).lower() == "true"
        return VersionedReader(schema, path, version, pushdown=pushdown)

    def streamWriter(self, schema: StructType, overwrite: bool) -> "VersionedStreamArrowWriter":  # noqa: N802
        path, _ = self._target()
        if self.options.get("version") is not None:
            raise ValueError("fp_versioned: option('version') is read-only (time travel)")
        return VersionedStreamArrowWriter(
            path, self.options.get("txnAppId", "default")
        )

    def writer(self, schema: StructType, overwrite: bool) -> "VersionedArrowWriter":
        path, _ = self._target()
        # append and overwrite both commit ONE new version (see
        # VersionedArrowWriter docstring); a version pin is a read-side
        # concept and is rejected on write.
        if self.options.get("version") is not None:
            raise ValueError("fp_versioned: option('version') is read-only (time travel)")
        return VersionedArrowWriter(path)


# ---------------------------------------------------------------------------
# streaming source: the version log as a micro-batch stream
# ---------------------------------------------------------------------------


def _feed_parse(offset: dict) -> tuple[int, int | None]:
    """(version, files-consumed-of-version) — index absent/None means
    the version is fully consumed (the pre-rate-limit offset shape, so
    old checkpoints resume unchanged)."""
    return (
        int(offset["version"]),
        None if offset.get("index") is None else int(offset["index"]),
    )


def _feed_offset(version: int, index: int | None) -> dict:
    """Canonical offset dict, FIXED key order; index omitted when the
    version is fully consumed so a caught-up latestOffset re-emits
    byte-identical JSON (Spark compares offset strings)."""
    if index is None:
        return {"version": version}
    return {"version": version, "index": index}


def _feed_key(offset: dict) -> tuple:
    v, i = _feed_parse(offset)
    return (v, float("inf") if i is None else i)


class VersionFeedStreamReader(DataSourceStreamReader):
    def __init__(
        self,
        schema: StructType,
        table_dir: str,
        starting_version: int | None = None,
        max_files: int | None = None,
        max_bytes: int | None = None,
    ):
        # The declared schema must end with the _version provenance
        # column (the source's own schema() guarantees it); parquet
        # files carry everything before it. Guard explicitly so a
        # user-supplied schema WITHOUT _version fails loudly instead of
        # silently shifting column values.
        if not schema.fields or schema.fields[-1].name != "_version":
            raise ValueError(
                "fp_versioned_feed requires the schema to end with the "
                "_version bigint column (omit .schema(...) to use the "
                "source-provided one)"
            )
        self._cols = [f.name for f in schema.fields[:-1]]
        self._table_dir = table_dir
        self._starting_version = starting_version
        if max_files is not None and max_files < 1:
            raise ValueError(f"maxFilesPerTrigger must be >= 1, got {max_files}")
        if max_bytes is not None and max_bytes < 1:
            raise ValueError(f"maxBytesPerTrigger must be >= 1, got {max_bytes}")
        self._max_files = max_files
        self._max_bytes = max_bytes
        # last KNOWN stream position (rate-cap base): advanced by
        # initialOffset / partitions / commit. Every traced restart
        # path re-plans the checkpointed batch (partitions) before the
        # first latestOffset, so a limited stream never caps stale.
        self._pos: dict | None = None
        self._files_cache: dict[int, list[str]] = {}
        self._sizes_cache: dict[int, list[int]] = {}
        # column mapping: the stream's declared schema is the LATEST
        # head's logical one, but each replayed version reads under a
        # PER-VERSION logical->physical translation (partitions()
        # resolves each version's own manifest mapping by stable field
        # id) — a single latest-mapping translation breaks as soon as
        # a full rewrite (compaction) resets the mapping over mapped
        # history. The instance-level translation below is the
        # fallback for versions WITHOUT their own mapping: pre-mapping
        # files carry the latest mapping's physical names; mapping-
        # reset rewrites carry the logical names — both resolve here.
        fs, p = _fs_and_path(table_dir)
        vs = versions(table_dir, _backend(table_dir))
        mapping = (_manifest_columns(fs, p, vs[-1]) if vs else None) or []
        self._latest_mapping = mapping
        self._read_cols = [
            {c["name"]: c["physical"] for c in mapping}.get(n, n) for n in self._cols
        ] if mapping else self._cols
        # files replayed from pre-add versions lack ADDED columns:
        # null-backfill them with the manifest's declared type
        self._added_arrow = {
            c["physical"]: _ddl_to_arrow(c["type"]) for c in mapping if "type" in c
        }
        # arrow type per stream column, for per-version null backfill
        # (tolerant: a column whose type arrow can't carry simply has
        # no backfill entry and fails loudly only if a replay NEEDS it)
        from pyspark.sql.pandas.types import to_arrow_type

        self._field_arrow = {}
        for f in schema.fields[:-1]:
            try:
                self._field_arrow[f.name] = to_arrow_type(f.dataType)
            except Exception:
                pass

    def _eras(self, fs, p):
        """Contiguous runs of mapped versions ("mapping eras"), newest
        first, each as (first_v, last_v, last_mapping). Eras are
        separated by mapping-resetting full rewrites (compaction,
        merge_schema rewrites), which publish UNMAPPED manifests; a
        later rename/add then starts a fresh era with fresh field ids,
        so ids are only meaningful WITHIN an era. Cached per retained-
        version set (one manifest GET per version when history
        changes)."""
        vs = tuple(versions(self._table_dir, _backend(self._table_dir)))
        cache = getattr(self, "_era_cache", None)
        if cache is not None and cache[0] == vs:
            return cache[1]
        runs = []
        cur = None
        for w in vs:
            m = _manifest_columns(fs, p, w)
            if m:
                if cur is None:
                    cur = [w, w, m]
                else:
                    cur[1], cur[2] = w, m
            elif cur is not None:
                runs.append(tuple(cur))
                cur = None
        if cur is not None:
            runs.append(tuple(cur))
        eras = tuple(runs[::-1])
        self._era_cache = (vs, eras)
        return eras

    def _translation(self, fs, p, v: int):
        """(read_cols, added_arrow) for replaying version ``v``: which
        column name to request from its files per stream column, and
        arrow null-backfill types for names the files may lack.

        The stream schema is the HEAD's logical one; files of older
        versions carry older physical names. Translation COMPOSES
        through the mapping eras between head and v: crossing an era
        boundary translates by NAME through that era's final mapping
        (a mapping-resetting rewrite materializes exactly those
        logical names physically), and inside v's own era the final
        mapping aligns with v's mapping by STABLE FIELD ID (rename/
        add/drop chains within the era). A column with no image in
        some older era was added after v — it reads as typed NULL
        (requested under a synthetic absent name, so the stale bytes
        of a same-named DROPPED column in old files can never
        resurface). This is strictly stronger than a single
        latest-mapping translation, which breaks the moment a rewrite
        resets the mapping over mapped history (round-10 review) and
        could mis-join field ids across eras."""
        cols = self._cols
        field_arrow = getattr(self, "_field_arrow", {})
        eras = self._eras(fs, p)
        if not eras:
            # no mapping anywhere in retained history: physical ==
            # logical for every version
            return (getattr(self, "_read_cols", cols), None)
        # requested[i]: the name v's era (or the pre-era epoch) knows
        # column i by; None = the column does not exist that far back
        requested: list[str | None] = list(cols)
        era_of_v = None
        for first, last, mlast in eras:
            if last <= v and not (first <= v <= last):
                break  # eras older than v never affect v's files
            if first <= v <= last:
                era_of_v = (first, last, mlast)
                break
            # era strictly AFTER v: cross its boundary by name. An
            # entry carrying a declared "type" was ADDED during this
            # era (only add_column records one), so the column does
            # not exist in anything older — it goes to None (typed
            # NULL) from here down.
            by_name = {c["name"]: c for c in mlast}
            requested = [
                (
                    by_name[n]["physical"]
                    if n is not None and n in by_name and "type" not in by_name[n]
                    else None
                )
                for n in requested
            ]
        read_cols, added = [], {}
        if era_of_v is not None:
            _, _, mlast = era_of_v
            mv = _manifest_columns(fs, p, v) or mlast
            by_id = {c["id"]: c for c in mv}
            last_by_name = {c["name"]: c for c in mlast}
            for i, n in enumerate(requested):
                ent = by_id.get(last_by_name[n]["id"]) if n in last_by_name else None
                if n is not None and ent is not None:
                    read_cols.append(ent["physical"])
                    if "type" in ent:
                        # added within the era: files carried by
                        # reference from BEFORE the add lack the
                        # physical column — register its backfill
                        added[ent["physical"]] = _ddl_to_arrow(ent["type"])
                    continue
                self._append_absent(read_cols, added, cols[i], field_arrow, v)
        else:
            # v predates every era (or postdates the last reset with
            # no era after it): its files carry ``requested`` verbatim
            for i, n in enumerate(requested):
                if n is not None:
                    read_cols.append(n)
                    continue
                self._append_absent(read_cols, added, cols[i], field_arrow, v)
        return read_cols, added

    @staticmethod
    def _append_absent(read_cols, added, logical_name, field_arrow, v):
        """Request a column that does not exist in version ``v`` under
        a SYNTHETIC name and register its typed-NULL backfill."""
        if logical_name not in field_arrow:
            raise ValueError(
                f"cannot null-backfill column {logical_name!r} for "
                f"version {v} (no arrow type for its declared schema)"
            )
        phys = f"__fp_absent_{logical_name}"
        read_cols.append(phys)
        added[phys] = field_arrow[logical_name]

    def _dbg(self, msg: str) -> None:
        # The stream reader runs in a separate Python runner process
        # where monkeypatch-style instrumentation can't reach; set
        # FP_PYDS_DEBUG=<file> to trace offset planning and partition
        # reads when debugging (used to pin the empty-snapshot gotcha
        # in SCALE.md's Python DataSource section).
        import os

        log = os.environ.get("FP_PYDS_DEBUG")
        if log:
            with open(log, "a") as f:
                f.write(msg + "\n")

    def _advance(self, offset: dict) -> None:
        """Monotonically advance the rate-cap base (commit() of an old
        batch can arrive after partitions() of a newer one)."""
        pos = getattr(self, "_pos", None)
        if pos is None or _feed_key(offset) > _feed_key(pos):
            self._pos = dict(offset)

    def _feed_files(self, fs, p, v: int, prefix: str) -> list[str]:
        cache = getattr(self, "_files_cache", None)
        if cache is None:
            cache = self._files_cache = {}
        if v not in cache:
            while len(cache) >= 64:  # bounded: streams tail for months
                cache.pop(next(iter(cache)))
            cache[v] = _version_files(fs, p, v, prefix)
        return cache[v]

    def _feed_sizes(self, fs, v: int, files: list[str], prefix: str) -> list[int]:
        """Per-file byte sizes (for maxBytesPerTrigger and bin
        packing), one metadata call per version, cached (bounded) —
        planning-time only."""
        cache = getattr(self, "_sizes_cache", None)
        if cache is None:
            cache = self._sizes_cache = {}
        if v not in cache:
            while len(cache) >= 64:
                cache.pop(next(iter(cache)))
            cache[v] = _file_sizes(fs, files, prefix)
        return cache[v]

    def initialOffset(self) -> dict:  # noqa: N802
        off = self._initial_offset()
        self._advance(off)
        return off

    def _initial_offset(self) -> dict:
        vs = versions(self._table_dir, _backend(self._table_dir))
        # getattr: tolerate instances built without __init__ (tests,
        # legacy pickles) — absent attribute means no startingVersion
        sv = getattr(self, "_starting_version", None)
        self._dbg(f"initialOffset vs={vs} starting={sv}")
        # Default: start BEFORE the first retained version (vacuumed
        # history is gone by operator decision). option("startingVersion",
        # n) replays from version n inclusive instead — Delta's
        # startingVersion contract, including its failure mode: asking
        # for a vacuumed version fails loudly at first read rather than
        # silently skipping ahead.
        if sv is not None:
            if vs and sv < vs[0]:
                raise ValueError(
                    f"startingVersion {sv} predates the earliest retained "
                    f"version {vs[0]} in {self._table_dir} (vacuumed "
                    "history cannot replay)"
                )
            # the upper bound fails loudly too (Delta's contract: a
            # startingVersion that does not exist is an error, not a
            # stream silently idling at a future offset) — except
            # sv == latest + 1, the documented "next commit only"
            # tail-from-now idiom, which stays legal.
            latest = vs[-1] if vs else None
            if latest is None:
                raise ValueError(
                    f"startingVersion {sv} on {self._table_dir}: the "
                    "table has no committed versions to replay"
                )
            if sv > latest + 1:
                raise ValueError(
                    f"startingVersion {sv} does not exist in "
                    f"{self._table_dir} (latest committed version is "
                    f"{latest}; {latest + 1} tails from the next commit)"
                )
            return {"version": sv - 1}
        return {"version": (vs[0] - 1) if vs else 0}

    def latestOffset(self) -> dict:  # noqa: N802
        backend = _backend(self._table_dir)
        v = latest_version(self._table_dir, backend)
        if v is None:
            vs = versions(self._table_dir, backend)
            v = vs[-1] if vs else 0
        max_files = getattr(self, "_max_files", None)
        max_bytes = getattr(self, "_max_bytes", None)
        if max_files is None and max_bytes is None:
            self._dbg(f"latestOffset -> {v}")
            return _feed_offset(v, None)
        # ADMISSION CONTROL: walk forward from the last known position
        # by files within the budget, so a huge version (or a long
        # backlog of versions) splits into bounded micro-batches with
        # file-granular exact restart. On a FRESH stream latestOffset
        # precedes initialOffset — derive the base the same way.
        base = getattr(self, "_pos", None)
        if base is None:
            base = self._initial_offset()
        bv, bi = _feed_parse(base)
        fs, p = _fs_and_path(self._table_dir)
        prefix = _uri_prefix(self._table_dir)
        taken_files = 0
        taken_bytes = 0

        def room(size: int) -> bool:
            if max_files is not None and taken_files >= max_files:
                return False
            if (
                max_bytes is not None
                and taken_files >= 1  # soft cap: at least one file
                and taken_bytes >= max_bytes
            ):
                return False
            return True

        vs = versions(self._table_dir, backend)
        pos_v, pos_i = bv, bi
        for w in vs:
            if w < bv or (w == bv and bi is None):
                continue
            if w > v:
                break
            files = self._feed_files(fs, p, w, prefix)
            sizes = (
                self._feed_sizes(fs, w, files, prefix)
                if max_bytes is not None
                else [0] * len(files)
            )
            j = bi if (w == bv and bi is not None) else 0
            took = 0
            for size in sizes[j:]:
                if not room(size):
                    break
                took += 1
                taken_files += 1
                taken_bytes += size
            j2 = j + took
            if j2 < len(files):
                if j2 == j:
                    # budget exhausted at w's boundary without entering
                    # it: end at the last FULL position (canonical)
                    self._dbg(f"latestOffset capped -> {pos_v}/{pos_i}")
                    return _feed_offset(pos_v, pos_i)
                self._dbg(f"latestOffset capped -> {w} index {j2}")
                return _feed_offset(w, j2)
            pos_v, pos_i = w, None
        self._dbg(f"latestOffset capped -> {pos_v} (caught up)")
        return _feed_offset(pos_v, pos_i)

    def partitions(self, start: dict, end: dict):
        self._dbg(f"partitions(start={start}, end={end})")
        fs, p = _fs_and_path(self._table_dir)
        prefix = _uri_prefix(self._table_dir)
        sv, si = _feed_parse(start)
        ev, ei = _feed_parse(end)
        entries: list[_FileRead] = []
        sizes: list[int] = []
        from_v = sv if si is not None else sv + 1
        for v in range(from_v, ev + 1):
            files = self._feed_files(fs, p, v, prefix)
            lo = si if (v == sv and si is not None) else 0
            hi = ei if (v == ev and ei is not None) else len(files)
            if lo >= hi:
                continue
            dv_by_name = {
                rel.rsplit("/", 1)[-1]: f"{prefix}{p}/{dv_rel}"
                for rel, dv_rel in _manifest_dv(fs, p, v).items()
            }
            read_cols_v, added_v = self._translation(fs, p, v)
            entries.extend(
                _FileRead(
                    f, v, dv_path=dv_by_name.get(f.rsplit("/", 1)[-1]),
                    read_cols=read_cols_v, added=added_v,
                )
                for f in files[lo:hi]
            )
            sizes.extend(self._feed_sizes(fs, v, files, prefix)[lo:hi])
        # a zero-partition range is legal (no new versions this batch)
        out = _pack(entries, sizes)
        self._dbg(f"partitions -> {[(x.version, x.file_path.rsplit('/',2)[-2:]) for x in entries[:40]]} n={len(entries)} bins={len(out)}")
        self._advance(end)
        return out

    def read(self, partition: _FileBin):
        import pyarrow as pa

        dv_tables: dict = {}
        for f in partition.files:
            self._dbg(f"read v={f.version} f={f.file_path.rsplit('/',2)[-2:]}")
            # per-version translation rides the file entry (set by
            # partitions()); getattr tolerates reader instances built
            # without __init__ (tests) — absent mapping means
            # physical == logical
            read_cols = f.read_cols
            if read_cols is None:
                read_cols = getattr(self, "_read_cols", self._cols)
                added = getattr(self, "_added_arrow", None)
            else:
                added = f.added
            version = pa.scalar(f.version, pa.int64())
            for batch in _read_file(f, self._cols, read_cols, added, [], dv_tables):
                yield batch.append_column(
                    "_version", pa.repeat(version, batch.num_rows)
                )

    def commit(self, end: dict) -> None:
        # snapshots are immutable and the checkpoint holds the replay
        # position — only the rate-cap base advances here
        self._advance(end)


class VersionFeedDataSource(DataSource):
    """``spark.readStream.format("fp_versioned_feed").option("path", d)``:
    each committed version becomes one micro-batch, rows stamped with
    ``_version``. ``option("maxFilesPerTrigger", n)`` /
    ``option("maxBytesPerTrigger", b)`` bound each micro-batch instead
    — a huge version (or a long backlog) splits into bounded batches
    with file-granular exact restart (offsets gain an ``index`` field
    mid-version; unlimited streams keep the bare ``{"version": N}``
    shape, so existing checkpoints resume unchanged). maxBytes is a
    soft cap: files are admitted until the budget is exceeded, at
    least one per batch. Python-API trigger caveat (same as
    fp_delta_feed): ``Trigger.AvailableNow`` pins the first
    latestOffset as the run's terminal offset, so a rate-limited
    availableNow run drains exactly ONE bounded batch; use a
    processingTime trigger for steady multi-batch draining."""

    @classmethod
    def name(cls) -> str:
        return "fp_versioned_feed"

    def schema(self) -> StructType:
        path = self.options.get("path")
        if not path:
            raise ValueError("fp_versioned_feed requires option('path', <table_dir>)")
        base = _snapshot_schema(path, None)
        return StructType(list(base.fields) + [StructField("_version", LongType(), False)])

    def streamReader(self, schema: StructType) -> VersionFeedStreamReader:  # noqa: N802
        sv = self.options.get("startingversion")  # option keys lowercase
        mft = self.options.get("maxfilespertrigger")
        mbt = self.options.get("maxbytespertrigger")
        return VersionFeedStreamReader(
            schema, self.options["path"],
            starting_version=int(sv) if sv is not None else None,
            max_files=int(mft) if mft is not None else None,
            max_bytes=int(mbt) if mbt is not None else None,
        )


# ---------------------------------------------------------------------------
# batch writer: df.write.format("fp_versioned") with a real commit protocol
# ---------------------------------------------------------------------------


class _FileCommit(WriterCommitMessage):
    def __init__(self, file_name: str | None):
        self.file_name = file_name


class VersionedArrowWriter(DataSourceArrowWriter):
    """Two-phase commit onto the versioned-table layout. Tasks stage
    parquet files into a job-unique ``_staging_*`` dir (write phase,
    executors, Arrow batches straight to pyarrow's parquet writer);
    the driver-side ``commit`` then moves the staged files into the
    next ``v{N:05d}`` snapshot dir and swaps the ``_LATEST`` pointer —
    readers see the old version or the new one, never a partial write,
    the same contract ``versioned.write_version`` gives the JVM path.
    ``abort`` deletes the staging dir, so failed jobs leave no
    published state. Every save (append OR overwrite mode) commits one
    new version: in a versioned table "overwrite" IS "new version" —
    history is how the old data remains reachable."""

    def __init__(self, table_dir: str):
        import uuid

        self._table_dir = table_dir
        # one writer id names the staging dir and the commit's claim
        # lease, so fsck keeps a committing writer's staging
        self._wid = uuid.uuid4().hex[:12]
        self._staging = f"{table_dir}/_staging_{self._wid}"
        # driver-side staging lease, HEARTBEATED for as long as the
        # staging dir exists (a write job can run far past the 60 s
        # lease TTL; a one-shot lease would leave its staged files
        # sweepable by a concurrent versioned.fsck mid-job). Writer
        # instances unpickled in executor workers never run __init__,
        # so only the driver-side instance heartbeats.
        _heartbeat_staging(_backend(table_dir), self._staging, self._wid)

    def write(self, iterator):
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        batches = [b for b in iterator if b.num_rows]
        if not batches:
            return _FileCommit(None)  # empty partition stages nothing
        fs, staging = _fs_and_path(self._staging)
        fs.create_dir(staging, recursive=True)
        pid = TaskContext.get().partitionId() if TaskContext.get() else 0
        name = f"part-{pid:05d}-{uuid.uuid4().hex[:12]}.parquet"
        table = pa.Table.from_batches(batches)
        with fs.open_output_stream(f"{staging}/{name}") as out:
            pq.write_table(table, out)
        return _FileCommit(name)

    def commit(self, messages):
        # the claim protocol serializes this commit against every other
        # writer (batch, streaming, and versioned.write_version)
        backend = _backend(self._table_dir)
        files = [m.file_name for m in messages if m is not None and m.file_name]
        _commit_files(self._table_dir, backend, self._staging, files, self._wid)
        backend.rmtree(self._staging)

    def abort(self, messages):
        _backend(self._table_dir).rmtree(self._staging)


class VersionedStreamArrowWriter(DataSourceStreamArrowWriter):
    """Streaming leg of the write path: each micro-batch commits ONE
    new version — `writeStream.format("fp_versioned")` turns the
    versioned table into a transactional streaming sink (the
    Delta-style per-batch commit, reduced to its essentials). Tasks
    stage Arrow batches as uuid-named parquet files into an APP-SCOPED
    staging dir (two queries — which must use distinct txnAppIds — can
    never sweep each other's staged files); the
    driver-side per-epoch ``commit(messages, batchId)`` moves exactly
    the files its messages name into the next snapshot and swaps the
    pointer. Exactly-once across batch REPLAYS (the streaming failure
    mode st09 certifies on the read side) comes from a ``_COMMITS``
    ledger mapping (txnAppId, batchId) -> version: a replayed batch
    finds its key already committed, discards its re-staged files, and
    publishes nothing — the sink-side idempotence that plain parquet
    appends lack. The appId scope matters (Delta's (appId, txnVersion)
    pattern): a 'reset the checkpoint and reprocess' run restarts
    batchIds at 0, and WITHOUT identity every epoch would silently
    match the old ledger and be discarded — silent data loss. Pass
    ``option("txnAppId", ...)`` to name the logical writer (default
    ``"default"``); a batchId at or below an appId's ledger high-water
    mark that is not a replay of that appId's NEWEST epoch raises
    loudly instead, so a reset-checkpoint reprocess fails fast with
    the fix in the message (use a fresh txnAppId). Empty micro-batches
    (no rows anywhere) commit no version. ``abort`` removes only the
    aborted epoch's staged files. Concurrent writers on one table are
    serialized per-commit by the claim protocol (versioned._claim_slot);
    two SIMULTANEOUS streaming queries sharing one txnAppId remain a
    configuration error (their batchId sequences interleave in one
    ledger scope)."""

    def __init__(self, table_dir: str, app_id: str = "default"):
        if not app_id or not re.fullmatch(r"[A-Za-z0-9_.\-]+", app_id):
            raise ValueError(
                "txnAppId must be non-empty and use only [A-Za-z0-9_.-] "
                "(it names the ledger scope AND the staging directory)"
            )
        self._table_dir = table_dir
        self._app = app_id
        # Staging is keyed by the txnAppId, NOT a per-instance uuid:
        # Spark materializes this writer in TWO Python processes (the
        # executor worker for write(), the streaming runner for
        # commit()), so any instance-local randomness would point them
        # at different dirs. App-scoping still fixes the round-5
        # finding — two queries (distinct appIds, the documented
        # contract) can never sweep each other's staged files.
        self._staging = f"{table_dir}/_stream_staging_{app_id}"

    def write(self, iterator):
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        batches = [b for b in iterator if b.num_rows]
        if not batches:
            return _FileCommit(None)
        fs, staging = _fs_and_path(self._staging)
        fs.create_dir(staging, recursive=True)
        name = f"part-{uuid.uuid4().hex[:16]}.parquet"
        with fs.open_output_stream(f"{staging}/{name}") as out:
            pq.write_table(pa.Table.from_batches(batches), out)
        return _FileCommit(name)

    def _sweep_staging(self, backend) -> None:
        """Remove everything left in THIS RUN's staging dir (the dir is
        run-unique, so no other query's files can be here). Safe at
        commit/replay time: only this epoch's tasks write staging, and
        they have completed (a zombie speculative task's file is
        discardable by definition — its message never reaches commit).
        A crashed run's abandoned staging dir is cleared by
        ``versioned.fsck``."""
        for name in backend.list_names(self._staging):
            if name != "_lease":  # liveness marker persists across epochs
                backend.delete_file(f"{self._staging}/{name}")

    def commit(self, messages, batchId):  # noqa: N803 (Spark API)
        import uuid

        backend = _backend(self._table_dir)
        wid = uuid.uuid4().hex[:12]
        # refresh the app-scoped staging lease every epoch (driver-side,
        # atomic tmp+rename): a live stream's staged files stay
        # fsck-proof as long as batches land within the lease TTL —
        # epochs LONGER than the TTL (e.g. multi-minute triggers over a
        # slow store) should raise fsck's claim_ttl_sec accordingly;
        # the lease protocol bounds the exposure, it cannot remove it
        # without a per-executor heartbeat
        _lease_staging(backend, self._staging, wid)
        files = [m.file_name for m in messages if m is not None and m.file_name]
        ledger = _ledger_entries(self._table_dir, backend)
        key = (self._app, batchId)
        mine = [b for (a, b) in ledger if a == self._app]
        high = max(mine) if mine else None
        if key in ledger:
            if batchId == high:
                # Replayed NEWEST epoch (crash between sink commit and
                # checkpoint commit): the LEDGER is the commit point, so
                # this epoch already published. Roll the pointer
                # forward if the crash hit between ledger write and
                # pointer swap, then discard the re-staged files —
                # nothing publishes twice.
                _finish_replayed_commit(self._table_dir, backend, ledger[key])
                self._sweep_staging(backend)
                return
            # A genuine crash replay can only replay the newest epoch —
            # an older batchId means the CHECKPOINT WAS RESET and this
            # run is reprocessing under a stale ledger scope. Silently
            # discarding (the pre-fix behavior) would drop every epoch.
            raise ValueError(
                f"fp_versioned sink: batch {batchId} for txnAppId "
                f"'{self._app}' is below that app's ledger high-water "
                f"mark {high} and is not a replay of its newest epoch — "
                "the checkpoint was reset. Reprocessing runs must set a "
                "fresh option('txnAppId', ...) so their commits get "
                "their own idempotence scope."
            )
        if high is not None and batchId <= high:
            # Not in the ledger but below the high-water mark: the old
            # run's epoch at this id published nothing (empty batch) —
            # still a reset checkpoint; committing would interleave two
            # runs' output in one scope.
            raise ValueError(
                f"fp_versioned sink: batch {batchId} for txnAppId "
                f"'{self._app}' restarts below ledger high-water mark "
                f"{high} — reset checkpoints need a fresh txnAppId."
            )
        if not files:
            return  # empty micro-batch publishes nothing
        # ledger first, pointer second: a crash between the two is
        # repaired on replay above (and by any writer's roll-forward in
        # versioned._claim_slot)
        _commit_files(
            self._table_dir, backend, self._staging, files, wid, ledger_key=key
        )
        self._sweep_staging(backend)

    def abort(self, messages, batchId):  # noqa: N803
        backend = _backend(self._table_dir)
        for m in messages:
            if m is not None and getattr(m, "file_name", None):
                backend.delete_file(f"{self._staging}/{m.file_name}")


def register_python_sources(spark) -> None:
    """Idempotently register both sources on a session (re-registering
    overwrites with an identical implementation, which is harmless).
    Python-source filter pushdown is opt-in (and pushFilters on a
    source that implements it FAILS analysis when the flag is off), so
    enable it here — runtime-settable SQL conf."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(VersionedDataSource)
    spark.dataSource.register(VersionFeedDataSource)
    from .delta_feed import DeltaFeedDataSource

    spark.dataSource.register(DeltaFeedDataSource)
