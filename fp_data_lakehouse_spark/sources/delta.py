"""Delta Lake TABLE READER — interop IN, the mirror of the
symlink-manifest export's interop OUT (operators/io.py io13/io15) and
the delta-log export (publish_delta_log, operators/io.py io16).

Reads a Delta table directly from its transaction log per the PUBLIC
Delta protocol spec (delta-io/delta PROTOCOL.md) with no Delta JAR and
no DeltaCatalog: list ``_delta_log/``, start from the newest complete
parquet checkpoint at or before the requested version (single-part
``%020d.checkpoint.parquet`` AND multi-part
``%020d.checkpoint.%010d.%010d.parquet``, with the ``_last_checkpoint``
pointer consulted as the spec's LIST-avoidance hint), replay the JSON
commits above it (``add`` / ``remove`` reconciled per commit — the add
wins over a same-path remove in the same commit, the DV-update shape;
last ``metaData`` / ``protocol`` win), and scan the resulting file set
with the schema the log declares. Hive-less partitioning is honored the
way Delta defines it: partition column VALUES live in each ``add``'s
``partitionValues`` map (the parquet files do not contain those
columns), joined back in during the scan (see :func:`read_delta`). The
scan always uses the log's DECLARED schema — pre-ADD-COLUMN files
null-backfill, never footer inference.

All log metadata I/O (listing, commit JSON, ``_last_checkpoint``) goes
through the same backend seam as the repo's own versioned layer
(``versioned._backend_for``): local paths use the local backend,
scheme'd paths (s3a://, abfss://, file://, …) ride the JVM Hadoop
FileSystem, and registered overrides (e.g. the conditional-PUT
object-store backend) apply — so the reader works anywhere Spark
itself can read parquet, not just on ``os.listdir``-able paths.
Checkpoint and data parquet are read by Spark (executor-side);
commit-JSON replay is driver-side by design — Delta log segments are
metadata-sized, and replay-on-driver is how Delta itself plans a scan.

Feature support (protocol-gated, loud on anything else):

- **deletionVectors** (reader v3 feature): each ``add`` may carry a
  ``deletionVector`` descriptor; the referenced RoaringBitmapArray
  bitmaps (inline Z85 or ``.bin`` files per the spec's framing — see
  sources/roaring.py) are expanded to (file, position) rows —
  EXECUTOR-side via a binaryFile scan for file-backed DVs — and
  removed with the same size-gated positional anti-join the versioned
  layer uses (versioned._dv_hinted), so deleted rows never resurrect
  and an unbounded DV never rides a broadcast hint.
- **columnMapping** in ``name`` mode (reader v2, or v3 feature):
  parquet files carry PHYSICAL column names
  (``delta.columnMapping.physicalName`` field metadata, recursively for
  nested structs); the scan requests the physicalized schema and
  projects back to logical names. ``partitionValues`` keys are
  physical names per the spec. ``id`` mode (parquet field-id matching,
  the Iceberg-converted-table shape) rides Spark's NATIVE field-id
  resolution: the scan requests the LOGICAL schema annotated with
  ``parquet.field.id`` metadata (from ``delta.columnMapping.id``,
  recursively) under ``spark.sql.parquet.fieldId.read.enabled``, so
  file column names are ignored and ids match — including nested
  fields; ids absent from a file (post-ADD-COLUMN) read as NULL.
  The conf flip is SCOPED to a cloned scan session (shared context,
  isolated SQLConf — see :func:`_id_scan_session`), never set on the
  caller's session.
- **timestampNtz** / **vacuumProtocolCheck**: no reader-side work
  beyond type support / none, accepted.

Unsupported reader features (v2Checkpoint, typeWidening, …) and
protocol versions above 3 are refused loudly rather than returning
wrong rows. Time travel via ``version=``. Reference parity: the
reference consumes external tables by full MySQL SELECT
(ETL_FINAL.py:38); this is that ingestion seam pointed at the
lakehouse format the rest of the ecosystem writes.

Caveat, stated plainly: the container ships no delta-spark JAR, so the
test fixtures (tests/test_delta_reader.py, tests/test_roaring.py)
synthesize logs and DV files per the protocol spec (with hand-computed
known-answer byte vectors for the bitmap/Z85 codecs) rather than
round-tripping tables written by Delta itself — field-shape fidelity
rests on the spec, not on a live cross-implementation check.
"""

from __future__ import annotations

import json
import re
import uuid as _uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from ..session import scoped_session
from .roaring import deserialize_rbm_array, positions_from_dv_blob, z85_decode

_COMMIT = re.compile(r"^(\d{20})\.json$")
_CHECKPOINT_SINGLE = re.compile(r"^(\d{20})\.checkpoint\.parquet$")
_CHECKPOINT_MULTI = re.compile(r"^(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet$")
# v2 spec checkpoint: UUID-named, json or parquet, file actions inline
# or in _sidecars/ parquet files named by `sidecar` actions
_CHECKPOINT_V2 = re.compile(
    r"^(\d{20})\.checkpoint\.([0-9a-fA-F-]{36})\.(json|parquet)$"
)

# reader features this implementation actually implements (protocol v3
# tables list required features explicitly; v1/v2 tables imply none).
# timestampNtz needs only type support (StructType.fromJson handles
# timestamp_ntz); vacuumProtocolCheck constrains VACUUM, not reads.
_SUPPORTED_READER_FEATURES: frozenset = frozenset(
    {
        "deletionVectors",
        "columnMapping",
        "timestampNtz",
        "vacuumProtocolCheck",
        "v2Checkpoint",
    }
)

_PHYS_KEY = "delta.columnMapping.physicalName"


def _backend(table_dir: str, spark=None):
    from .versioned import _backend_for

    return _backend_for(table_dir, spark)


def _log_entries(log_dir: str, backend) -> tuple[list[int], dict[int, list[str]]]:
    """(commit versions, {checkpoint version: part file names}) present
    in _delta_log. Multi-part checkpoints count only when COMPLETE
    (all numParts parts present with a consistent count) — the spec
    requires readers to ignore partially-written checkpoints."""
    names = backend.list_names(log_dir)
    if not names:
        raise FileNotFoundError(f"not a Delta table: no _delta_log under {log_dir}")
    commits: list[int] = []
    checkpoints: dict[int, list[str]] = {}
    multi: dict[tuple[int, int], dict[int, str]] = {}
    for n in names:
        m = _COMMIT.match(n)
        if m:
            commits.append(int(m.group(1)))
            continue
        m = _CHECKPOINT_SINGLE.match(n)
        if m:
            checkpoints[int(m.group(1))] = [n]
            continue
        m = _CHECKPOINT_MULTI.match(n)
        if m:
            v, part, total = int(m.group(1)), int(m.group(2)), int(m.group(3))
            multi.setdefault((v, total), {})[part] = n
            continue
        m = _CHECKPOINT_V2.match(n)
        if m:
            # a v2 checkpoint is complete by existence (sidecars are
            # written before it); classic forms, when also present at
            # the same version, are equivalent — keep whichever landed
            # in the dict first and let setdefault arbitrate
            checkpoints.setdefault(int(m.group(1)), [n])
    for (v, total), parts in multi.items():
        if set(parts) == set(range(1, total + 1)):
            # a complete multi-part set; prefer it over a single-part
            # twin only if none exists (both complete = equivalent)
            checkpoints.setdefault(v, [parts[i] for i in range(1, total + 1)])
    return sorted(commits), checkpoints


def _read_last_checkpoint(log_dir: str, backend) -> dict | None:
    """The ``_last_checkpoint`` pointer (spec: a LIST-avoidance hint;
    may be stale after a crash, so the listing stays authoritative)."""
    txt = backend.read_text(f"{log_dir}/_last_checkpoint")
    if txt is None:
        return None
    try:
        return json.loads(txt)
    except (ValueError, TypeError):
        return None  # a torn hint is ignorable by spec; listing rules


def _check_protocol(protocol: dict | None, table_dir: str) -> None:
    if protocol is None:
        return
    mrv = protocol.get("minReaderVersion", 1)
    features = set(protocol.get("readerFeatures") or [])
    unsupported = features - _SUPPORTED_READER_FEATURES
    if mrv >= 3 and unsupported:
        raise ValueError(
            f"Delta table {table_dir} requires reader features "
            f"{sorted(unsupported)} this reader does not implement — "
            "refusing rather than returning wrong rows"
        )
    if mrv > 3:
        raise ValueError(
            f"Delta table {table_dir} requires minReaderVersion {mrv} "
            "(> 3); refusing an unknown protocol"
        )


def _ts_to_epoch(ts) -> float:
    """Epoch seconds from epoch-seconds / datetime / ISO-8601 string
    (naive = UTC) — the timestamp forms Delta's AS OF accepts."""
    import datetime

    if isinstance(ts, str):
        dt = datetime.datetime.fromisoformat(ts)
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=datetime.timezone.utc)
        return dt.timestamp()
    if isinstance(ts, datetime.datetime):
        if ts.tzinfo is None:
            ts = ts.replace(tzinfo=datetime.timezone.utc)
        return ts.timestamp()
    return float(ts)


def _adjusted_commit_times(
    log_dir: str, commits: list[int], backend
) -> list[tuple[int, float]]:
    """(version, commit time) for the retained commit JSONs, with the
    spec's MONOTONIC adjustment: a commit whose store mtime runs
    backward (clock skew, copied logs) is treated as its predecessor's
    time + 1ms, so version order and time order never disagree."""
    adjusted: list[tuple[int, float]] = []
    prev = float("-inf")
    for c in commits:
        mt = backend.mtime(f"{log_dir}/{c:020d}.json")
        if mt is None:
            continue  # vanished mid-listing: racing retention
        mt = max(mt, prev + 0.001)
        adjusted.append((c, mt))
        prev = mt
    return adjusted


def delta_version_as_of(
    table_dir: str, ts, spark=None, backend=None
) -> int:
    """Delta's TIMESTAMP AS OF resolution: the LATEST version whose
    commit time is at or before ``ts`` (epoch seconds, datetime, or
    ISO-8601 string; naive = UTC). Commit times come from the commit
    files' store modification times with the spec's MONOTONIC
    adjustment (a commit whose mtime runs backward — clock skew,
    copied logs — is treated as its predecessor's time + 1ms, so
    version order and time order never disagree). Checkpoint-only
    versions (commit JSON vacuumed) carry no timestamp and cannot be
    resolved by time — asking for a time at or before them raises,
    same as Delta on retention-trimmed history. A timestamp AFTER the
    newest adjusted commit time also raises (Delta parity: TIMESTAMP
    AS OF beyond the head is an error, never a silent clamp-to-latest
    — a caller asking for "now + 1h" expected a commit that does not
    exist yet; omit ``as_of`` to read the head)."""
    td = table_dir.rstrip("/")
    backend = backend or _backend(td, spark)
    ts = _ts_to_epoch(ts)
    log_dir = f"{td}/_delta_log"
    commits, _cps = _log_entries(log_dir, backend)
    if not commits:
        raise FileNotFoundError(f"no commit JSON retained in {table_dir}")
    adjusted = _adjusted_commit_times(log_dir, commits, backend)
    best = None
    for c, mt in adjusted:
        if mt <= ts:
            best = c
    if best is None:
        raise FileNotFoundError(
            f"no Delta commit in {table_dir} at or before timestamp {ts} "
            f"(earliest retained commit is v{adjusted[0][0]} at "
            f"{adjusted[0][1]:.3f})" if adjusted else
            f"no timestamped Delta commits retained in {table_dir}"
        )
    if ts > adjusted[-1][1]:
        raise ValueError(
            f"timestamp {ts} is after the latest commit of {table_dir} "
            f"(v{adjusted[-1][0]} at {adjusted[-1][1]:.3f}) — TIMESTAMP "
            "AS OF beyond the head is an error per Delta's contract; "
            "omit as_of (or pass version=) to read the head"
        )
    return best


def _v2_checkpoint_state(
    spark, log_dir: str, name: str, cp_version: int, backend
) -> list[dict]:
    """Actions of a V2 spec checkpoint as plain dicts: the UUID-named
    top-level file (json or parquet) carries ``checkpointMetadata``
    (validated against the file-name version), ``protocol`` /
    ``metaData``, optional inline file actions, and ``sidecar``
    actions naming parquet files under ``_delta_log/_sidecars/`` that
    hold the bulk add/remove state. Sidecars are one parquet scan
    regardless of count — the same O(metadata) seeding cost as a
    classic multi-part checkpoint."""
    if name.endswith(".json"):
        txt = backend.read_text(f"{log_dir}/{name}")
        if txt is None:
            raise FileNotFoundError(f"v2 checkpoint {name} vanished in {log_dir}")
        dicts = [json.loads(ln) for ln in txt.splitlines() if ln.strip()]
    else:
        df = spark.read.parquet(f"{log_dir}/{name}")
        have = set(df.columns)
        want = [
            c
            for c in ("add", "remove", "metaData", "protocol",
                      "checkpointMetadata", "sidecar", "domainMetadata")
            if c in have
        ]
        dicts = [r.asDict(recursive=True) for r in df.select(*want).collect()]

    cp_meta = [d["checkpointMetadata"] for d in dicts if d.get("checkpointMetadata")]
    if len(cp_meta) != 1:
        raise ValueError(
            f"v2 checkpoint {name} carries {len(cp_meta)} checkpointMetadata "
            "actions (the spec requires exactly one)"
        )
    if int(cp_meta[0].get("version", -1)) != cp_version:
        raise ValueError(
            f"v2 checkpoint {name} declares version "
            f"{cp_meta[0].get('version')} but its file name says "
            f"{cp_version} — refusing a torn checkpoint"
        )
    sidecars = [
        d["sidecar"]["path"]
        for d in dicts
        if d.get("sidecar") and d["sidecar"].get("path")
    ]
    out = [
        d
        for d in dicts
        if d.get("add")
        or d.get("remove")
        or d.get("metaData")
        or d.get("protocol")
        or d.get("domainMetadata")
    ]
    if sidecars:
        paths = [
            p if ("://" in p or p.startswith("/")) else f"{log_dir}/_sidecars/{p}"
            for p in sidecars
        ]
        sc_df = spark.read.parquet(*sorted(paths))
        have = set(sc_df.columns)
        out.extend(
            r.asDict(recursive=True)
            for r in sc_df.select(
                *[c for c in ("add", "remove") if c in have]
            ).collect()
        )
    return out


def delta_snapshot(
    table_dir: str, version: int | None = None, spark=None, backend=None
) -> dict:
    """Reconstruct the snapshot state at ``version`` (default: latest):
    ``{"version", "files": {path: partitionValues}, "dv": {path:
    deletionVector descriptor}, "sizes": {path: bytes}, "schema_json",
    "partition_columns", "protocol", "configuration",
    "column_mapping_mode"}``. Pure log
    replay — checkpoint parquet (if ``spark`` given and one helps) then
    JSON commits; O(log segment), no data files touched."""
    td = table_dir.rstrip("/")
    backend = backend or _backend(td, spark)
    log_dir = f"{td}/_delta_log"
    commits, checkpoints = _log_entries(log_dir, backend)
    if not commits and not checkpoints:
        raise FileNotFoundError(f"empty _delta_log in {table_dir}")
    latest = max(
        commits[-1] if commits else -1,
        max(checkpoints) if checkpoints else -1,
    )
    v = latest if version is None else version
    if v > latest or (v not in commits and v not in checkpoints):
        raise FileNotFoundError(
            f"version {v} not present in {table_dir} (latest {latest})"
        )

    files: dict[str, dict] = {}
    dvs: dict[str, dict] = {}
    tags: dict[str, dict] = {}
    sizes: dict[str, int] = {}
    domains: dict[str, str] = {}  # domainMetadata: domain -> config JSON
    meta: dict | None = None
    protocol: dict | None = None
    start = 0
    usable_cp = sorted(c for c in checkpoints if c <= v)
    # the _last_checkpoint hint must never make us use a WORSE starting
    # point than the listing found (the listing stays authoritative per
    # spec); it is consulted as a TRIPWIRE — a hint naming a version the
    # listing found no COMPLETE checkpoint for means an incomplete
    # multi-part write (crash mid-checkpoint). The read itself is still
    # sound (replay falls back to older checkpoints/commits), so warn
    # rather than raise, but loudly: silent toleration hid this state
    # until round 12.
    hint = _read_last_checkpoint(log_dir, backend)
    if hint and isinstance(hint.get("version"), int):
        hv = hint["version"]
        if hv <= latest and hv not in checkpoints:
            import warnings

            warnings.warn(
                f"_last_checkpoint in {log_dir} names version {hv} but "
                "the listing found no complete checkpoint there — "
                "likely an incomplete multi-part checkpoint write; "
                "replay proceeds from the listing (spec-authoritative)",
                RuntimeWarning,
                stacklevel=2,
            )
    if usable_cp and spark is not None:
        cp = usable_cp[-1]
        cp_names = checkpoints[cp]
        v2 = _CHECKPOINT_V2.match(cp_names[0]) if len(cp_names) == 1 else None
        if v2:
            dicts = _v2_checkpoint_state(spark, log_dir, cp_names[0], cp, backend)
        else:
            cp_df = spark.read.parquet(
                *[f"{log_dir}/{name}" for name in cp_names]
            )
            have = set(cp_df.columns)
            dicts = [
                r.asDict(recursive=True)
                for r in cp_df.select(
                    *[
                        c
                        for c in ("add", "remove", "metaData", "protocol",
                                  "domainMetadata")
                        if c in have
                    ]
                ).collect()
            ]
        for d in dicts:
            add = d.get("add")
            if add and add.get("path"):
                files[add["path"]] = add.get("partitionValues") or {}
                if add.get("size") is not None:
                    sizes[add["path"]] = int(add["size"])
                dv = add.get("deletionVector")
                if dv and dv.get("storageType"):
                    dvs[add["path"]] = dv
                if add.get("tags"):
                    tags[add["path"]] = add["tags"]
            # checkpoints hold the CURRENT state: removes are
            # tombstones for vacuum, not live files
            if d.get("metaData") and d["metaData"].get("schemaString"):
                meta = d["metaData"]
            if d.get("protocol") and d["protocol"].get("minReaderVersion"):
                protocol = d["protocol"]
            dm = d.get("domainMetadata")
            if dm and dm.get("domain"):
                if dm.get("removed"):
                    domains.pop(dm["domain"], None)
                else:
                    domains[dm["domain"]] = dm.get("configuration")
        start = cp + 1
    # REPLAY CONTIGUITY: every commit in (start, v] must exist, or the
    # reconstructed state silently misses files/metaData/protocol (log
    # retention deletes commits below a checkpoint). Fail loudly.
    missing = [c for c in range(start, v + 1) if c not in set(commits)]
    if missing:
        raise FileNotFoundError(
            f"cannot reconstruct version {v} of {table_dir}: commits "
            f"{missing[:5]}{'...' if len(missing) > 5 else ''} are absent "
            f"and no usable complete checkpoint covers them"
            f"{' (pass spark= to read checkpoints)' if spark is None and checkpoints else ''}"
        )
    for c in commits:
        if c < start or c > v:
            continue
        txt = backend.read_text(f"{log_dir}/{c:020d}.json")
        if txt is None:
            raise FileNotFoundError(f"commit {c} vanished mid-replay in {log_dir}")
        # reconcile WITHIN the commit: removes first, then adds — a
        # DV update writes remove+add of the same path in one commit
        # (either order is spec-legal) and the add must win
        adds: list[dict] = []
        removes: list[str] = []
        for line in txt.splitlines():
            line = line.strip()
            if not line:
                continue
            action = json.loads(line)
            if "add" in action:
                adds.append(action["add"])
            elif "remove" in action:
                removes.append(action["remove"]["path"])
            elif "metaData" in action:
                meta = action["metaData"]
            elif "protocol" in action:
                protocol = action["protocol"]
            elif "domainMetadata" in action:
                dm = action["domainMetadata"]
                if dm.get("removed"):
                    domains.pop(dm.get("domain"), None)
                elif dm.get("domain"):
                    domains[dm["domain"]] = dm.get("configuration")
        for path in removes:
            files.pop(path, None)
            dvs.pop(path, None)
            tags.pop(path, None)
            sizes.pop(path, None)
        for a in adds:
            files[a["path"]] = a.get("partitionValues") or {}
            if a.get("size") is not None:
                sizes[a["path"]] = int(a["size"])
            dv = a.get("deletionVector")
            if dv and dv.get("storageType"):
                dvs[a["path"]] = dv
            else:
                dvs.pop(a["path"], None)
            if a.get("tags"):
                tags[a["path"]] = a["tags"]
            else:
                tags.pop(a["path"], None)
    _check_protocol(protocol, table_dir)
    if meta is None:
        raise ValueError(f"no metaData action found in {table_dir}'s log")
    conf = meta.get("configuration") or {}
    cm_mode = conf.get("delta.columnMapping.mode", "none") or "none"
    if cm_mode not in ("none", "name", "id"):
        raise ValueError(
            f"Delta table {table_dir} uses column mapping mode "
            f"{cm_mode!r} — only 'name' and 'id' modes exist in the "
            "spec; refusing rather than misnaming columns"
        )
    return {
        "version": v,
        "files": files,
        "dv": dvs,
        "tags": tags,
        "sizes": sizes,
        "metadata_id": meta.get("id"),
        "schema_json": meta["schemaString"],
        "partition_columns": list(meta.get("partitionColumns") or []),
        "protocol": protocol,
        "configuration": conf,
        "column_mapping_mode": cm_mode,
        "domain_metadata": domains,
    }


def _physicalize(schema: StructType) -> StructType:
    """Recursively rename every field to its
    ``delta.columnMapping.physicalName`` metadata (name-mode column
    mapping) — the schema the parquet FILES actually carry. Loud when
    a field lacks the physical name (a name-mode table must annotate
    every field, per spec)."""
    from pyspark.sql.types import ArrayType, MapType

    def walk_type(dt):
        if isinstance(dt, StructType):
            return StructType([walk_field(f) for f in dt.fields])
        if isinstance(dt, ArrayType):
            return ArrayType(walk_type(dt.elementType), dt.containsNull)
        if isinstance(dt, MapType):
            return MapType(
                walk_type(dt.keyType), walk_type(dt.valueType), dt.valueContainsNull
            )
        return dt

    def walk_field(f: StructField) -> StructField:
        phys = (f.metadata or {}).get(_PHYS_KEY)
        if not phys:
            raise ValueError(
                f"column-mapped Delta schema field {f.name!r} carries no "
                f"{_PHYS_KEY} metadata — refusing rather than guessing "
                "physical columns"
            )
        return StructField(phys, walk_type(f.dataType), f.nullable)

    return StructType([walk_field(f) for f in schema.fields])


_ID_KEY = "delta.columnMapping.id"
_FIELD_ID_KEY = "parquet.field.id"

import weakref as _weakref

_ID_SCAN_SESSIONS: "_weakref.WeakKeyDictionary" = _weakref.WeakKeyDictionary()


def _id_scan_session(spark: SparkSession) -> SparkSession:
    """A child session (session.scoped_session: shared SparkContext,
    isolated SQLConf carrying the parent's runtime confs) with parquet
    field-id resolution enabled, cached per parent session —
    id-mode scans build their frames HERE so the flip is scoped to
    them: a DataFrame executes under its own session's SQLConf, and
    the caller's session is never mutated (ADVICE r12: the old
    session-wide ``spark.conf.set`` silently switched every later
    parquet read whose requested schema carried ``parquet.field.id``
    metadata to id-based resolution)."""
    cached = _ID_SCAN_SESSIONS.get(spark)
    if cached is not None:
        return cached
    s = scoped_session(spark, {"spark.sql.parquet.fieldId.read.enabled": "true"})
    _ID_SCAN_SESSIONS[spark] = s
    return s


def _field_id_schema(schema: StructType) -> StructType:
    """id-mode scan schema: LOGICAL field names annotated with
    ``parquet.field.id`` metadata (from ``delta.columnMapping.id``,
    recursively) — the shape Spark's native field-id resolution
    (``spark.sql.parquet.fieldId.read.enabled``) matches against
    parquet field ids, ignoring file column names entirely. Loud when
    a field lacks the id (an id-mode table must annotate every field,
    per spec)."""
    from pyspark.sql.types import ArrayType, MapType

    def walk_type(dt):
        if isinstance(dt, StructType):
            return StructType([walk_field(f) for f in dt.fields])
        if isinstance(dt, ArrayType):
            return ArrayType(walk_type(dt.elementType), dt.containsNull)
        if isinstance(dt, MapType):
            return MapType(
                walk_type(dt.keyType), walk_type(dt.valueType), dt.valueContainsNull
            )
        return dt

    def walk_field(f: StructField) -> StructField:
        fid = (f.metadata or {}).get(_ID_KEY)
        if fid is None:
            raise ValueError(
                f"id-mapped Delta schema field {f.name!r} carries no "
                f"{_ID_KEY} metadata — refusing rather than guessing "
                "field ids"
            )
        md = dict(f.metadata or {})
        md[_FIELD_ID_KEY] = int(fid)
        return StructField(f.name, walk_type(f.dataType), f.nullable, md)

    return StructType([walk_field(f) for f in schema.fields])


def _dv_file_path(desc: dict, td: str) -> str:
    """Absolute path of a file-backed DV per the spec's derivation:
    storageType 'p' = absolute path as given; 'u' = optional random
    prefix + Z85-encoded 16-byte UUID (last 20 chars) ->
    ``<prefix>/deletion_vector_<uuid>.bin`` under the table root."""
    st, val = desc["storageType"], desc["pathOrInlineDv"]
    if st == "p":
        return val if ("://" in val or val.startswith("/")) else f"{td}/{val}"
    if st == "u":
        prefix, enc = val[:-20], val[-20:]
        u = _uuid.UUID(bytes=z85_decode(enc))
        name = f"deletion_vector_{u}.bin"
        return f"{td}/{prefix}/{name}" if prefix else f"{td}/{name}"
    raise ValueError(f"unknown deletion vector storageType {st!r}")


def _dv_rows(
    spark: SparkSession, td: str, dv_by_basename: dict[str, dict]
) -> tuple[DataFrame, int | None]:
    """Expand DV descriptors to a ``(file, pos)`` frame of DELETED row
    positions keyed by data-file basename, plus the total cardinality
    when every descriptor records one (the broadcast gate input).
    Inline bitmaps ('i') decode driver-side (the spec keeps them tiny);
    file-backed bitmaps decode EXECUTOR-side: one binaryFile scan over
    the distinct ``.bin`` files, positions exploded in Arrow batches —
    at 100 TB a snapshot can carry thousands of DV files and their
    bytes belong on executors, not the driver."""
    inline: list[tuple[str, int]] = []
    by_dv_file: dict[str, list[tuple[str, int, int]]] = {}
    paths: dict[str, str] = {}  # dv basename -> absolute path
    total: int | None = 0
    for data_bn, desc in dv_by_basename.items():
        card = desc.get("cardinality")
        total = None if (total is None or card is None) else total + int(card)
        if desc["storageType"] == "i":
            # Delta's Base85 codec zero-pads the bitmap to 4-byte
            # groups before encoding; sizeInBytes trims the pad
            data = z85_decode(desc["pathOrInlineDv"])
            size = desc.get("sizeInBytes")
            if size is not None:
                data = data[: int(size)]
            inline.extend((data_bn, int(p)) for p in deserialize_rbm_array(data))
            continue
        ap = _dv_file_path(desc, td)
        bn = ap.rsplit("/", 1)[-1]
        if bn in paths and paths[bn] != ap:
            raise ValueError(
                f"deletion vector file basename collision: {paths[bn]} vs {ap}"
            )
        paths[bn] = ap
        by_dv_file.setdefault(bn, []).append(
            (data_bn, int(desc.get("offset") or 1), int(desc["sizeInBytes"]))
        )

    legs: list[DataFrame] = []
    if inline:
        legs.append(spark.createDataFrame(inline, "file string, pos bigint"))
    if by_dv_file:
        specs = dict(by_dv_file)  # closure-captured, metadata-sized

        def expand(it):
            import pandas as pd

            for pdf in it:
                frames = []
                for path, content in zip(pdf["path"], pdf["content"]):
                    bn = str(path).rsplit("/", 1)[-1]
                    blob = bytes(content)
                    for data_bn, off, size in specs.get(bn, ()):
                        pos = positions_from_dv_blob(blob, off, size)
                        frames.append(pd.DataFrame({"file": data_bn, "pos": pos}))
                if frames:
                    yield pd.concat(frames, ignore_index=True)
                else:
                    yield pd.DataFrame({"file": pd.Series([], dtype="object"),
                                        "pos": pd.Series([], dtype="int64")})

        bf = (
            spark.read.format("binaryFile")
            .load(sorted(paths.values()))
            .select("path", "content")
        )
        legs.append(bf.mapInPandas(expand, "file string, pos bigint"))
    if not legs:
        # every descriptor decoded to an empty inline bitmap (legal:
        # cardinality-0 DVs) — an empty deleted-rows frame
        return spark.createDataFrame([], "file string, pos bigint"), total
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out, total


def read_delta_changes(
    spark: SparkSession,
    table_dir: str,
    starting_version: int,
    ending_version: int | None = None,
    backend=None,
) -> DataFrame:
    """CHANGE DATA FEED read over a Delta transaction log — the
    spec's table-changes surface (Delta's ``readChangeFeed`` /
    ``table_changes``): every row change committed in
    ``[starting_version, ending_version]`` (default: head), stamped
    ``_change_type`` and ``_commit_version``.

    Per the public protocol: a commit carrying ``cdc`` actions is
    authoritative — its ``_change_data/`` parquet files hold the
    change rows WITH their ``_change_type`` (insert / delete /
    update_preimage / update_postimage) and nothing else in the
    commit contributes. A commit WITHOUT cdc actions derives:
    ``dataChange: true`` adds read as ``insert`` rows, ``dataChange:
    true`` removes read the removed file's (still-present) bytes as
    ``delete`` rows — MINUS any positions the remove's own
    ``deletionVector`` descriptor masks (those rows died in an
    earlier DV commit; re-emitting them would serve already-deleted
    rows as fresh deletes); dataChange=false rearrangements
    (OPTIMIZE) contribute nothing. A derive-path commit that ADDS or
    grows a deletion vector is refused loudly — positional masks
    cannot be rederived as row changes without the cdc files the spec
    expects a DV writer to produce (a remove-side descriptor is fine:
    it only SUBTRACTS rows from a file this reader already scans).

    Plan shape: ONE scan of every derive-path file + ONE broadcast
    join on the scanned file name attributing (version, change type,
    partition values) — a file both added and later removed in the
    range yields BOTH its insert and delete rows from the same scan;
    cdc files ride a second scan leg. No per-version plan fan-out.
    Column mapping (name or id mode) resolves exactly as read_delta.
    The schema is the one declared at ``ending_version`` — a
    schema-changing commit inside the range fails the scan loudly
    rather than serving mixed shapes."""
    from urllib.parse import unquote

    td = table_dir.rstrip("/")
    backend = backend or _backend(td, spark)
    log_dir = f"{td}/_delta_log"
    commits, checkpoints = _log_entries(log_dir, backend)
    latest = max(
        commits[-1] if commits else -1,
        max(checkpoints) if checkpoints else -1,
    )
    ev = latest if ending_version is None else ending_version
    sv = starting_version
    if sv < 0 or ev < sv or ev > latest:
        raise ValueError(
            f"invalid change range [{sv}, {ev}] for {table_dir} "
            f"(latest committed version is {latest})"
        )
    missing = [v for v in range(sv, ev + 1) if v not in set(commits)]
    if missing:
        raise FileNotFoundError(
            f"cannot read changes [{sv}, {ev}] of {table_dir}: commit "
            f"JSON for {missing[:5]}{'...' if len(missing) > 5 else ''} "
            "is not retained (change feeds need the commits themselves)"
        )

    snap = delta_snapshot(td, ev, spark=spark, backend=backend)
    logical = StructType.fromJson(json.loads(snap["schema_json"]))
    cm_mode = snap["column_mapping_mode"]
    physical = _physicalize(logical) if cm_mode in ("name", "id") else logical
    phys_of = {lf.name: pf.name for lf, pf in zip(logical.fields, physical.fields)}
    scan = _field_id_schema(logical) if cm_mode == "id" else physical
    scan_spark = _id_scan_session(spark) if cm_mode == "id" else spark
    pcols = snap["partition_columns"]
    ptypes = {f.name: f.dataType for f in logical.fields if f.name in pcols}
    data_fields = [
        (lf, pf)
        for lf, pf in zip(logical.fields, scan.fields)
        if lf.name not in pcols
    ]
    scan_schema = StructType([pf for _lf, pf in data_fields])
    out_order = [f.name for f in logical.fields] + [
        "_change_type",
        "_commit_version",
    ]

    def _fs_path(raw: str) -> str:
        p = unquote(raw)
        return p if ("://" in p or p.startswith("/")) else f"{td}/{p}"

    # (basename -> [(version, change_type, pvals)]) for derive-path
    # files; cdc files attribute (version, pvals) only (the type is a
    # column IN the file)
    derive: list[tuple[str, int, str, tuple]] = []
    cdc: list[tuple[str, int, tuple]] = []
    paths_derive: dict[str, str] = {}
    paths_cdc: dict[str, str] = {}
    # basename -> deletionVector descriptor carried on a dataChange
    # REMOVE: positions already dead before the remove, to SUBTRACT
    # from that file's derived delete rows (ADVICE r12: re-emitting
    # them double-deletes)
    remove_dvs: dict[str, dict] = {}

    def _pvals(pv: dict | None) -> tuple:
        return tuple((pv or {}).get(phys_of.get(c, c)) for c in pcols)

    for v in range(sv, ev + 1):
        txt = backend.read_text(f"{log_dir}/{v:020d}.json")
        if txt is None:
            raise FileNotFoundError(f"commit {v} vanished mid-read in {log_dir}")
        adds, removes, cdcs, dv_change = [], [], [], False
        for line in txt.splitlines():
            line = line.strip()
            if not line:
                continue
            action = json.loads(line)
            if "cdc" in action:
                cdcs.append(action["cdc"])
            elif "add" in action:
                a = action["add"]
                if (a.get("deletionVector") or {}).get("storageType"):
                    dv_change = True
                if a.get("dataChange", True):
                    adds.append(a)
            elif "remove" in action:
                r = action["remove"]
                if r.get("dataChange", True):
                    removes.append(r)
            elif "protocol" in action:
                _check_protocol(action["protocol"], td)
        if cdcs:
            # cdc-authoritative commit: only the cdc files speak
            for c in cdcs:
                ap = _fs_path(c["path"])
                bn = ap.rsplit("/", 1)[-1]
                if bn in paths_cdc and paths_cdc[bn] != ap:
                    raise ValueError(f"cdc basename collision: {ap}")
                paths_cdc[bn] = ap
                cdc.append((bn, v, _pvals(c.get("partitionValues"))))
            continue
        if dv_change:
            raise ValueError(
                f"commit {v} of {table_dir} changes deletion vectors "
                "without cdc files — positional masks cannot be "
                "rederived as row changes; a spec-compliant CDF writer "
                "emits _change_data for DV commits"
            )
        for a in adds:
            ap = _fs_path(a["path"])
            bn = ap.rsplit("/", 1)[-1]
            if bn in paths_derive and paths_derive[bn] != ap:
                raise ValueError(f"data-file basename collision: {ap}")
            paths_derive[bn] = ap
            derive.append((bn, v, "insert", _pvals(a.get("partitionValues"))))
        for r in removes:
            ap = _fs_path(r["path"])
            bn = ap.rsplit("/", 1)[-1]
            if bn in paths_derive and paths_derive[bn] != ap:
                raise ValueError(f"data-file basename collision: {ap}")
            paths_derive[bn] = ap
            rdv = r.get("deletionVector") or {}
            if rdv.get("storageType"):
                if bn in remove_dvs and remove_dvs[bn] != rdv:
                    raise ValueError(
                        f"data file {bn} removed twice with differing "
                        f"deletion vectors in [{sv}, {ev}] of {table_dir} "
                        "— a reused path; refusing an ambiguous mask"
                    )
                remove_dvs[bn] = rdv
            derive.append((bn, v, "delete", _pvals(r.get("partitionValues"))))

    def _leg(
        scanned: DataFrame, lookup_rows, extra_cols: list[str], dv_mask=None
    ) -> DataFrame:
        lookup_schema = ", ".join(
            ["__fp_file string"]
            + [
                f"`{c}` {'int' if c == '_commit_version' else 'string'}"
                for c in extra_cols
            ]
            + [f"__fp_p{i} string" for i in range(len(pcols))]
        )
        lookup = spark.createDataFrame(sorted(lookup_rows), lookup_schema)
        tagged = scanned.withColumn(
            "__fp_file",
            F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1),
        )
        if dv_mask is not None:
            tagged = tagged.withColumn("__fp_pos", F.col("_metadata.row_index"))
        joined = tagged.join(F.broadcast(lookup), "__fp_file")
        if dv_mask is not None:
            # subtract remove-side DV positions from that file's DELETE
            # rows only — the same file's earlier insert attribution
            # (added then removed inside the range) keeps every row
            mask_df, mask_total = dv_mask
            from .versioned import _dv_hinted

            mask = mask_df.select(
                F.col("file").alias("__dv_file"), F.col("pos").alias("__dv_pos")
            )
            joined = joined.join(
                _dv_hinted(mask, mask_total),
                (F.col("__fp_file") == F.col("__dv_file"))
                & (F.col("__fp_pos") == F.col("__dv_pos"))
                & (F.col("_change_type") == F.lit("delete")),
                "left_anti",
            )
        for i, c in enumerate(pcols):
            joined = joined.withColumn(c, F.col(f"__fp_p{i}").cast(ptypes[c]))
        return joined.select(
            *[
                F.col(pf.name).cast(lf.dataType).alias(lf.name)
                for lf, pf in data_fields
            ],
            *pcols,
            "_change_type",
            F.col("_commit_version").cast("int").alias("_commit_version"),
        ).select(*out_order)

    legs: list[DataFrame] = []
    if derive:
        scanned = scan_spark.read.schema(scan_schema).parquet(
            *sorted(set(paths_derive.values()))
        )
        rows = [(bn, ct, v, *pv) for (bn, v, ct, pv) in derive]
        dv_mask = _dv_rows(spark, td, remove_dvs) if remove_dvs else None
        legs.append(
            _leg(scanned, rows, ["_change_type", "_commit_version"], dv_mask)
        )
    if cdc:
        cdc_schema = StructType(
            list(scan_schema.fields)
            + [StructField("_change_type", StringType(), True)]
        )
        scanned = scan_spark.read.schema(cdc_schema).parquet(
            *sorted(set(paths_cdc.values()))
        )
        rows = [(bn, v, *pv) for (bn, v, pv) in cdc]
        legs.append(_leg(scanned, rows, ["_commit_version"]))
    if not legs:
        empty = StructType(
            list(logical.fields)
            + [
                StructField("_change_type", StringType(), True),
                StructField("_commit_version", IntegerType(), False),
            ]
        )
        return spark.createDataFrame([], empty)
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


def read_delta(
    spark: SparkSession,
    table_dir: str,
    version: int | None = None,
    backend=None,
    as_of=None,
    _keep_file: bool = False,
) -> DataFrame:
    """Read a Delta table snapshot as a DataFrame (see module doc).

    The scan uses the log's DECLARED data schema explicitly — never
    parquet footer inference — so files written before a metadata-only
    ADD COLUMN read the new column as NULL (Delta's contract, the same
    backfill this repo's own versioned layer implements). Under
    name-mode column mapping the requested schema is the PHYSICALIZED
    one and the result is projected back to logical names (nested
    struct fields ride a positional cast). ``add.path`` is RFC 2396
    URL-decoded per the spec, and absolute/URI paths (shallow clones)
    are honored as-is. Partition columns — which live only in the
    log's ``partitionValues`` (keyed by PHYSICAL names when mapped) —
    are joined back in ONE broadcast hash join on the scanned file
    name and cast from Delta's string serialization under the declared
    types; when file basenames collide across directories (spec-legal
    though no real writer does it) the reader falls back to one scan
    per partition tuple united as a balanced tree (refused when the
    snapshot also carries deletion vectors — the positional anti-join
    keys on basenames). Deletion vectors are applied before the
    logical projection via the versioned layer's size-gated positional
    anti-join. An empty snapshot returns an empty frame with the
    declared logical schema.

    ``_keep_file`` (internal, compaction's bin assignment): append a
    ``__fp_file`` column carrying each row's source-file basename.
    Refused on the basename-collision fallback path (no sound key
    there) and meaningless on an empty snapshot (empty frame, no
    column added)."""
    from urllib.parse import unquote

    from .versioned import _dv_hinted

    if as_of is not None:
        if version is not None:
            raise ValueError("pass either version or as_of, not both")
        version = delta_version_as_of(table_dir, as_of, spark=spark, backend=backend)
    snap = delta_snapshot(table_dir, version, spark=spark, backend=backend)
    td = table_dir.rstrip("/")
    logical = StructType.fromJson(json.loads(snap["schema_json"]))
    cm_mode = snap["column_mapping_mode"]
    mapped = cm_mode in ("name", "id")
    physical = _physicalize(logical) if mapped else logical
    # phys_of keys partitionValues (PHYSICAL names in both mapping
    # modes, per spec); the SCAN schema differs by mode — physical
    # names for name mode, logical names + parquet.field.id metadata
    # for id mode (Spark's native field-id resolution does the match)
    phys_of = {lf.name: pf.name for lf, pf in zip(logical.fields, physical.fields)}
    scan = _field_id_schema(logical) if cm_mode == "id" else physical
    scan_spark = _id_scan_session(spark) if cm_mode == "id" else spark

    pcols = snap["partition_columns"]  # logical names
    ptypes = {f.name: f.dataType for f in logical.fields if f.name in pcols}
    data_fields = [
        (lf, pf)
        for lf, pf in zip(logical.fields, scan.fields)
        if lf.name not in pcols
    ]
    phys_data_schema = StructType([pf for _lf, pf in data_fields])
    out_order = [f.name for f in logical.fields]

    if not snap["files"]:
        return spark.createDataFrame([], logical)

    def _fs_path(raw: str) -> str:
        p = unquote(raw)
        return p if ("://" in p or p.startswith("/")) else f"{td}/{p}"

    def _to_logical(df: DataFrame) -> DataFrame:
        # physical -> logical projection for the NON-partition fields;
        # the positional struct cast restores nested logical names
        return df.select(
            *[F.col(pf.name).cast(lf.dataType).alias(lf.name) for lf, pf in data_fields],
            *[c for c in df.columns if c.startswith("__fp_")],
        )

    basenames: dict[str, tuple] = {}
    collision = False
    for path, pvals in snap["files"].items():
        b = unquote(path).rsplit("/", 1)[-1]
        if b in basenames:
            collision = True
            break
        basenames[b] = tuple((pvals or {}).get(phys_of.get(c, c)) for c in pcols)

    dv_map = snap["dv"]
    if collision and dv_map:
        raise ValueError(
            f"Delta table {table_dir} has colliding data-file basenames "
            "AND deletion vectors — the positional anti-join cannot key "
            "soundly; refusing rather than resurrecting deleted rows"
        )

    if collision and _keep_file:
        raise ValueError(
            f"Delta table {table_dir} has colliding data-file basenames "
            "— the per-row source-file tag cannot key soundly; refusing"
        )

    if not collision:
        # ONE scan of every file + one broadcast join: no per-partition
        # plan fan-out (a daily-partitioned decade is ~3650 tuples — a
        # union that deep would drown the driver in analysis)
        scanned = scan_spark.read.schema(phys_data_schema).parquet(
            *sorted(_fs_path(p) for p in snap["files"])
        )
        need_tag = bool(pcols) or bool(dv_map) or _keep_file
        if need_tag:
            scanned = scanned.withColumn(
                "__fp_file",
                F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1),
            )
        if dv_map:
            dv_by_bn = {
                unquote(p).rsplit("/", 1)[-1]: desc for p, desc in dv_map.items()
            }
            dv_df, dv_total = _dv_rows(spark, td, dv_by_bn)
            scanned = scanned.withColumn(
                "__fp_pos", F.col("_metadata.row_index")
            ).join(
                _dv_hinted(
                    dv_df.select(
                        F.col("file").alias("__fp_file"),
                        F.col("pos").alias("__fp_pos"),
                    ),
                    dv_total,
                ),
                ["__fp_file", "__fp_pos"],
                "left_anti",
            ).drop("__fp_pos")
        scanned = _to_logical(scanned)
        extra = ["__fp_file"] if _keep_file else []
        if not pcols:
            return scanned.select(*out_order, *extra)
        lookup_schema = ", ".join(
            ["__fp_file string"] + [f"__fp_p{i} string" for i in range(len(pcols))]
        )
        lookup = spark.createDataFrame(
            [(b, *vals) for b, vals in sorted(basenames.items())], lookup_schema
        )
        joined = scanned.join(F.broadcast(lookup), "__fp_file")
        for i, c in enumerate(pcols):
            joined = joined.withColumn(c, F.col(f"__fp_p{i}").cast(ptypes[c]))
        return joined.select(*out_order, *extra)

    # basename-collision fallback: per-tuple scans, balanced union
    def _typed(leg, key):
        for c, val in zip(pcols, key):
            lit = F.lit(val).cast(ptypes[c])  # Delta serializes as string
            leg = leg.withColumn(c, lit)
        return leg.select(*out_order)

    groups: dict[tuple, list[str]] = {}
    for path, pvals in snap["files"].items():
        key = tuple((pvals or {}).get(phys_of.get(c, c)) for c in pcols)
        groups.setdefault(key, []).append(_fs_path(path))
    legs = [
        _typed(
            _to_logical(
                scan_spark.read.schema(phys_data_schema).parquet(*sorted(paths))
            ),
            key,
        )
        for key, paths in sorted(
            groups.items(),
            key=lambda kv: tuple((v is None, v or "") for v in kv[0]),
        )
    ]
    while len(legs) > 1:  # balanced tree: plan depth O(log n)
        legs = [
            legs[i].unionByName(legs[i + 1]) if i + 1 < len(legs) else legs[i]
            for i in range(0, len(legs), 2)
        ]
    return legs[0]
