"""Delta interop OUT: publish a versioned-table snapshot as a Delta
Lake transaction log (``_delta_log`` inside the table directory), so
Delta-ecosystem engines consume this repo's tables DIRECTLY — the
missing corner of the interop matrix io13/io15 (symlink manifests for
vanilla readers) and sources/delta.py read_delta (consume) started.

Everything written follows the PUBLIC Delta protocol spec
(delta-io/delta PROTOCOL.md): JSON commits of ``protocol`` /
``metaData`` / ``add`` / ``remove`` actions, schemaString in Spark's
StructType JSON (the serialization Delta itself uses), and — when the
snapshot carries them — this layer's features translated to Delta's
vocabulary:

- **column mapping** (vt13 RENAME/DROP/ADD): exported as name-mode
  columnMapping — each logical field carries
  ``delta.columnMapping.id`` (our stable field id) and
  ``delta.columnMapping.physicalName`` (our physical column), protocol
  (2, 5). Physical file bytes are shared as-is; ADDED columns whose
  physical exists in no file null-backfill through any spec-compliant
  reader (declared-schema scans).
- **deletion vectors** (vt14 merge-on-read DELETE): our parquet
  (file, pos) masks are re-serialized as the spec's RoaringBitmapArray
  ``.bin`` files (sources/roaring.py) and attached as
  ``deletionVector`` descriptors (storageType 'u'), protocol (3, 7)
  with the deletionVectors feature. Bitmap assembly is DISTRIBUTED:
  executors serialize each file's bitmap (applyInPandas per file),
  the driver concatenates only compressed payloads — no position list
  ever rides a collect. ``max_dv_rows`` remains a POLICY bound (a
  snapshot masked that heavily reads faster compacted), not a heap
  cliff.

Re-export is INCREMENTAL and idempotent: the existing exported log is
replayed (sources/delta.py delta_snapshot — our own reader is the
round-trip check) and only the delta (adds / removes / dv changes,
detected via each add's ``tags.fpDvRel`` breadcrumb) becomes a new
Delta commit; an unchanged snapshot writes nothing. Commits land via
``create_exclusive`` (put-if-absent), the same primitive Delta's own
LogStores require, so two concurrent exporters cannot tear the log.

Lifecycle caveat (same as the symlink export): the Delta log
references snapshot files by name; ``vacuum_versions`` of the exported
snapshot invalidates the export — re-publish after retention moves.

Reference parity: the reference has no table format (its interop OUT
is a MySQL INSERT loop, ETL_FINAL.py); this module is part of the
commissioned lakehouse extension surface (SURVEY.md §2.6).
"""

from __future__ import annotations

import json
import uuid as _uuid

from pyspark.sql import SparkSession

from .delta import delta_snapshot
from .roaring import z85_encode
from .versioned import _backend_for, read_table, resolve_snapshot

_DV_EXPORT_MAX_ROWS = 50_000_000  # driver-side bitmap assembly bound
_DV_TAG = "fpDvRel"  # add.tags breadcrumb: which fp dv object this mask came from


def _logical_schema_json(spark, table_dir, version, backend, columns) -> str:
    """Delta ``schemaString`` for the snapshot: the LOGICAL schema (the
    one read_table serves), with name-mode columnMapping metadata when
    the snapshot is mapped."""
    df = read_table(spark, table_dir, version, backend=backend)
    schema = df.schema.jsonValue()
    if columns:
        by_name = {c["name"]: c for c in columns}
        for field in schema["fields"]:
            ent = by_name.get(field["name"])
            if ent is None:
                raise ValueError(
                    f"snapshot column {field['name']!r} missing from the "
                    "manifest mapping — cannot export a sound columnMapping"
                )
            field["metadata"] = {
                **(field.get("metadata") or {}),
                "delta.columnMapping.id": int(ent["id"]),
                "delta.columnMapping.physicalName": ent["physical"],
            }
    return json.dumps(schema)


def _dv_state(body: dict) -> dict[str, str]:
    """data-file rel -> fp dv rel for the snapshot ({} when clean)."""
    return dict(body.get("dv") or {})


def _export_dv_bin(
    spark, td, backend, dv_state, dv_rows, bound=_DV_EXPORT_MAX_ROWS
) -> dict[str, dict]:
    """Re-serialize the snapshot's dv parquet masks as ONE spec-format
    ``.bin`` (RoaringBitmapArray entries at offsets) and return
    rel -> deletionVector descriptor.

    Assembly is DISTRIBUTED (round 12): each data file's positions
    serialize to its portable RoaringBitmapArray EXECUTOR-side
    (applyInPandas per file), and the driver concatenates only the
    already-COMPRESSED per-file payloads with the spec framing —
    driver memory is bounded by bitmap bytes (≤ 2 B/row for sparse
    array containers, 8 KiB per dense 64 Ki chunk), never by raw
    position lists. ``bound`` stays as a POLICY knob on total DV rows
    (a snapshot masked that heavily reads faster compacted), not a
    heap cliff."""
    if dv_rows is not None and dv_rows > bound:
        raise ValueError(
            f"snapshot carries {dv_rows} deletion-vector rows "
            f"(> {bound}): a mask that heavy penalizes every read — "
            "compact_version(...) applies the dvs physically, "
            "then export the clean snapshot (or raise max_dv_rows)"
        )
    from pyspark.sql import functions as F

    from .roaring import new_dv_file_from_blobs, serialize_rbm_array

    dv_parquets = sorted({f"{td}/{rel}" for rel in dv_state.values()})
    # keep only (file, pos) rows read from the dv OBJECT the manifest
    # maps that file to — a shared dv parquet must not leak another
    # object's rows into this file's exported mask
    tagged = spark.read.parquet(*dv_parquets).select(
        "file",
        "pos",
        F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1).alias("src"),
    )
    expected_src = {
        rel.rsplit("/", 1)[-1]: dv_rel.rsplit("/", 1)[-1]
        for rel, dv_rel in dv_state.items()
    }
    lookup = spark.createDataFrame(
        sorted(expected_src.items()), "file string, __want_src string"
    )
    matched = tagged.join(F.broadcast(lookup), "file").where(
        F.col("src") == F.col("__want_src")
    )

    def _ser(pdf):
        import pandas as pd

        data = serialize_rbm_array([int(p) for p in pdf["pos"]])
        return pd.DataFrame(
            {
                "file": [str(pdf["file"].iloc[0])],
                "data": [data],
                "card": [int(pdf["pos"].nunique())],
            }
        )

    rows = (
        matched.select("file", "pos")
        .groupBy("file")
        .applyInPandas(_ser, "file string, data binary, card bigint")
        .collect()
    )
    if dv_rows is None and sum(int(r["card"]) for r in rows) > bound:
        raise ValueError(
            "snapshot's deletion-vector row count exceeds the export "
            f"bound {bound}: compact_version(...) first"
        )
    by_name = {r["file"]: (bytes(r["data"]), int(r["card"])) for r in rows}
    # one entry per dv'd MANIFEST rel (not per mask-row group): every
    # rel the manifest marks dv'd MUST get a descriptor — a rel whose
    # mask object happens to carry no rows for it exports an empty
    # bitmap (cardinality 0), never a null descriptor that would
    # silently resurrect rows on readback
    empty = serialize_rbm_array([])
    ordered = [
        (rel, by_name.get(rel.rsplit("/", 1)[-1], (empty, 0)))
        for rel in sorted(dv_state)
    ]
    blob, spans = new_dv_file_from_blobs([d for _rel, (d, _c) in ordered])
    u = _uuid.uuid4()
    backend.write_bytes(f"{td}/deletion_vector_{u}.bin", blob)
    return {
        rel: {
            "storageType": "u",
            "pathOrInlineDv": z85_encode(u.bytes),
            "offset": off,
            "sizeInBytes": size,
            "cardinality": card,
        }
        for (rel, (_d, card)), (off, size) in zip(ordered, spans)
    }


def _export_cdc_files(
    spark,
    td: str,
    backend,
    phys_schema,
    removes: list[str],
    fresh: list[str],
    changed: list[str],
    dv_state: dict[str, str],
    prev_dv_state: dict[str, str],
) -> list[dict]:
    """Write the spec's ``_change_data`` cdc parquet for a
    cdc-authoritative export commit and return the ``cdc`` actions.

    Change rows, all expressed over ONE scan of the diff's data files
    (physical column names — cdc files mirror data files) plus the fp
    dv parquet masks:

    - removed files' LIVE rows (all minus their prior mask) → delete
    - fresh files' live rows (all minus their new mask) → insert
    - carried files whose mask GREW: newly-masked positions → delete
    - carried files whose mask SHRANK (restore): revived → insert

    Output lands as ``_change_data/cdc-<uuid>.parquet`` files through
    the backend; a diff whose change set is empty still writes one
    empty cdc file (driver-side arrow write) so the commit stays
    cdc-authoritative. Scale: everything is diff-sized — the scan
    touches only the files this commit changes, masks ride positional
    anti/semi joins, nothing collects to the driver but file bytes on
    the backend move."""
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    from pyspark.sql import functions as F

    def _positions(mapping: dict[str, str]):
        """(``__dv_file`` basename, ``__dv_pos``) of the dv masks named
        by ``mapping`` (data rel -> fp dv parquet rel), src-filtered the
        same way _export_dv_bin is (a shared dv object must not leak
        another file's rows)."""
        if not mapping:
            return spark.createDataFrame(
                [], "__dv_file string, __dv_pos bigint"
            )
        dv_parquets = sorted({f"{td}/{r}" for r in mapping.values()})
        tagged = spark.read.parquet(*dv_parquets).select(
            F.col("file").alias("__dv_file"),
            F.col("pos").alias("__dv_pos"),
            F.element_at(
                F.split(F.col("_metadata.file_path"), "/"), -1
            ).alias("__src"),
        )
        expected = {
            rel.rsplit("/", 1)[-1]: dv_rel.rsplit("/", 1)[-1]
            for rel, dv_rel in mapping.items()
        }
        lookup = spark.createDataFrame(
            sorted(expected.items()), "__dv_file string, __want string"
        )
        return (
            tagged.join(F.broadcast(lookup), "__dv_file")
            .where(F.col("__src") == F.col("__want"))
            .select("__dv_file", "__dv_pos")
        )

    rel_set = {"remove": set(removes), "fresh": set(fresh), "changed": set(changed)}
    old_pos = _positions(
        {
            rel: prev_dv_state[rel]
            for rel in (rel_set["remove"] | rel_set["changed"])
            if rel in prev_dv_state
        }
    )
    new_pos = _positions(
        {
            rel: dv_state[rel]
            for rel in (rel_set["fresh"] | rel_set["changed"])
            if rel in dv_state
        }
    )

    all_rels = sorted(rel_set["remove"] | rel_set["fresh"] | rel_set["changed"])
    kind_of: dict[str, str] = {}
    for kind, rels in rel_set.items():
        for rel in rels:
            bn = rel.rsplit("/", 1)[-1]
            if bn in kind_of:
                raise ValueError(
                    f"cdc export: data-file basename collision on {bn}"
                )
            kind_of[bn] = kind
    data_cols = [f.name for f in phys_schema.fields]
    scanned = (
        spark.read.schema(phys_schema)
        .parquet(*[f"{td}/{r}" for r in all_rels])
        .withColumn(
            "__dv_file",
            F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1),
        )
        .withColumn("__dv_pos", F.col("_metadata.row_index"))
    )
    kinds = spark.createDataFrame(
        sorted(kind_of.items()), "__dv_file string, __kind string"
    )
    scanned = scanned.join(F.broadcast(kinds), "__dv_file")
    keys = ["__dv_file", "__dv_pos"]

    def _typed(df, ct: str):
        return df.select(*data_cols).withColumn("_change_type", F.lit(ct))

    newly_dead = new_pos.join(old_pos, keys, "left_anti")
    revived = old_pos.join(new_pos, keys, "left_anti")
    legs = [
        _typed(
            scanned.where(F.col("__kind") == "remove").join(
                old_pos, keys, "left_anti"
            ),
            "delete",
        ),
        _typed(
            scanned.where(F.col("__kind") == "fresh").join(
                new_pos, keys, "left_anti"
            ),
            "insert",
        ),
        _typed(
            scanned.where(F.col("__kind") == "changed").join(
                newly_dead, keys, "left_semi"
            ),
            "delete",
        ),
        _typed(
            scanned.where(F.col("__kind") == "changed").join(
                revived, keys, "left_semi"
            ),
            "insert",
        ),
    ]
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)

    backend.makedirs(f"{td}/_change_data")
    actions: list[dict] = []
    stage_root = _tempfile.mkdtemp(prefix="fp_delta_cdc_")
    try:
        out.write.mode("overwrite").parquet(stage_root)
        for n in sorted(_os.listdir(stage_root)):
            if not n.endswith(".parquet"):
                continue
            sz = _os.path.getsize(f"{stage_root}/{n}")
            rel = f"_change_data/cdc-{_uuid.uuid4().hex}.parquet"
            with open(f"{stage_root}/{n}", "rb") as fh:
                backend.write_bytes(f"{td}/{rel}", fh.read())
            actions.append(
                {
                    "cdc": {
                        "path": rel,
                        "partitionValues": {},
                        "size": sz,
                        "dataChange": False,
                    }
                }
            )
    finally:
        _shutil.rmtree(stage_root, ignore_errors=True)
    if not actions:
        # an empty change set must STILL be cdc-authoritative (the
        # commit changes DV state, so derive-path readers would refuse)
        import pyarrow as pa
        import pyarrow.parquet as pq

        from pyspark.sql.pandas.types import to_arrow_schema
        from pyspark.sql.types import StringType, StructField, StructType

        cdc_struct = StructType(
            list(phys_schema.fields)
            + [StructField("_change_type", StringType(), True)]
        )
        table = pa.Table.from_arrays(
            [
                pa.array([], type=f.type)
                for f in to_arrow_schema(cdc_struct)
            ],
            schema=to_arrow_schema(cdc_struct),
        )
        fd, tmp = _tempfile.mkstemp(suffix=".parquet")
        _os.close(fd)
        try:
            pq.write_table(table, tmp)
            rel = f"_change_data/cdc-{_uuid.uuid4().hex}.parquet"
            with open(tmp, "rb") as fh:
                backend.write_bytes(f"{td}/{rel}", fh.read())
            actions.append(
                {
                    "cdc": {
                        "path": rel,
                        "partitionValues": {},
                        "size": _os.path.getsize(tmp),
                        "dataChange": False,
                    }
                }
            )
        finally:
            _os.unlink(tmp)
    return actions


def publish_delta_log(
    spark: SparkSession,
    table_dir: str,
    version: int | None = None,
    backend=None,
    max_dv_rows: int = _DV_EXPORT_MAX_ROWS,
    enable_cdf: bool = False,
) -> int:
    """Publish the given snapshot as the next Delta commit under
    ``{table_dir}/_delta_log`` (see module doc). Returns the Delta
    version written (or the current one when the snapshot is already
    exported — idempotent).

    **Change data feed** (``enable_cdf=True``, sticky once set — later
    exports honor the table's ``delta.enableChangeDataFeed``): a
    DV-CHANGING diff (a carried file whose deletion-vector state moved,
    or a fresh file arriving already masked)
    additionally writes the spec's ``_change_data`` cdc parquet files
    and ``cdc`` actions, because positional masks cannot be rederived
    by readers — exactly the commit shape Delta writers produce, so
    ``read_delta_changes`` / the dl11 change stream consume this
    engine's own DV commits instead of refusing. Since a commit with
    cdc actions is cdc-AUTHORITATIVE, the cdc files cover the WHOLE
    diff (fresh adds as inserts, removed files' live rows as deletes,
    newly-masked positions as deletes, revived positions as inserts) —
    the same duplicate-write cost Delta itself pays on mixed commits.
    Append-only / remove-only diffs stay derive-path (no cdc bytes):
    removes carry their prior DV descriptor so the derive subtraction
    stays exact."""
    backend = backend or _backend_for(table_dir, spark)
    td = table_dir.rstrip("/")
    v, body, files = resolve_snapshot(table_dir, version, backend)
    if body is not None:
        columns = body.get("columns")
        dv_state = _dv_state(body)
        stats = body.get("stats") or {}
        dv_rows = body.get("dv_rows")
    else:  # copy-published v-dir: plain files, no mapping, no dvs
        columns, dv_state, stats, dv_rows = None, {}, {}, None
    if not files:
        raise FileNotFoundError(f"version {v} names no data files in {table_dir}")

    # previously exported state (our own reader = the round-trip seam)
    log_dir = f"{td}/_delta_log"
    try:
        prev = delta_snapshot(td, spark=spark, backend=backend)
    except FileNotFoundError:
        prev = None
    meta_id = (prev or {}).get("metadata_id") or str(_uuid.uuid4())
    next_delta_v = 0 if prev is None else prev["version"] + 1
    # CDF stays on once enabled (table property semantics)
    cdf_on = enable_cdf or (
        ((prev or {}).get("configuration") or {}).get(
            "delta.enableChangeDataFeed"
        )
        == "true"
    )

    schema_json = _logical_schema_json(spark, td, v, backend, columns)
    configuration: dict[str, str] = {}
    if columns:
        configuration["delta.columnMapping.mode"] = "name"
        configuration["delta.columnMapping.maxColumnId"] = str(
            max(int(c["id"]) for c in columns)
        )
    if dv_state:
        configuration["delta.enableDeletionVectors"] = "true"
    if cdf_on:
        configuration["delta.enableChangeDataFeed"] = "true"
    reader_features = []
    if dv_state:
        reader_features.append("deletionVectors")
        if columns:
            reader_features.append("columnMapping")
        writer_features = list(reader_features)
        if cdf_on:
            writer_features.append("changeDataFeed")
        protocol = {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": reader_features,
            "writerFeatures": writer_features,
        }
    elif columns:
        protocol = {"minReaderVersion": 2, "minWriterVersion": 5}
    else:
        # legacy writer version 4 is the spec's floor for CDF tables
        protocol = {"minReaderVersion": 1, "minWriterVersion": 4 if cdf_on else 2}

    prev_files = set((prev or {}).get("files") or {})
    prev_tags = (prev or {}).get("tags") or {}
    new_set = set(files)
    removes = sorted(prev_files - new_set)
    fresh = sorted(new_set - prev_files)
    # dv-state change on a carried file = remove + re-add with the new
    # mask (or none) — detected via the fpDvRel breadcrumb
    changed = sorted(
        rel
        for rel in (new_set & prev_files)
        if (prev_tags.get(rel) or {}).get(_DV_TAG) != dv_state.get(rel)
    )
    meta_changed = prev is None or (
        prev["schema_json"] != schema_json
        or (prev.get("configuration") or {}) != configuration
    )
    if not removes and not fresh and not changed and not meta_changed:
        return prev["version"]  # already exported — idempotent no-op

    descriptors: dict[str, dict] = {}
    # only assemble bitmaps when some add THIS commit actually needs a
    # descriptor — an incremental export whose dv'd files are all
    # carried unchanged must not rescan the dv parquet nor write an
    # orphan .bin no add references (round-11 advice)
    if dv_state and any(rel in dv_state for rel in fresh + changed):
        descriptors = _export_dv_bin(
            spark, td, backend, dv_state, dv_rows, bound=max_dv_rows
        )

    cdc_actions: list[dict] = []
    if cdf_on and (changed or any(rel in dv_state for rel in fresh)):
        # an add-side DV (carried file whose mask moved, or a fresh
        # file arriving masked) cannot be rederived by readers — write
        # the cdc files that make this commit cdc-authoritative
        from pyspark.sql.types import StructType as _StructType

        from .delta import _physicalize
        logical_struct = _StructType.fromJson(json.loads(schema_json))
        phys_struct = _physicalize(logical_struct) if columns else logical_struct
        prev_dv_state = {
            rel: (prev_tags.get(rel) or {}).get(_DV_TAG)
            for rel in prev_files
            if (prev_tags.get(rel) or {}).get(_DV_TAG)
        }
        cdc_actions = _export_cdc_files(
            spark, td, backend, phys_struct, removes, fresh, changed,
            dv_state, prev_dv_state,
        )

    def _add_action(rel: str) -> dict:
        a: dict = {
            "path": rel,
            "partitionValues": {},
            "size": backend.file_size(f"{td}/{rel}") or 0,
            "modificationTime": int((backend.mtime(f"{td}/{rel}") or 0) * 1000),
            "dataChange": True,
        }
        fname = rel.rsplit("/", 1)[-1]
        col_stats = stats.get(fname) or {}
        n_rows = max((e[3] for e in col_stats.values() if len(e) > 3), default=None)
        if n_rows is not None:
            a["stats"] = json.dumps({"numRecords": int(n_rows)})
        if rel in dv_state:
            a["deletionVector"] = descriptors[rel]  # KeyError = real bug
            a["tags"] = {_DV_TAG: dv_state[rel]}
        return a

    actions: list[dict] = []
    if prev is None or (prev.get("protocol") or {}) != protocol:
        actions.append({"protocol": protocol})
    if meta_changed:
        actions.append(
            {
                "metaData": {
                    "id": meta_id,
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": schema_json,
                    "partitionColumns": [],
                    "configuration": configuration,
                }
            }
        )
    prev_dv_desc = (prev or {}).get("dv") or {}
    for rel in removes:
        r: dict = {"path": rel, "dataChange": True}
        if rel in prev_dv_desc:
            # carry the exported descriptor so derive-path CDF readers
            # subtract already-dead positions instead of re-emitting
            r["deletionVector"] = prev_dv_desc[rel]
        actions.append({"remove": r})
    for rel in fresh + changed:
        # spec reconciliation: a same-commit add supersedes any remove
        # of the same path, so `changed` needs no explicit remove
        actions.append({"add": _add_action(rel)})
    actions.extend(cdc_actions)

    backend.makedirs(log_dir)
    payload = "\n".join(json.dumps(a) for a in actions) + "\n"
    if not backend.create_exclusive(f"{log_dir}/{next_delta_v:020d}.json", payload):
        raise FileExistsError(
            f"Delta commit {next_delta_v} already exists in {log_dir} — "
            "a concurrent export won the put-if-absent race; re-read and retry"
        )
    return next_delta_v


# writer features this append path actually honors. appendOnly: we
# only append. columnMapping: files are written under physical names
# (+ parquet field ids, nested included). deletionVectors /
# v2Checkpoint / timestampNtz / vacuumProtocolCheck: no writer-side
# obligation for a pure append. domainMetadata: appends need not write
# domain metadata. checkConstraints: ENFORCED — the staged batch is
# validated against every delta.constraints.* expression (r13).
# rowTracking: HONORED on append — adds carry baseRowId /
# defaultRowCommitVersion and the delta.rowTracking high-water mark
# advances via domainMetadata (r13; compaction still refuses it —
# preserving ids across a rewrite needs materialized row-id columns).
# Everything else (identityColumns, generatedColumns, icebergCompat*)
# imposes per-commit writer work this path does not do — refused
# loudly.
_SUPPORTED_WRITER_FEATURES: frozenset = frozenset(
    {
        "appendOnly",
        "invariants",  # accepted only when the schema declares none
        "checkConstraints",  # enforced on the appended batch
        "changeDataFeed",  # CDF readers derive add-only commits from adds
        "columnMapping",
        "deletionVectors",
        "timestampNtz",
        "vacuumProtocolCheck",
        "v2Checkpoint",
        "domainMetadata",
        "rowTracking",  # append assigns row-id ranges; compact refuses
    }
)


def _check_writer_protocol(snap: dict, table_dir: str) -> None:
    """Loud gate: refuse to append into a table whose protocol or
    metadata demands writer work this path does not perform — wrong
    silence here corrupts SOMEONE ELSE'S table."""
    proto = snap.get("protocol") or {}
    mwv = proto.get("minWriterVersion", 1)
    features = set(proto.get("writerFeatures") or [])
    unsupported = features - _SUPPORTED_WRITER_FEATURES
    if mwv >= 7 and unsupported:
        raise ValueError(
            f"Delta table {table_dir} requires writer features "
            f"{sorted(unsupported)} this appender does not implement — "
            "refusing rather than corrupting a foreign table"
        )
    if mwv > 7:
        raise ValueError(
            f"Delta table {table_dir} requires minWriterVersion {mwv} "
            "(> 7); refusing an unknown protocol"
        )
    schema = json.loads(snap["schema_json"])
    for field in schema.get("fields") or []:
        md = field.get("metadata") or {}
        if "delta.invariants" in md:
            raise ValueError(
                f"column {field['name']!r} of {table_dir} declares an "
                "invariant this appender does not enforce — refusing"
            )
        if "delta.generationExpression" in md:
            raise ValueError(
                f"column {field['name']!r} of {table_dir} is a generated "
                "column this appender does not compute — refusing"
            )
        if any(k.startswith("delta.identity.") for k in md):
            raise ValueError(
                f"column {field['name']!r} of {table_dir} is an identity "
                "column this appender does not assign — refusing"
            )
    # delta.constraints.* are ENFORCED on the appended batch (see
    # append_delta_table), not refused; rowTracking is honored on
    # append and refused by compaction (its own gate)


def _phys_write_schema(logical, cm_mode: str):
    """The schema data files are WRITTEN under: physical field names
    (``delta.columnMapping.physicalName``, recursively — strict when
    the table is mapped) with ``parquet.field.id`` metadata wherever
    the table annotates ``delta.columnMapping.id`` (nested included;
    Spark's parquet writer emits ids from schema metadata). Unmapped
    tables pass through unchanged. Fields are declared nullable —
    parquet optional — since Delta readers take nullability from the
    log's schema, never the footers."""
    from pyspark.sql.types import ArrayType, MapType, StructField
    from pyspark.sql.types import StructType as _StructType

    from .delta import _ID_KEY, _PHYS_KEY

    def walk_type(dt):
        if isinstance(dt, _StructType):
            return _StructType([walk_field(f) for f in dt.fields])
        if isinstance(dt, ArrayType):
            return ArrayType(walk_type(dt.elementType), dt.containsNull)
        if isinstance(dt, MapType):
            return MapType(
                walk_type(dt.keyType), walk_type(dt.valueType),
                dt.valueContainsNull,
            )
        return dt

    def walk_field(f: StructField) -> StructField:
        md = f.metadata or {}
        phys = md.get(_PHYS_KEY)
        if phys is None:
            if cm_mode != "none":
                raise ValueError(
                    f"column-mapped schema field {f.name!r} carries no "
                    f"{_PHYS_KEY} metadata — refusing rather than "
                    "writing guessed physical columns"
                )
            phys = f.name
        out_md = {}
        if md.get(_ID_KEY) is not None:
            out_md["parquet.field.id"] = int(md[_ID_KEY])
        return StructField(phys, walk_type(f.dataType), True, out_md)

    return _StructType([walk_field(f) for f in logical.fields])


def _stage_physical(df, logical, cm_mode: str, extra_cols: list[str] = ()):
    """``df`` (logical names) re-expressed under the physical WRITE
    schema: top-level columns alias to their physical names WITH
    ``parquet.field.id`` alias metadata, and a positional cast to the
    metadata-bearing physical type renames nested struct fields and
    carries THEIR ids (identical layout, names only — the inverse of
    the read path's projection; verified against footers — alias
    metadata is the form that survives plan optimization, a
    ``DataFrame.to`` reconciliation gets collapsed out of the write
    plan for simple attributes). ``extra_cols`` (staging-only columns
    like the compaction bin id) ride through untouched."""
    from pyspark.sql import functions as F

    write_schema = _phys_write_schema(logical, cm_mode)
    cols = [
        F.col(lf.name)
        .cast(wf.dataType)
        .alias(wf.name, metadata=dict(wf.metadata or {}))
        for lf, wf in zip(logical.fields, write_schema.fields)
    ] + [F.col(c) for c in extra_cols]
    return df.select(*cols)


def append_delta_table(
    spark: SparkSession,
    table_dir: str,
    df,
    backend=None,
    max_retries: int = 3,
) -> int:
    """APPEND ``df`` into an EXISTING Delta table (one a foreign engine
    created, or an exported one) as an add-only commit at version N+1
    — the write-side half of the interop matrix read_delta /
    publish_delta_log / fp_delta_feed opened.

    Mechanics per the public protocol spec: ``df`` (logical names)
    must match the table's declared data schema exactly (no evolution
    — an append is not the place to fork a foreign table's schema),
    and data carrying NULLs in a column the table declares
    non-nullable is refused by a batch-sized validation aggregate;
    files are staged by Spark (hive-partitioned when the table is
    partitioned), moved under the table root through the backend, and
    committed with ``create_exclusive`` (put-if-absent, the primitive
    Delta LogStores require). A concurrent-writer loss re-reads the
    snapshot, re-validates schema/protocol, and retries at the new
    N+1 — the staged files carry fresh UUID names, so a retry is just
    another commit attempt; ``max_retries`` losses raise. Name-mode
    column mapping writes PHYSICAL column names + parquet field ids
    into the files — NESTED fields included, renamed recursively via a
    positional cast with field ids attached through the write schema
    (r13; see _stage_physical);
    partitionValues are keyed by physical names. Protocols demanding
    writer features this path cannot honor (rowTracking, identity /
    generated columns, CHECK constraints, …) are refused loudly —
    see _check_writer_protocol. Returns the committed Delta version.
    """
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile
    from urllib.parse import unquote

    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType as _StructType

    from .delta import _PHYS_KEY, delta_snapshot

    backend = backend or _backend_for(table_dir, spark)
    td = table_dir.rstrip("/")
    snap = delta_snapshot(td, spark=spark, backend=backend)
    _check_writer_protocol(snap, td)
    logical = _StructType.fromJson(json.loads(snap["schema_json"]))
    cm_mode = snap["column_mapping_mode"]
    def _bare(dt):
        # structural type identity: nested StructFields embed the
        # table's columnMapping metadata (and declared nullability)
        # inside the dataType — neither makes an append a different
        # shape, so strip both recursively before comparing
        from pyspark.sql.types import ArrayType, MapType, StructField
        from pyspark.sql.types import StructType as _ST

        if isinstance(dt, _ST):
            return _ST(
                [StructField(f.name, _bare(f.dataType), True) for f in dt.fields]
            )
        if isinstance(dt, ArrayType):
            return ArrayType(_bare(dt.elementType), True)
        if isinstance(dt, MapType):
            return MapType(_bare(dt.keyType), _bare(dt.valueType), True)
        return dt

    got = {f.name: _bare(f.dataType) for f in df.schema.fields}
    want = {f.name: _bare(f.dataType) for f in logical.fields}
    if got != want:
        raise ValueError(
            f"append schema mismatch for {td}: table declares "
            f"{sorted(want)} with its types, dataframe carries "
            f"{sorted(got)} — appends never evolve a foreign schema"
        )
    # NULLABILITY gate (ADVICE r12): committing nulls into a column the
    # table declares non-nullable is spec-violating data. A frame merely
    # DECLARED nullable may still carry no nulls, so validate the data
    # itself — one batch-sized aggregate over the columns at risk.
    at_risk = [
        f.name
        for f in logical.fields
        if not f.nullable and df.schema[f.name].nullable
    ]
    if at_risk:
        counts = df.select(
            *[
                F.count(F.when(F.col(c).isNull(), 1)).alias(c)
                for c in at_risk
            ]
        ).first()
        bad = [c for c in at_risk if counts[c]]
        if bad:
            raise ValueError(
                f"append into {td} carries NULLs in non-nullable "
                f"column(s) {bad} ({[int(counts[c]) for c in bad]} "
                "rows) — refusing to commit spec-violating data into "
                "a foreign table"
            )
    # CHECK constraints (r13): the spec's delta.constraints.* SQL
    # expressions are ENFORCED on the appended batch — a row violates
    # only when the expression is FALSE (NULL passes, SQL semantics).
    # One batch-sized aggregate covers every constraint.
    constraints = {
        k[len("delta.constraints."):]: v
        for k, v in (snap.get("configuration") or {}).items()
        if k.startswith("delta.constraints.")
    }
    if constraints:
        names = sorted(constraints)
        counts = df.select(
            *[
                F.count(
                    F.when(
                        ~F.coalesce(
                            F.expr(constraints[n]).cast("boolean"),
                            F.lit(True),
                        ),
                        1,
                    )
                ).alias(f"__c{i}")
                for i, n in enumerate(names)
            ]
        ).first()
        bad = [
            (n, constraints[n], int(counts[f"__c{i}"]))
            for i, n in enumerate(names)
            if counts[f"__c{i}"]
        ]
        if bad:
            raise ValueError(
                f"append into {td} violates CHECK constraint(s) "
                f"{[(n, e, c) for n, e, c in bad]} — refusing to "
                "commit constraint-violating data into a foreign table"
            )

    pcols = list(snap["partition_columns"])
    phys = {
        f.name: (f.metadata or {}).get(_PHYS_KEY, f.name) for f in logical.fields
    }

    # stage: data columns under PHYSICAL names (+ field ids when
    # mapped, nested included — see _stage_physical), hive-partitioned
    # by the PHYSICAL partition columns
    staged = _stage_physical(df, logical, cm_mode)
    stage_root = _tempfile.mkdtemp(prefix="fp_delta_append_")
    try:
        writer_df = staged
        if pcols:
            # one task per partition VALUE -> exactly one file per
            # value: the anti-small-files default (a 1000-executor
            # append otherwise sprays tasks x values tiny files)
            writer_df = staged.repartition(*[phys[c] for c in pcols])
        writer = writer_df.write.mode("overwrite")
        if pcols:
            writer = writer.partitionBy(*[phys[c] for c in pcols])
        writer.parquet(stage_root)

        # harvest staged files -> (rel name under td, partitionValues)
        moves: list[tuple[str, dict, int]] = []  # (rel, pvals, n_rows_unknown)
        for root, _dirs, names in _os.walk(stage_root):
            for n in names:
                if not n.endswith(".parquet"):
                    continue
                sub = _os.path.relpath(root, stage_root)
                pvals: dict[str, str] = {}
                if sub != ".":
                    for seg in sub.split(_os.sep):
                        k, _, val = seg.partition("=")
                        pvals[k] = (
                            None
                            if val == "__HIVE_DEFAULT_PARTITION__"
                            else unquote(val)
                        )
                import pyarrow.parquet as _pq

                n_rows = int(_pq.read_metadata(f"{root}/{n}").num_rows)
                rel = f"part-{_uuid.uuid4().hex}.parquet"
                with open(f"{root}/{n}", "rb") as fh:
                    backend.write_bytes(f"{td}/{rel}", fh.read())
                moves.append((rel, pvals, n_rows))
    finally:
        _shutil.rmtree(stage_root, ignore_errors=True)
    if not moves:
        return snap["version"]  # empty frame: nothing to commit

    row_tracking = "rowTracking" in set(
        (snap.get("protocol") or {}).get("writerFeatures") or []
    )

    def _payload(at_snap: dict, commit_v: int) -> str:
        # rowTracking (r13): fresh adds take consecutive row-id ranges
        # from the table's delta.rowTracking high-water mark, stamp
        # defaultRowCommitVersion with THIS commit's version, and the
        # commit advances the mark via domainMetadata — recomputed per
        # put-if-absent attempt (a retry lands at a new version and a
        # possibly-moved mark)
        actions = []
        next_id = None
        if row_tracking:
            hwm = -1
            conf_s = (at_snap.get("domain_metadata") or {}).get(
                "delta.rowTracking"
            )
            if conf_s:
                try:
                    hwm = int(json.loads(conf_s).get("rowIdHighWaterMark", -1))
                except (ValueError, TypeError, AttributeError):
                    raise ValueError(
                        f"unparseable delta.rowTracking domain metadata "
                        f"in {td}: {conf_s!r}"
                    )
            next_id = hwm + 1
        for rel, pvals, n_rows in sorted(moves):
            add = {
                "path": rel,
                "partitionValues": pvals,
                "size": backend.file_size(f"{td}/{rel}") or 0,
                "modificationTime": int(
                    (backend.mtime(f"{td}/{rel}") or 0) * 1000
                ),
                "dataChange": True,
                "stats": json.dumps({"numRecords": n_rows}),
            }
            if row_tracking:
                add["baseRowId"] = next_id
                add["defaultRowCommitVersion"] = commit_v
                next_id += n_rows
            actions.append({"add": add})
        if row_tracking:
            actions.append(
                {
                    "domainMetadata": {
                        "domain": "delta.rowTracking",
                        "configuration": json.dumps(
                            {"rowIdHighWaterMark": next_id - 1}
                        ),
                        "removed": False,
                    }
                }
            )
        return "\n".join(json.dumps(a) for a in actions) + "\n"

    log_dir = f"{td}/_delta_log"
    attempt_snap = snap
    for _attempt in range(max_retries + 1):
        next_v = attempt_snap["version"] + 1
        payload = _payload(attempt_snap, next_v)
        if backend.create_exclusive(f"{log_dir}/{next_v:020d}.json", payload):
            return next_v
        # lost the put-if-absent race: re-read, re-validate, retry
        attempt_snap = delta_snapshot(td, spark=spark, backend=backend)
        _check_writer_protocol(attempt_snap, td)
        if attempt_snap["schema_json"] != snap["schema_json"]:
            raise ValueError(
                f"concurrent writer changed the schema of {td} while "
                "this append staged — refusing to commit stale-schema "
                "files; clean up and retry the append"
            )
    raise FileExistsError(
        f"append to {td} lost the put-if-absent race {max_retries + 1} "
        "times — a hot concurrent writer; retry later (staged files "
        f"{[m[0] for m in moves]} are orphans until then)"
    )


def compact_delta_table(
    spark: SparkSession,
    table_dir: str,
    backend=None,
    min_files: int = 2,
    max_retries: int = 3,
    max_file_bytes: int = 1 << 30,
) -> int | None:
    """OPTIMIZE a foreign Delta table: rewrite its live data files
    into size-targeted bins (``max_file_bytes``, default 1 GiB — the
    bin-packing target Delta's own OPTIMIZE uses) and commit the
    rearrangement as removes + adds with ``dataChange: false`` — the
    compaction shape the dl09 streaming contract passes over silently,
    now produced by this engine against ANY spec log. Deletion vectors
    are APPLIED (masked rows physically dropped, descriptors cleared),
    which is a rearrangement of the same logical rows, exactly like
    Delta's own OPTIMIZE on DV tables. Returns the committed version,
    or None when fewer than ``min_files`` live files exist (nothing
    worth doing).

    Bin plan (r12 verdict item 1 — the old shape was ``coalesce(1)``/
    one-task-per-partition-tuple, a single task rewriting the whole
    table at scale): bins are computed DRIVER-side from the snapshot's
    per-file sizes (metadata-sized, the ly03 plan-on-manifests
    pattern) — files grouped by partition tuple, greedily packed in
    sorted order until the next file would exceed ``max_file_bytes``
    (a file larger than the target keeps its own bin; a bin never
    crosses a partition tuple). Rows join their bin id via ONE
    broadcast lookup on the source-file tag, then ONE
    ``repartition(n_bins, bin)`` shuffle + ``partitionBy`` write
    yields exactly one output file per bin, written by as many
    parallel tasks as there are bins — a 100× table compacts with
    100× tasks, not one. Even the single-bin case is a round-robin
    shuffle, never ``coalesce(1)`` (which would drag the upstream
    read into the same task — the sequential-parent pathology).

    Same writer gate, column-mapping handling (flat physical names +
    field ids), staging, and put-if-absent retry as
    :func:`append_delta_table`; a concurrent data commit between our
    snapshot and the commit attempt ABORTS the compaction (the
    rearrangement was computed against a stale file set — unlike an
    append, retrying requires recomputing), leaving only orphan staged
    files for vacuum."""
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile
    from urllib.parse import unquote

    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType as _StructType

    from .delta import _PHYS_KEY, delta_snapshot, read_delta

    backend = backend or _backend_for(table_dir, spark)
    td = table_dir.rstrip("/")
    snap = delta_snapshot(td, spark=spark, backend=backend)
    _check_writer_protocol(snap, td)
    if "rowTracking" in set(
        (snap.get("protocol") or {}).get("writerFeatures") or []
    ):
        raise ValueError(
            f"compaction of {td} is refused: the table tracks row IDs "
            "(rowTracking) and a rewrite can only preserve them by "
            "materializing row-id columns into the files, which this "
            "writer does not do — append_delta_table still works"
        )
    if len(snap["files"]) < min_files:
        return None
    logical = _StructType.fromJson(json.loads(snap["schema_json"]))
    pcols = list(snap["partition_columns"])
    phys = {
        f.name: (f.metadata or {}).get(_PHYS_KEY, f.name) for f in logical.fields
    }

    # --- bin plan: driver-side greedy pack from the snapshot's sizes
    # (metadata-sized), one bin never crossing a partition tuple ------
    by_tuple: dict[tuple, list[str]] = {}
    for path, pv in snap["files"].items():
        key = tuple(sorted((pv or {}).items()))
        by_tuple.setdefault(key, []).append(path)
    bin_of: dict[str, int] = {}  # source-file basename -> bin id
    n_bins = 0
    for key in sorted(by_tuple):
        filled = 0
        first = True
        for path in sorted(by_tuple[key]):
            size = int(snap["sizes"].get(path) or 0)
            if not first and filled + size > max_file_bytes:
                n_bins += 1
                filled = 0
            bn = unquote(path).rsplit("/", 1)[-1]
            bin_of[bn] = n_bins
            filled += size
            first = False
        n_bins += 1  # close the tuple's last bin

    live = read_delta(
        spark, td, version=snap["version"], backend=backend, _keep_file=True
    )
    bin_lookup = spark.createDataFrame(
        sorted(bin_of.items()), "__fp_file string, __fp_bin int"
    )
    binned = live.join(F.broadcast(bin_lookup), "__fp_file").drop("__fp_file")
    staged = _stage_physical(
        binned, logical, snap["column_mapping_mode"], extra_cols=["__fp_bin"]
    )
    stage_root = _tempfile.mkdtemp(prefix="fp_delta_opt_")
    try:
        # ONE shuffle keyed by bin, one parallel task per bin; the
        # partitionBy write yields exactly one file per bin under its
        # bin (+ partition-tuple) directory
        dirs = [phys[c] for c in pcols] + ["__fp_bin"]
        writer = (
            staged.repartition(max(1, n_bins), "__fp_bin")
            .write.mode("overwrite")
            .partitionBy(*dirs)
        )
        writer.parquet(stage_root)
        moves: list[tuple[str, dict]] = []
        for root, _dirs, names in _os.walk(stage_root):
            for n in names:
                if not n.endswith(".parquet"):
                    continue
                sub = _os.path.relpath(root, stage_root)
                pvals: dict[str, str] = {}
                if sub != ".":
                    for seg in sub.split(_os.sep):
                        k, _, val = seg.partition("=")
                        if k == "__fp_bin":
                            continue  # the bin id is staging-only
                        pvals[k] = (
                            None
                            if val == "__HIVE_DEFAULT_PARTITION__"
                            else unquote(val)
                        )
                rel = f"part-{_uuid.uuid4().hex}.parquet"
                with open(f"{root}/{n}", "rb") as fh:
                    backend.write_bytes(f"{td}/{rel}", fh.read())
                moves.append((rel, pvals))
    finally:
        _shutil.rmtree(stage_root, ignore_errors=True)

    actions: list[dict] = []
    for old in sorted(snap["files"]):
        actions.append({"remove": {"path": old, "dataChange": False}})
    for rel, pvals in sorted(moves):
        actions.append(
            {
                "add": {
                    "path": rel,
                    "partitionValues": pvals,
                    "size": backend.file_size(f"{td}/{rel}") or 0,
                    "modificationTime": int(
                        (backend.mtime(f"{td}/{rel}") or 0) * 1000
                    ),
                    "dataChange": False,
                }
            }
        )
    payload = "\n".join(json.dumps(a) for a in actions) + "\n"
    log_dir = f"{td}/_delta_log"
    next_v = snap["version"] + 1
    for _attempt in range(max_retries + 1):
        if backend.create_exclusive(f"{log_dir}/{next_v:020d}.json", payload):
            return next_v
        fresh = delta_snapshot(td, spark=spark, backend=backend)
        if fresh["files"] != snap["files"] or fresh["dv"] != snap["dv"]:
            raise FileExistsError(
                f"a concurrent commit changed {td}'s file set while this "
                "compaction staged — aborting (the rearrangement is "
                f"stale); staged files {[m[0] for m in moves]} are "
                "orphans until vacuumed"
            )
        next_v = fresh["version"] + 1  # metadata-only commit raced us
    raise FileExistsError(
        f"compaction of {td} lost the put-if-absent race "
        f"{max_retries + 1} times; retry later"
    )


_CP_SCHEMA = (
    "add struct<path:string,partitionValues:map<string,string>,size:bigint,"
    "modificationTime:bigint,dataChange:boolean,"
    "deletionVector:struct<storageType:string,pathOrInlineDv:string,"
    "offset:int,sizeInBytes:int,cardinality:bigint>,"
    "tags:map<string,string>>, "
    "metaData struct<id:string,format:struct<provider:string,"
    "options:map<string,string>>,schemaString:string,"
    "partitionColumns:array<string>,configuration:map<string,string>>, "
    "protocol struct<minReaderVersion:int,minWriterVersion:int,"
    "readerFeatures:array<string>,writerFeatures:array<string>>"
)


# legacy protocol versions imply feature sets (PROTOCOL.md's table);
# upgrading to the v3/v7 feature protocol must list them explicitly
_LEGACY_READER_FEATURES = {1: (), 2: ("columnMapping",)}
_LEGACY_WRITER_FEATURES = {
    1: (),
    2: ("appendOnly", "invariants"),
    3: ("appendOnly", "invariants", "checkConstraints"),
    4: ("appendOnly", "invariants", "checkConstraints", "changeDataFeed",
        "generatedColumns"),
    5: ("appendOnly", "invariants", "checkConstraints", "changeDataFeed",
        "generatedColumns", "columnMapping"),
    6: ("appendOnly", "invariants", "checkConstraints", "changeDataFeed",
        "generatedColumns", "columnMapping", "identityColumns"),
}


def _v2_upgraded_protocol(proto: dict | None) -> dict:
    """The (3, 7) feature protocol equivalent of ``proto`` with
    v2Checkpoint added — legacy versions expand to their implied
    feature lists per the spec's upgrade rules."""
    proto = proto or {"minReaderVersion": 1, "minWriterVersion": 2}
    mrv = proto.get("minReaderVersion", 1)
    mwv = proto.get("minWriterVersion", 1)
    rf = set(
        proto.get("readerFeatures") or []
        if mrv >= 3
        else _LEGACY_READER_FEATURES.get(mrv, ())
    )
    wf = set(
        proto.get("writerFeatures") or []
        if mwv >= 7
        else _LEGACY_WRITER_FEATURES.get(mwv, ())
    )
    rf.add("v2Checkpoint")
    wf.add("v2Checkpoint")
    return {
        "minReaderVersion": 3,
        "minWriterVersion": 7,
        "readerFeatures": sorted(rf),
        "writerFeatures": sorted(wf),
    }


def checkpoint_delta_log(
    spark: SparkSession, table_dir: str, backend=None, parts: int = 1,
    form: str = "classic",
) -> int:
    """Write a spec-format parquet CHECKPOINT of the exported Delta
    log's latest version plus the ``_last_checkpoint`` pointer — so a
    long export history replays O(1) from the checkpoint instead of
    O(commits), and commit JSONs at or below it become
    retention-eligible. ``form="classic"`` (default) writes the
    single-part ``%020d.checkpoint.parquet`` or ``parts`` multi-part
    files; ``form="v2"`` writes the V2 SPEC layout newer Delta writers
    emit — a UUID-named top-level parquet (checkpointMetadata +
    sidecar actions + metaData/protocol) with the add state in
    ``parts`` sidecar parquet files under ``_delta_log/_sidecars/``.
    A v2 checkpoint requires the v2Checkpoint protocol feature, so if
    the table's protocol lacks it a protocol-UPGRADE commit (legacy
    versions expanded to their implied feature lists per the spec) is
    put-if-absent'ed first and the checkpoint covers that version.
    The checkpoint carries each add's ``deletionVector`` descriptor
    AND its ``tags`` (the fpDvRel breadcrumb), so publish_delta_log's
    incremental diff stays minimal across a checkpoint boundary.
    Returns the checkpointed version.

    Mechanics: the snapshot state is replayed through our own reader
    (round-trip seam), written as parquet via Spark into a staging
    dir, then copied byte-wise to the spec names through the backend
    (checkpoints are metadata-sized; the copy uses only primitives
    every backend has). Sidecars land BEFORE the top-level file, and
    the pointer lands LAST via an atomic text write, so a crash
    mid-checkpoint leaves a stale-but-valid hint and the
    listing-authoritative reader is never misdirected."""
    backend = backend or _backend_for(table_dir, spark)
    td = table_dir.rstrip("/")
    log_dir = f"{td}/_delta_log"
    snap = delta_snapshot(td, spark=spark, backend=backend)
    v = snap["version"]
    if parts < 1:
        raise ValueError(f"parts must be >= 1, got {parts}")
    if form not in ("classic", "v2"):
        raise ValueError(f"form must be 'classic' or 'v2', got {form!r}")
    if form == "v2":
        return _checkpoint_v2(spark, td, backend, snap, parts)

    add_rows = [
        {
            "add": {
                "path": p,
                "partitionValues": pv or {},
                "size": backend.file_size(f"{td}/{p}") or 0,
                "modificationTime": int((backend.mtime(f"{td}/{p}") or 0) * 1000),
                "dataChange": False,
                "deletionVector": snap["dv"].get(p),
                "tags": snap["tags"].get(p),
            },
            "metaData": None,
            "protocol": None,
        }
        for p, pv in sorted(snap["files"].items())
    ]
    proto = snap["protocol"] or {"minReaderVersion": 1, "minWriterVersion": 2}
    tail = [
        {
            "add": None,
            "metaData": {
                "id": snap["metadata_id"],
                "format": {"provider": "parquet", "options": {}},
                "schemaString": snap["schema_json"],
                "partitionColumns": snap["partition_columns"],
                "configuration": snap["configuration"] or {},
            },
            "protocol": None,
        },
        {"add": None, "metaData": None, "protocol": proto},
    ]
    chunks = [add_rows[i::parts] for i in range(parts)]
    chunks[0] = chunks[0] + tail
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    names = (
        [f"{v:020d}.checkpoint.parquet"]
        if parts == 1
        else [f"{v:020d}.checkpoint.{i:010d}.{parts:010d}.parquet" for i in range(1, parts + 1)]
    )
    stage_root = _tempfile.mkdtemp(prefix="fp_delta_cp_")
    try:
        for name, rows in zip(names, chunks):
            stage = f"{stage_root}/{name}"
            # ONE slice up front: coalesce(1) over a python-rows frame
            # would compute its defaultParallelism pickled partitions
            # SEQUENTIALLY in a single task (~4 s per tiny write)
            ordered = [
                tuple(r[k] for k in ("add", "metaData", "protocol")) for r in rows
            ]
            spark.createDataFrame(
                spark.sparkContext.parallelize(ordered, 1), _CP_SCHEMA
            ).write.mode("overwrite").parquet(stage)
            src = next(n for n in _os.listdir(stage) if n.endswith(".parquet"))
            with open(f"{stage}/{src}", "rb") as f:
                backend.write_bytes(f"{log_dir}/{name}", f.read())
    finally:
        _shutil.rmtree(stage_root, ignore_errors=True)
    pointer = {"version": v, "size": len(add_rows) + 2}
    if parts > 1:
        pointer["parts"] = parts  # spec: omitted for single-part
    backend.write_text_atomic(f"{log_dir}/_last_checkpoint", json.dumps(pointer))
    return v


_V2_TOP_SCHEMA = (
    "checkpointMetadata struct<version:bigint>, "
    "sidecar struct<path:string,sizeInBytes:bigint,modificationTime:bigint>, "
    "metaData struct<id:string,format:struct<provider:string,"
    "options:map<string,string>>,schemaString:string,"
    "partitionColumns:array<string>,configuration:map<string,string>>, "
    "protocol struct<minReaderVersion:int,minWriterVersion:int,"
    "readerFeatures:array<string>,writerFeatures:array<string>>"
)

_SIDECAR_SCHEMA = (
    "add struct<path:string,partitionValues:map<string,string>,size:bigint,"
    "modificationTime:bigint,dataChange:boolean,"
    "deletionVector:struct<storageType:string,pathOrInlineDv:string,"
    "offset:int,sizeInBytes:int,cardinality:bigint>,"
    "tags:map<string,string>>"
)


def _checkpoint_v2(spark, td, backend, snap, parts: int) -> int:
    """The v2-form body of :func:`checkpoint_delta_log` (see its doc).
    Order of durability: protocol-upgrade commit (if needed), then
    sidecars, then the UUID-named top-level file, then the pointer —
    each prefix state is valid for a listing-authoritative reader."""
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    log_dir = f"{td}/_delta_log"
    v = snap["version"]
    proto = snap["protocol"] or {"minReaderVersion": 1, "minWriterVersion": 2}
    if "v2Checkpoint" not in set(proto.get("readerFeatures") or []):
        upgraded = _v2_upgraded_protocol(proto)
        payload = json.dumps({"protocol": upgraded}) + "\n"
        next_v = v + 1
        if not backend.create_exclusive(f"{log_dir}/{next_v:020d}.json", payload):
            raise FileExistsError(
                f"protocol-upgrade commit {next_v} already exists in "
                f"{log_dir} — a concurrent writer won; re-run the "
                "checkpoint against the new head"
            )
        snap = delta_snapshot(td, spark=spark, backend=backend)
        v = snap["version"]
        proto = snap["protocol"]

    add_rows = [
        (
            (
                p,
                pv or {},
                backend.file_size(f"{td}/{p}") or 0,
                int((backend.mtime(f"{td}/{p}") or 0) * 1000),
                False,
                _dv_tuple(snap["dv"].get(p)),
                snap["tags"].get(p),
            ),
        )
        for p, pv in sorted(snap["files"].items())
    ]
    chunks = [add_rows[i::parts] for i in range(parts)]
    stage_root = _tempfile.mkdtemp(prefix="fp_delta_cp2_")
    sidecars: list[tuple[str, int, int]] = []
    try:
        backend.makedirs(f"{log_dir}/_sidecars")
        for rows in chunks:
            sc_name = f"{_uuid.uuid4()}.parquet"
            stage = f"{stage_root}/{sc_name}"
            spark.createDataFrame(
                spark.sparkContext.parallelize(rows, 1), _SIDECAR_SCHEMA
            ).write.mode("overwrite").parquet(stage)
            src = next(n for n in _os.listdir(stage) if n.endswith(".parquet"))
            with open(f"{stage}/{src}", "rb") as f:
                data = f.read()
            backend.write_bytes(f"{log_dir}/_sidecars/{sc_name}", data)
            sidecars.append((sc_name, len(data), 0))

        m = {
            "id": snap["metadata_id"],
            "format": {"provider": "parquet", "options": {}},
            "schemaString": snap["schema_json"],
            "partitionColumns": snap["partition_columns"],
            "configuration": snap["configuration"] or {},
        }
        top_rows = (
            [((v,), None, None, None)]
            + [(None, sc, None, None) for sc in sidecars]
            + [
                (None, None,
                 (m["id"], ("parquet", {}), m["schemaString"],
                  m["partitionColumns"], m["configuration"]), None),
                (None, None, None,
                 (proto["minReaderVersion"], proto["minWriterVersion"],
                  proto.get("readerFeatures"), proto.get("writerFeatures"))),
            ]
        )
        stage = f"{stage_root}/top"
        spark.createDataFrame(
            spark.sparkContext.parallelize(top_rows, 1), _V2_TOP_SCHEMA
        ).write.mode("overwrite").parquet(stage)
        src = next(n for n in _os.listdir(stage) if n.endswith(".parquet"))
        cp_name = f"{v:020d}.checkpoint.{_uuid.uuid4()}.parquet"
        with open(f"{stage}/{src}", "rb") as f:
            backend.write_bytes(f"{log_dir}/{cp_name}", f.read())
    finally:
        _shutil.rmtree(stage_root, ignore_errors=True)
    pointer = {"version": v, "size": len(add_rows) + 2 + len(sidecars)}
    backend.write_text_atomic(f"{log_dir}/_last_checkpoint", json.dumps(pointer))
    return v


def _dv_tuple(desc: dict | None):
    if not desc:
        return None
    return (
        desc.get("storageType"),
        desc.get("pathOrInlineDv"),
        desc.get("offset"),
        desc.get("sizeInBytes"),
        desc.get("cardinality"),
    )


def vacuum_delta_table(
    spark: SparkSession,
    table_dir: str,
    retention_hours: float = 168.0,
    backend=None,
    dry_run: bool = False,
    enforce_retention_floor: bool = True,
) -> list[str]:
    """VACUUM a Delta table (foreign or exported): delete data/DV
    files that are NOT referenced by the current snapshot and are
    older than the retention window — Delta's public VACUUM contract,
    completing the maintenance-writer loop (append io17, OPTIMIZE
    io18, checkpoint+retention, now the storage reclaim that makes
    compaction actually free bytes and reaps this writer's own
    documented orphans from aborted append/compaction stagings.

    Candidates come from two sources: TOMBSTONES (paths a retained
    ``remove`` action names, aged by the remove's
    ``deletionTimestamp`` when present, else file mtime) and a
    RECURSIVE LISTING of the table directory (``*.parquet`` /
    ``*.bin`` only — conservative: vacuum never touches unknown
    artifact kinds; directories starting with ``_`` or ``.`` are
    skipped per Delta's listing rules, so ``_delta_log`` and
    ``_change_data`` are exempt). A candidate is deleted when it is
    not referenced by the CURRENT snapshot (data files AND
    deletion-vector ``.bin`` files, which stay pinned while any live
    add references them) and its age exceeds ``retention_hours``.
    Files referenced only by OLDER versions are reclaimed once aged —
    time travel past the window breaks, exactly Delta's documented
    behavior.

    ``retention_hours`` below the 168 h default is refused unless
    ``enforce_retention_floor=False`` (the spec's guard against
    deleting files a concurrent uncommitted writer just staged —
    mirror of Delta's retentionDurationCheck). ``dry_run`` returns
    the candidate rel paths without deleting. Returns the rel paths
    deleted (or would-be). Driver-side and metadata-sized: the log
    replay and listing never touch file bytes."""
    from urllib.parse import unquote

    import time as _time

    from .delta import (
        _dv_file_path,
        _log_entries,
        delta_snapshot,
    )

    backend = backend or _backend_for(table_dir, spark)
    td = table_dir.rstrip("/")
    if enforce_retention_floor and retention_hours < 168.0:
        raise ValueError(
            f"retention_hours={retention_hours} is below the 168 h "
            "floor — a shorter window can delete files a concurrent "
            "writer staged but has not committed; pass "
            "enforce_retention_floor=False to override deliberately"
        )
    snap = delta_snapshot(td, spark=spark, backend=backend)
    _check_writer_protocol(snap, td)

    def _fs_path(raw: str) -> str:
        p = unquote(raw)
        return p if ("://" in p or p.startswith("/")) else f"{td}/{p}"

    live: set[str] = {_fs_path(p) for p in snap["files"]}
    for desc in snap["dv"].values():
        if desc.get("storageType") in ("u", "p"):
            live.add(_dv_file_path(desc, td))

    # tombstones with their deletionTimestamp (ms) from retained commits
    log_dir = f"{td}/_delta_log"
    commits, _cps = _log_entries(log_dir, backend)
    tomb_ts: dict[str, float] = {}
    for c in commits:
        txt = backend.read_text(f"{log_dir}/{c:020d}.json")
        if txt is None:
            continue
        for line in txt.splitlines():
            line = line.strip()
            if not line:
                continue
            action = json.loads(line)
            r = action.get("remove")
            if r and r.get("path"):
                ts = r.get("deletionTimestamp")
                tomb_ts[_fs_path(r["path"])] = (
                    float(ts) / 1000.0 if ts else None
                )

    # recursive listing for untracked orphans (conservative kinds only)
    found: list[str] = []

    def _walk(d: str, depth: int) -> None:
        if depth > 10:
            return
        for n in backend.list_names(d):
            if n.startswith("_") or n.startswith("."):
                continue
            p = f"{d}/{n}"
            if n.endswith(".parquet") or n.endswith(".bin"):
                found.append(p)
            elif backend.list_names(p):
                _walk(p, depth + 1)

    _walk(td, 0)

    cutoff = _time.time() - retention_hours * 3600.0
    candidates: dict[str, float | None] = dict(tomb_ts)
    for p in found:
        candidates.setdefault(p, None)
    doomed: list[str] = []
    for p, ts in sorted(candidates.items()):
        if p in live:
            continue
        age_ts = ts if ts is not None else backend.mtime(p)
        if age_ts is None:
            continue  # already gone (double vacuum, racing retention)
        if age_ts < cutoff:
            doomed.append(p)
    rels = [p[len(td) + 1:] if p.startswith(f"{td}/") else p for p in doomed]
    if dry_run:
        return rels
    for p in doomed:
        backend.delete_file(p)
    return rels
