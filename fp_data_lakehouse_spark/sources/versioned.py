"""Versioned tables: snapshot writes + time travel on plain parquet —
the minimal table-format layer (what Delta/Iceberg metadata logs do,
reduced to its essentials) for environments without one.

Layout:
    table_dir/
        v00001/ v00002/ ...   immutable snapshot directories (parquet)
        _manifest_v00003.json log-published snapshot: ONE object naming
                              its data files under _data/ in place
                              (write_version(manifest=True) — O(1)
                              metadata per commit, the Delta/Iceberg
                              publication shape) and recording their
                              physical schema, so reads infer nothing
        _data/<writer>/       manifest-mode data files (never moved)
        _LATEST               text file holding the current version number
        _COMMITS              streaming-sink idempotence ledger:
                              appId:batchId:version lines
        _claim_v00003         transient commit-slot claim markers
                              (each carries a heartbeated lease)

Writers never mutate a published snapshot: a new version is fully
written to its own directory FIRST, then the pointer file swaps via
atomic rename — readers either see the old version or the new one,
never a partial write (single-filesystem semantics; on object stores a
real table format's log gives the same property transactionally).

Concurrent writers serialize through ONE optimistic claim protocol
(``_claim_slot``): version N can only be published by the writer that
exclusively created ``_claim_v{N}``, and N is always pointer+1, so two
committers can never both win a slot (the pointer race is gone). Every
writer commits through it — ``write_version`` and the table operations
built on it, and the Python DataSource writers in ``pyds.py``
(``_commit_files``), which run in Python workers without a
SparkSession and so hand in a pure-Python backend.
Read-modify-write ops (MERGE, DELETE) pass the version they read as
``base_version`` and fail with :class:`ConcurrentWriteError` if anyone
committed in between — re-read and retry, Delta-style optimistic
concurrency. Crashed writers leave stale claims/orphans/staging that
:func:`fsck` repairs offline.
Time travel = read any retained version number; vacuum drops old
snapshots explicitly, so "how far back can I query" is an operator
decision, exactly as in Delta VACUUM.

Backend seam: every metadata/filesystem touch goes through a
``VersionedBackend`` (version listing, pointer read/commit, snapshot
removal) — the parquet data reads/writes are Spark's own and already
follow the path's scheme. Two in-repo implementations prove the seam:

- ``LocalFsBackend``: os/shutil/tempfile on a local path (the default
  for plain paths). Pointer commit is a true atomic ``os.replace``.
- ``HadoopFsBackend``: the JVM Hadoop FileSystem API, so the same
  table works on any scheme Spark can reach (hdfs://, s3a://,
  file://). Pointer commit is write-tmp + rename — atomic on HDFS;
  on S3-like stores rename is copy+delete, which is exactly why real
  deployments put a Delta/Iceberg LOG there instead; the seam is
  where that swap happens without touching call sites.

``tests/test_versioned.py`` runs the full MERGE / CDF / time-travel /
vacuum contract parametrized over BOTH backends.
"""

from __future__ import annotations

import os
import re
import shutil
import tempfile
import threading
import time
import uuid
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_PTR = "_LATEST"
_VDIR = re.compile(r"^v(\d{5})$")
_CLAIM = re.compile(r"^_claim_v(\d{5})$")
_LEDGER = "_COMMITS"
_STAGING = re.compile(r"^(_staging_|_stream_staging)")
_MANIFEST = re.compile(r"^_manifest_v(\d{5})\.json$")
_DATA_PREFIX = "_data"

# Claim/staging lease TTL: fsck reclaims a marker only when its lease
# heartbeat is older than this (or absent — a pre-lease-era marker or a
# crash before the lease write). Writers heartbeat at TTL/4 during long
# operations, so a live writer's lease is never near expiry.
#
# CLOCK-SKEW ASSUMPTION: lease timestamps are the WRITER's wall clock
# (time.time()) compared against the REPAIR process's wall clock —
# liveness is only sound when inter-host skew stays well under the
# TTL/4-heartbeat slack (~45 s at the 60 s default). NTP-disciplined
# fleets sit at milliseconds, 3-4 orders of magnitude inside the
# margin; on a fleet without clock sync, raise the TTL (fsck/vacuum
# accept claim_ttl_sec) so slack >> worst-case skew, or run repairs
# only from a host in the writers' clock domain. Monotonic clocks
# can't help here: the stamp must be comparable ACROSS processes.
_LEASE_TTL_SEC = 60.0

# Deletion-vector broadcast bound: readers apply a dv as a positional
# anti-join, and the dv side gets an explicit F.broadcast hint ONLY
# when the manifest records its row count at or under this bound. An
# explicit hint is honored regardless of size, so an unconditional one
# is a driver OOM waiting on stacked GDPR-style deletes: per-file read
# amplification is bounded by max_file_fraction, but TOTAL dv
# cardinality is not — a 100 TB time-clustered table can legitimately
# accumulate hundreds of millions of (file, pos) pairs. Arithmetic:
# one broadcast-relation row is a ~45-byte part-file name + 8-byte
# position + hash-map overhead, ~64 B/row, so 1M rows ≈ 64 MB — tens
# of MB on the driver, comfortably inside default headroom. Past the
# bound (or when an old manifest predates dv_rows), the join runs
# un-hinted: AQE may still broadcast at runtime, but from the dv's
# MEASURED size, which cannot OOM the way a blind hint can.
_DV_BROADCAST_MAX_ROWS = 1_000_000

# skip_filters ops read_table accepts — _file_may_match's vocabulary
# (shape-validated up front so a typo'd op fails loudly instead of
# silently disabling pruning)
_SKIP_OPS = frozenset({"eq", "lt", "le", "gt", "ge", "in", "notnull"})


def _lease_line(writer_id: str) -> str:
    """Lease content carried INSIDE a claim/staging marker: writer id +
    heartbeat epoch seconds. The id makes split-brain debuggable; the
    timestamp is what fsck's TTL check reads."""
    return f"{writer_id} {time.time():.3f}"


def _lease_age_sec(text: str | None, now: float) -> float | None:
    """Seconds since the lease's last heartbeat; None when the marker
    carries no parseable lease (legacy empty claim, or a writer that
    died between marker create and lease write) — callers treat None
    as expired."""
    if not text:
        return None
    try:
        return now - float(text.strip().rsplit(" ", 1)[-1])
    except ValueError:
        return None


class _Lease:
    """Heartbeats a lease file while a long operation runs (the staging
    parquet write; the per-object COPY publish on object-store
    backends), so a concurrent ``fsck`` with a TTL never reclaims a
    LIVE writer's marker. A daemon thread rewrites the lease every
    TTL/4; exceptions from the refresh are swallowed (a missed
    heartbeat degrades to the TTL race fsck already tolerates — the
    operation itself still fails loudly on real IO errors).

    ``claim=True`` heartbeats a commit-slot claim: ``_claim_slot`` has
    just written its lease, so entry writes nothing, and each beat
    renews the lease only while it still names this writer — as a
    compare-and-swap on backends with ``write_text_cas`` — then stops
    for good once it names another. A writer whose slot was reclaimed
    must not take the claim back before the publish's ownership checks
    run."""

    def __init__(self, backend, path: str, writer_id: str,
                 interval_sec: float = _LEASE_TTL_SEC / 4, claim: bool = False):
        self._backend = backend
        self._path = path
        self._writer_id = writer_id
        self._interval = interval_sec
        self._claim = claim
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _renew(self) -> bool:
        """Write one heartbeat; False once a claim names another writer."""
        line = _lease_line(self._writer_id)
        if not self._claim:
            self._backend.write_text_atomic(self._path, line)
            return True
        cur = self._backend.read_text(self._path)
        if not _names_writer(cur, self._writer_id):
            return False
        cas = getattr(self._backend, "write_text_cas", None)
        if cas is None:
            self._backend.write_text_atomic(self._path, line)
            return True
        return cas(self._path, line, cur)

    def __enter__(self) -> "_Lease":
        if not self._claim:
            self._renew()

        def _beat() -> None:
            while not self._stop.wait(self._interval):
                try:
                    if not self._renew():
                        return
                except Exception:
                    pass

        self._thread = threading.Thread(target=_beat, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread is not None:
            # generous join: an in-flight heartbeat write that lands
            # AFTER the caller deletes the marker would resurrect it
            # (an unowned claim blocks writers for a full TTL) — wait
            # out anything short of truly stuck IO, where the caller's
            # own next backend op would hang identically anyway
            self._thread.join(timeout=30.0)


def _java_exc_matches(exc: Exception, *needles: str) -> bool:
    """True when a py4j-raised error (or any link of its JVM cause
    chain) is one of the named exception classes — how the Python side
    distinguishes an expected outcome (FileAlreadyExistsException from
    a no-overwrite rename = claim held) from a genuine failure that
    must propagate."""
    je = getattr(exc, "java_exception", None)
    hops = 0
    while je is not None and hops < 8:
        try:
            name = je.getClass().getName()
        except Exception:
            return False
        if any(n in name for n in needles):
            return True
        je = je.getCause()
        hops += 1
    return False


class ConcurrentWriteError(RuntimeError):
    """A concurrent committer won the race for this table version.

    Raised when (a) a read-modify-write transaction's base version is
    no longer the committed version at commit time (another writer
    published in between — re-read and retry the whole transaction), or
    (b) the commit-slot claim stayed contended past the wait budget
    (either a live writer mid-commit, or a crashed writer's stale claim
    — ``fsck`` clears the latter)."""


class LocalFsBackend:
    """Metadata ops on a local filesystem path (default for plain paths)."""

    def list_names(self, d: str) -> list[str]:
        return os.listdir(d) if os.path.isdir(d) else []

    def makedirs(self, d: str) -> None:
        os.makedirs(d, exist_ok=True)

    def read_text(self, p: str) -> str | None:
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return f.read()

    def write_text_atomic(self, p: str, content: str) -> None:
        fd, tmp = tempfile.mkstemp(dir=os.path.dirname(p), prefix="._latest_")
        with os.fdopen(fd, "w") as f:
            f.write(content)
        os.replace(tmp, p)  # atomic commit

    def rmtree(self, p: str) -> None:
        shutil.rmtree(p, ignore_errors=True)

    def create_exclusive(self, p: str, content: str = "") -> bool:
        """Atomically create a marker file carrying ``content`` (the
        claim lease); False if it exists. Content is written to a
        private temp file first and link(2)'d into place — exclusive
        (link fails if the name exists) AND content-atomic, so a
        concurrent fsck can never observe the marker lease-less and
        reclaim a live writer's just-created claim (the r8 review's
        create-stream visibility window)."""
        fd, tmp = tempfile.mkstemp(dir=os.path.dirname(p), prefix="._claim_")
        try:
            with os.fdopen(fd, "w") as f:
                f.write(content)
            try:
                os.link(tmp, p)
            except FileExistsError:
                return False
            return True
        finally:
            os.unlink(tmp)

    def delete_file(self, p: str) -> None:
        try:
            os.remove(p)
        except FileNotFoundError:
            pass

    def mtime(self, p: str) -> float | None:
        """Last-modified epoch seconds, None when absent — how fsck
        ages LEASE-LESS temp files (a pointer/manifest temp carries no
        lease, so its age must come from the filesystem)."""
        try:
            return os.path.getmtime(p)
        except OSError:
            return None

    def file_size(self, p: str) -> int | None:
        """Object size in bytes, None when absent (Delta-log export
        needs ``add.size``)."""
        try:
            return os.path.getsize(p)
        except OSError:
            return None

    def read_bytes(self, p: str) -> bytes | None:
        """Whole binary object, None when absent (Delta deletion-vector
        ``.bin`` decode on the driver/planner side)."""
        try:
            with open(p, "rb") as f:
                return f.read()
        except FileNotFoundError:
            return None

    def write_bytes(self, p: str, data: bytes) -> None:
        """Write a fresh binary object (uuid-named immutable payloads —
        deletion-vector ``.bin`` files — so no atomic-replace dance is
        needed; local still writes tmp+rename for torn-read hygiene)."""
        fd, tmp = tempfile.mkstemp(dir=os.path.dirname(p), prefix="._bin_")
        with os.fdopen(fd, "wb") as f:
            f.write(data)
        os.replace(tmp, p)

    def move(self, src: str, dst: str) -> None:
        os.rename(src, dst)  # same-filesystem dir rename: atomic


class HadoopFsBackend:
    """Metadata ops through the JVM Hadoop FileSystem — one backend for
    every scheme Spark itself can write parquet to. Needs a live
    session only to reach the JVM gateway; handles are captured at
    construction (same rationale as sinks.alloc_scratch)."""

    def __init__(self, spark: SparkSession):
        self._jvm = spark._jvm
        self._conf = spark._jsc.hadoopConfiguration()
        self._gateway = spark.sparkContext._gateway

    def _path(self, p: str):
        return self._jvm.org.apache.hadoop.fs.Path(p)

    def _fs(self, p: str):
        return self._path(p).getFileSystem(self._conf)

    def list_names(self, d: str) -> list[str]:
        fs = self._fs(d)
        hp = self._path(d)
        if not fs.exists(hp):
            return []
        return [st.getPath().getName() for st in fs.listStatus(hp)]

    def makedirs(self, d: str) -> None:
        self._fs(d).mkdirs(self._path(d))

    def read_text(self, p: str) -> str | None:
        """Read a small text object. Retries transient failures: a
        reader racing a concurrent atomic replace (pointer swap, lease
        heartbeat — both write-tmp + rename) can hit a checksum/IO
        error mid-swap on the checksummed local Hadoop FS; the file is
        never logically absent, and every caller re-validates under a
        claim, so a short retry returning either side of the swap is
        correct (observed as a rare Py4JJavaError in the two-writer
        contention test)."""
        for attempt in range(3):
            fs = self._fs(p)
            hp = self._path(p)
            if not fs.exists(hp):
                return None
            try:
                stream = fs.open(hp)
                try:
                    # one bulk JVM call, not one py4j round trip per byte
                    return self._jvm.org.apache.commons.io.IOUtils.toString(
                        stream, "UTF-8"
                    )
                finally:
                    stream.close()
            except Exception:
                if attempt == 2:
                    raise
                time.sleep(0.05)

    def write_text_atomic(self, p: str, content: str) -> None:
        # write-tmp + OVERWRITE-rename (FileContext): atomic on HDFS with
        # no delete-then-rename window where the pointer file does not
        # exist; copy+delete on S3-likes (where a log-based table format
        # replaces this backend). Plain FileSystem.rename refuses to
        # overwrite, which is why the naive form needed the unsafe
        # delete first.
        fs = self._fs(p)
        tmp = self._path(p + ".tmp")
        stream = fs.create(tmp, True)
        try:
            stream.write(bytearray(content, "utf-8"))
        finally:
            stream.close()
        dest = self._path(p)
        try:
            fc = self._jvm.org.apache.hadoop.fs.FileContext.getFileContext(
                dest.toUri(), self._conf
            )
            rename_cls = self._jvm.org.apache.hadoop.fs.Options.Rename
            opts = self._gateway.new_array(rename_cls, 1)
            opts[0] = rename_cls.OVERWRITE
            fc.rename(tmp, dest, opts)
        except Exception:
            # FileContext unsupported for this scheme: fall back to the
            # windowed delete+rename (still last-writer-wins correct,
            # with a transient not-found window a retry absorbs).
            if fs.exists(dest):
                fs.delete(dest, False)
            fs.rename(tmp, dest)

    def rmtree(self, p: str) -> None:
        fs = self._fs(p)
        hp = self._path(p)
        if fs.exists(hp):
            fs.delete(hp, True)

    def create_exclusive(self, p: str, content: str = "") -> bool:
        """Exclusive create WITH content, in two namenode-serialized
        steps: the lease content is written to a writer-private temp
        file, then renamed into place via ``FileContext.rename(...,
        Options.Rename.NONE)`` — the no-overwrite rename THROWS
        ``FileAlreadyExistsException`` on an existing destination on
        every AbstractFileSystem (the Delta HDFSLogStore commit
        pattern), so the rename is the exclusivity point AND the marker
        becomes visible already carrying its lease. Plain
        ``FileSystem.rename`` is NOT that primitive: on
        RawLocal/ChecksumFileSystem it delegates to POSIX rename(2),
        which silently REPLACES an existing destination — two racing
        writers on a file:// table could both observe success and one
        would overwrite the other's live claim (or manifest, since
        ``_publish``'s put-if-absent rides this method). The previous
        form (create(path, overwrite=false) + write through the create
        stream) had the other failure: a window where a concurrent
        fsck read an empty lease and reclaimed a LIVE writer's
        just-created claim — the r8 review's finding.

        Residual caveats, by scheme: HDFS serializes the rename in the
        namenode (fully atomic). On the local FS, FileContext's
        no-overwrite rename is an exists-check + rename inside the
        AbstractFileSystem — the replace hole is closed, but a
        microscopic check-to-rename window remains (same residual as
        Delta's HDFSLogStore on file://; LocalFsBackend's O_EXCL path
        is the fully-atomic local form and is the default for plain
        paths). On S3-likes every rename is non-atomic copy+delete —
        ConditionalPutBackend is the store-native path there. Schemes
        with no AbstractFileSystem binding (no FileContext) fall back
        to plain FileSystem.rename with the caveat above.

        Only the destination-exists outcome maps to False; any other
        error (network, permission, transient IO) re-raises, so a
        genuine failure is never mistaken for a held claim and spun on
        until the ConcurrentWriteError timeout."""
        fs = self._fs(p)
        hp = self._path(p)
        if fs.exists(hp):
            # fast path for the claim-wait spin: a held claim costs one
            # RPC, not a temp-file create/write/rename/delete cycle;
            # the rename below remains the exclusivity point
            return False
        tmp = self._path(f"{p}.claimtmp.{uuid.uuid4().hex[:12]}")
        stream = fs.create(tmp, True)
        try:
            stream.write(bytearray(content, "utf-8"))
        finally:
            stream.close()
        try:
            try:
                fc = self._jvm.org.apache.hadoop.fs.FileContext.getFileContext(
                    hp.toUri(), self._conf
                )
            except Exception:
                fc = None  # no AbstractFileSystem for this scheme
            if fc is not None:
                rename_cls = self._jvm.org.apache.hadoop.fs.Options.Rename
                opts = self._gateway.new_array(rename_cls, 1)
                opts[0] = rename_cls.NONE
                try:
                    fc.rename(tmp, hp, opts)
                    return True
                except Exception as e:
                    if _java_exc_matches(
                        e, "FileAlreadyExistsException", "PathExistsException"
                    ):
                        return False  # held claim: rename refused it
                    raise
            # FileContext unsupported: plain FileSystem.rename fallback
            # (refuses an existing destination on HDFS; may silently
            # replace on exotic local-like schemes — docstring caveat)
            if fs.rename(tmp, hp):
                return True
            # rename refused: the marker exists (held claim) — anything
            # else (e.g. a vanished parent dir) is a real failure
            if fs.exists(hp):
                return False
            raise OSError(
                f"exclusive-create rename {tmp} -> {hp} failed with no "
                "existing destination"
            )
        finally:
            if fs.exists(tmp):
                fs.delete(tmp, False)

    def delete_file(self, p: str) -> None:
        fs = self._fs(p)
        hp = self._path(p)
        if fs.exists(hp):
            fs.delete(hp, False)

    def mtime(self, p: str) -> float | None:
        fs = self._fs(p)
        hp = self._path(p)
        try:
            if not fs.exists(hp):
                return None
            return fs.getFileStatus(hp).getModificationTime() / 1000.0
        except Exception:
            return None

    def file_size(self, p: str) -> int | None:
        fs = self._fs(p)
        hp = self._path(p)
        try:
            if not fs.exists(hp):
                return None
            return int(fs.getFileStatus(hp).getLen())
        except Exception:
            return None

    def read_bytes(self, p: str) -> bytes | None:
        fs = self._fs(p)
        hp = self._path(p)
        if not fs.exists(hp):
            return None
        stream = fs.open(hp)
        try:
            # one bulk JVM call, not one py4j round trip per byte
            return bytes(
                self._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
            )
        finally:
            stream.close()

    def write_bytes(self, p: str, data: bytes) -> None:
        # uuid-named immutable payloads: a plain create(overwrite) is a
        # single-object PUT on every Hadoop-compatible store
        stream = self._fs(p).create(self._path(p), True)
        try:
            stream.write(bytearray(data))
        finally:
            stream.close()

    def move(self, src: str, dst: str) -> None:
        fs = self._fs(dst)
        if not fs.rename(self._path(src), self._path(dst)):
            raise OSError(f"rename {src} -> {dst} failed")


class ConditionalPutBackend:
    """Metadata ops constrained to the primitives a conditional-PUT
    object store actually provides — atomic whole-object PUT,
    put-if-absent (S3 ``If-None-Match: *``, GCS
    ``ifGenerationMatch=0``, ABFS create-no-overwrite), GET,
    LIST-by-prefix, per-object DELETE and per-object server-side COPY.
    **No atomic rename, no directories.**

    This is the existence proof for SCALE.md's claim that
    ``_claim_slot`` maps 1:1 onto S3 conditional PUT:

    - ``create_exclusive`` == conditional PUT — the serialization
      primitive, natively atomic on S3 (since 2024), GCS, ABFS;
    - ``write_text_atomic`` == plain PUT — a single-object PUT is
      atomic (readers see the old or the new object, never a torn
      one), which is all the pointer swap requires;
    - ``move`` == per-object COPY + DELETE, explicitly NON-atomic:
      safe ONLY because the claim protocol guarantees a v-dir is
      written by exactly one writer and becomes visible only when the
      pointer PUT lands — readers never resolve versions above the
      pointer, and a crash mid-copy leaves an unledger'd partial
      prefix that fsck / the next claimer deletes;
    - ``rmtree`` == LIST + per-object DELETE (no recursive delete).

    Locally the store's *server-side* atomicity is simulated with the
    same OS facilities S3 implements behind its API (O_EXCL for the
    conditional PUT, write-tmp+replace inside the PUT call). The
    constraint being proven sits at the backend boundary: no call site
    ever needs a rename or directory primitive the store lacks —
    ``tests/test_versioned.py`` runs the full MERGE / CDF / vacuum /
    two-thread-conflict contract over this backend as the third
    parametrization."""

    # --- the five store primitives (everything below uses ONLY these) ---

    def _put(self, key: str, data: bytes) -> None:
        """Atomic whole-object PUT (server-side on a real store)."""
        os.makedirs(os.path.dirname(key), exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=os.path.dirname(key), prefix="._put_")
        with os.fdopen(fd, "wb") as f:
            f.write(data)
        os.replace(tmp, key)

    def _put_if_absent(self, key: str, data: bytes = b"") -> bool:
        """Conditional PUT (If-None-Match: *) — atomic create-or-fail,
        body included (a real store PUTs key and body in one call)."""
        try:
            fd = os.open(key, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            return False
        try:
            if data:
                os.write(fd, data)
        finally:
            os.close(fd)
        return True

    # process-wide mutex simulating the store's SERVER-SIDE If-Match
    # serialization (S3 conditional overwrite PUT, GCS
    # ifGenerationMatch, ABFS ETag) — the store, not the client,
    # guarantees read-compare-put atomicity on a real deployment
    _CAS_LOCK = threading.Lock()

    def _put_if_match(self, key: str, data: bytes, expected: bytes | None) -> bool:
        """Conditional overwrite PUT: lands only when the object's
        current body equals ``expected`` (None = object must not
        exist). The compare-and-swap every major object store now
        exposes on overwrite PUTs."""
        with ConditionalPutBackend._CAS_LOCK:
            cur = self._get(key)
            if cur != expected:
                return False
            self._put(key, data)
            return True

    def _get(self, key: str) -> bytes | None:
        try:
            with open(key, "rb") as f:
                return f.read()
        except (FileNotFoundError, IsADirectoryError):
            return None

    def _list_keys(self, prefix: str) -> list[str]:
        """LIST all object keys under ``prefix/`` (no delimiter)."""
        out = []
        for root, _, files in os.walk(prefix):
            for fn in files:
                out.append(os.path.join(root, fn))
        return out

    def _delete(self, key: str) -> None:
        try:
            os.remove(key)
        except FileNotFoundError:
            pass  # S3 DELETE is idempotent

    def _copy(self, src_key: str, dst_key: str) -> None:
        """Server-side single-object COPY."""
        os.makedirs(os.path.dirname(dst_key), exist_ok=True)
        shutil.copyfile(src_key, dst_key)

    def _list_children(self, d: str) -> list[str]:
        """LIST with delimiter '/': immediate objects + common prefixes
        under ``d/`` — the one-call form every real store provides
        (S3 ListObjectsV2 delimiter='/', GCS delimiter, ABFS list).
        One metadata call regardless of how many objects live below,
        so pointer/claim operations never pay O(total snapshot
        objects) the way a recursive walk would."""
        try:
            return os.listdir(d)
        except (FileNotFoundError, NotADirectoryError):
            return []

    # --- the VersionedBackend protocol, in store primitives only ---

    def list_names(self, d: str) -> list[str]:
        return sorted(self._list_children(d.rstrip("/")))

    def makedirs(self, d: str) -> None:
        # object stores have no directories; the local data plane
        # (Spark's parquet writer) makes its own
        os.makedirs(d, exist_ok=True)

    def read_text(self, p: str) -> str | None:
        data = self._get(p)
        return data.decode() if data is not None else None

    def write_text_atomic(self, p: str, content: str) -> None:
        self._put(p, content.encode())

    def rmtree(self, p: str) -> None:
        for key in self._list_keys(p):
            self._delete(key)
        shutil.rmtree(p, ignore_errors=True)  # empty local-dir husks

    # Public object-API hooks (the same five primitives, exported so
    # certificate queries and tests plant crash artifacts without
    # touching private members):
    def list_keys(self, prefix: str) -> list[str]:
        return self._list_keys(prefix)

    def copy_object(self, src_key: str, dst_key: str) -> None:
        self._copy(src_key, dst_key)

    def put_object(self, key: str, data: bytes) -> None:
        self._put(key, data)

    def create_exclusive(self, p: str, content: str = "") -> bool:
        return self._put_if_absent(p, content.encode())

    def write_text_cas(self, p: str, content: str, expected: str | None) -> bool:
        """Compare-and-swap text write (the pointer swap uses this when
        the backend offers it): succeeds only when the current content
        is ``expected`` (None = must not exist yet), making a pointer
        regression structurally impossible rather than claim-protocol-
        dependent — even a mis-run fsck racing a live writer cannot
        silently lose an update."""
        return self._put_if_match(
            p, content.encode(), expected.encode() if expected is not None else None
        )

    def delete_file(self, p: str) -> None:
        self._delete(p)

    def mtime(self, p: str) -> float | None:
        """Object Last-Modified epoch seconds (every real store returns
        it on HEAD), None when absent."""
        try:
            return os.path.getmtime(p)
        except OSError:
            return None

    def file_size(self, p: str) -> int | None:
        """Object Content-Length (HEAD), None when absent."""
        try:
            return os.path.getsize(p)
        except OSError:
            return None

    def read_bytes(self, p: str) -> bytes | None:
        """Whole-object GET, None when absent."""
        return self._get(p)

    def write_bytes(self, p: str, data: bytes) -> None:
        # a plain whole-object PUT — uuid-named immutable payloads
        self._put(p, data)

    def move(self, src: str, dst: str) -> None:
        # NON-atomic per-object COPY+DELETE — the claim protocol makes
        # this safe (see class docstring); crash mid-loop leaves an
        # unledger'd partial prefix below the pointer's visibility.
        src, dst = src.rstrip("/"), dst.rstrip("/")
        for key in self._list_keys(src):
            rel = os.path.relpath(key, src)
            self._copy(key, os.path.join(dst, rel))
            self._delete(key)
        shutil.rmtree(src, ignore_errors=True)  # empty local-dir husks


# Explicit backend routing by path prefix (the seam a deployment uses
# to send one bucket through ConditionalPutBackend while local scratch
# stays on LocalFsBackend — the same role as Delta's LogStore scheme
# configuration).
_BACKEND_OVERRIDES: dict[str, object] = {}


def register_backend(path_prefix: str, backend) -> None:
    _BACKEND_OVERRIDES[path_prefix.rstrip("/")] = backend


def unregister_backend(path_prefix: str) -> None:
    _BACKEND_OVERRIDES.pop(path_prefix.rstrip("/"), None)


def _backend_for(table_dir: str, spark: SparkSession | None = None):
    """Default backend resolution: explicit prefix overrides first,
    then scheme'd paths (including file://) go through Hadoop; bare
    paths stay on the local backend."""
    td = table_dir.rstrip("/")
    # longest prefix wins (not dict insertion order), so a nested
    # registration /a/b shadows its parent /a for tables under it
    for pfx in sorted(_BACKEND_OVERRIDES, key=len, reverse=True):
        if td == pfx or td.startswith(pfx + "/"):
            return _BACKEND_OVERRIDES[pfx]
    if "://" not in table_dir:
        return LocalFsBackend()
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError(
            f"a scheme'd versioned table ({table_dir}) needs an active "
            "SparkSession (or an explicit backend) for its filesystem"
        )
    return HadoopFsBackend(spark)


def _version_dirs(table_dir: str, backend=None) -> list[int]:
    backend = backend or _backend_for(table_dir)
    out = []
    for name in backend.list_names(table_dir):
        m = _VDIR.match(name)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def _manifest_versions(table_dir: str, backend=None) -> list[int]:
    """Versions published as MANIFESTS (log-based commits): one
    ``_manifest_v{N}.json`` object naming the snapshot's data files in
    place — the O(1)-metadata publication path (see
    :func:`write_version` ``manifest=True``)."""
    backend = backend or _backend_for(table_dir)
    out = []
    for name in backend.list_names(table_dir):
        m = _MANIFEST.match(name)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def _manifest_body(table_dir: str, v: int, backend) -> dict:
    """Parsed manifest JSON of version ``v`` (files + stats + optional
    column mapping)."""
    import json

    txt = backend.read_text(f"{table_dir.rstrip('/')}/_manifest_v{v:05d}.json")
    if txt is None:
        raise FileNotFoundError(f"manifest v{v} missing in {table_dir}")
    return json.loads(txt)


def _manifest_files(table_dir: str, v: int, backend) -> list[str]:
    """Table-relative data-file paths named by a manifest version."""
    return _manifest_body(table_dir, v, backend)["files"]


def _manifest_all_rels(body: dict) -> list[str]:
    """Every table-relative object a manifest references: data files
    plus deletion-vector files — the reference set GC must respect."""
    return list(body.get("files", [])) + sorted(set((body.get("dv") or {}).values()))


def _to_logical(df: DataFrame, columns: list[dict] | None) -> DataFrame:
    """Project a physically-named frame to the mapping's logical schema
    (mapping order; unmapped physical columns — i.e. DROPPED ones still
    present in old files — are excluded). An ADDED column (mapping
    entry carrying its declared ``type``) whose physical column exists
    in NO scanned file reads as a typed NULL — the Delta/Iceberg ADD
    COLUMN contract: pre-add files are never rewritten, their rows are
    NULL-backfilled at projection time."""
    if not columns:
        return df
    have = set(df.columns)
    out = []
    for c in columns:
        if c["physical"] in have:
            out.append(F.col(c["physical"]).alias(c["name"]))
        elif "type" in c:
            # only entries that DECLARE a type may be absent from the
            # files (add_column records it): NULL-backfill those
            out.append(F.lit(None).cast(c["type"]).alias(c["name"]))
        else:
            # anything else misresolving must fail LOUDLY with the
            # column name (AnalysisException), not a bare KeyError
            out.append(F.col(c["physical"]).alias(c["name"]))
    return df.select(*out)


def _manifest_schema(body: dict):
    """The physical Spark schema a manifest records (``StructType``), or
    None for a manifest written before commits recorded it. Like a Delta
    log's ``metaData.schemaString``, it lets a reader plan a scan without
    opening a data file."""
    import json

    from pyspark.sql.types import StructType

    txt = body.get("schema")
    return StructType.fromJson(json.loads(txt)) if txt is not None else None


def _as_nullable(dt):
    """``dt`` as parquet schema inference returns it: Spark writes every
    field, array element and map value as nullable."""
    from pyspark.sql.types import ArrayType, MapType, StructField, StructType

    if isinstance(dt, StructType):
        return StructType(
            [StructField(f.name, _as_nullable(f.dataType), True, f.metadata) for f in dt.fields]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType), True)
    return dt


def _schema_json(df: DataFrame, body: dict | None = None, carried=()) -> str:
    """The manifest ``schema`` field for files written from ``df``. When
    the commit also carries files of manifest ``body`` by reference, the
    field is what a footer merge over both would infer: the carried
    schema with the new files' fields in place, then the new fields it
    lacks."""
    from pyspark.sql.types import StructType

    new = _as_nullable(df.schema)
    prev = _manifest_schema(body) if body is not None and carried else None
    if prev is None:
        return new.json()
    by_name = {f.name: f for f in new.fields}
    fields = [by_name.pop(f.name, f) for f in prev.fields]
    return StructType(fields + list(by_name.values())).json()


def _read_physical(spark: SparkSession, td: str, rels: list[str], body: dict) -> DataFrame:
    """Scan the given data files of a manifest version under the
    physical schema its manifest records: no footer-inference job, and
    a file that predates an ADDED column (a mapping entry with a
    declared ``type``) reads NULL for it, so downstream physical-name
    selects always resolve.

    A manifest written before commits recorded the schema falls back to
    inference; once it has an added column, that scan turns on parquet
    ``mergeSchema`` and backfills physical columns present in no file
    as typed NULLs."""
    paths = [f"{td}/{rel}" for rel in rels]
    schema = _manifest_schema(body)
    if schema is not None:
        return spark.read.schema(schema).parquet(*paths)
    reader = spark.read
    added = [c for c in (body.get("columns") or []) if "type" in c]
    if added:
        reader = reader.option("mergeSchema", "true")
    df = reader.parquet(*paths)
    for c in added:
        if c["physical"] not in df.columns:
            df = df.withColumn(c["physical"], F.lit(None).cast(c["type"]))
    return df


# the public schema of a deletion-vector parquet (see Snapshot)
_DV_SCHEMA = "file STRING, pos BIGINT"


def _read_dv(spark: SparkSession, td: str, rels) -> DataFrame:
    """Scan deletion-vector objects under their fixed schema."""
    return spark.read.schema(_DV_SCHEMA).parquet(*sorted({f"{td}/{r}" for r in rels}))


def _to_physical(df: DataFrame, columns: list[dict] | None) -> DataFrame:
    """Rename a logically-named frame to physical names for a data-file
    write, so files written after a rename stay byte-compatible with
    the files carried by reference from before it."""
    if not columns:
        return df
    return df.select(*[F.col(c["name"]).alias(c["physical"]) for c in columns])


def versions(table_dir: str, backend=None) -> list[int]:
    """Retained snapshot versions, ascending — v-dir (copy-published)
    and manifest-published versions together, including a crashed
    writer's uncommitted orphan above the pointer. The queryable ones
    are :func:`committed_versions`."""
    backend = backend or _backend_for(table_dir)
    return sorted(
        set(_version_dirs(table_dir, backend))
        | set(_manifest_versions(table_dir, backend))
    )


def latest_version(table_dir: str, backend=None) -> int | None:
    backend = backend or _backend_for(table_dir)
    txt = backend.read_text(f"{table_dir.rstrip('/')}/{_PTR}")
    return int(txt.strip()) if txt is not None else None


def _ledger_entries(table_dir: str, backend) -> dict[tuple[str, int], int]:
    """The streaming sink's ``_COMMITS`` ledger: (appId, batchId) ->
    version. Legacy 2-field lines (``batch:version``) read back under
    appId 'default'."""
    txt = backend.read_text(f"{table_dir.rstrip('/')}/{_LEDGER}")
    out: dict[tuple[str, int], int] = {}
    for ln in (txt or "").strip().splitlines():
        if not ln:
            continue
        parts = ln.split(":")
        if len(parts) == 2:
            out[("default", int(parts[0]))] = int(parts[1])
        else:
            out[(":".join(parts[:-2]), int(parts[-2]))] = int(parts[-1])
    return out


def _ledger_versions(table_dir: str, backend) -> set[int]:
    """Versions recorded in the ``_COMMITS`` ledger. For those versions
    the LEDGER is the commit point, so they are committed even when the
    pointer swap was lost to a crash."""
    return set(_ledger_entries(table_dir, backend).values())


class Snapshot(NamedTuple):
    """One committed version as every reader sees it
    (:func:`resolve_snapshot`).

    ``body`` is the parsed ``_manifest_v{N}.json`` of a log-published
    version, or None for a copy-published v-dir. A manifest records:

    - ``files``: table-relative data-file paths (under ``_data/``);
    - ``stats``: per data-file NAME, ``{column: [min, max(, nulls,
      rows)]}`` over physical columns (:func:`_file_may_match`);
    - ``columns``: the COLUMN MAPPING (absent = identity, i.e. the
      files' physical names ARE the logical schema). Each entry is
      ``{"id": stable_field_id, "name": logical, "physical":
      physical}``, plus the declared ``type`` on an added column — the
      Delta/Iceberg column-mapping move: RENAME and DROP are
      metadata-only commits that re-map logical names over unchanged
      data files. Physical names never change once written; field ids
      survive every mapping commit;
    - ``dv``: the DELETION-VECTOR map, data-file rel -> dv-file rel. A
      dv file is a parquet of (file STRING, pos BIGINT) rows naming
      DELETED row positions (parquet row_index) per data-file NAME —
      the merge-on-read row-level delete (Delta/Iceberg deletion
      vectors / position deletes). Readers apply it as a positional
      anti-join; compaction (or any full rewrite) applies dvs
      physically and clears the map;
    - ``schema`` (the files' physical Spark schema), ``ts`` (commit
      time), ``dv_rows`` and ``clustered``.

    ``rels`` are the version's parquet data files, relative to the
    table dir and sorted: a rate-limited feed offset indexes into them."""

    version: int
    body: dict | None
    rels: list[str]


def _committed(table_dir: str, backend):
    """The one rule for "committed", the rule ``_claim_slot`` enforces:
    version ``v`` is committed when it is at or below the pointer, or
    when the ``_COMMITS`` ledger records it (the streaming sink's commit
    point, whose pointer swap a crash may have lost). Anything else
    above the pointer is a crashed writer's orphan that the next claim
    deletes, so it is never readable. Returns (head, is_committed):
    the newest committed version (0 when none) and the rule."""
    ptr = latest_version(table_dir, backend) or 0
    ledgered = _ledger_versions(table_dir, backend)
    return max(ledgered | {ptr}), lambda v: v <= ptr or v in ledgered


def _load_snapshot(td: str, v: int, backend) -> Snapshot:
    """Version ``v``'s manifest (one GET) or, failing that, its v-dir
    (one LIST), with no commit check: callers resolve ``v`` first."""
    import json

    txt = backend.read_text(f"{td}/_manifest_v{v:05d}.json")
    if txt is not None:
        body = json.loads(txt)
        return Snapshot(v, body, sorted(r for r in body["files"] if r.endswith(".parquet")))
    names = backend.list_names(f"{td}/v{v:05d}")
    if not names:
        raise FileNotFoundError(f"version {v} not retained in {td}")
    return Snapshot(v, None, sorted(f"v{v:05d}/{n}" for n in names if n.endswith(".parquet")))


def resolve_snapshot(table_dir: str, version: int | None = None, backend=None) -> Snapshot:
    """The snapshot of ``version`` (default: the newest committed one).
    Every reader resolves here — ``read_table``, ``change_feed``, the
    exports and both Python DataSources — so they all see one table.
    Reads the pointer and the ledger once each, then one manifest GET
    (or one v-dir LIST). Raises FileNotFoundError for an uncommitted,
    vacuumed or never-written version."""
    backend = backend or _backend_for(table_dir)
    td = table_dir.rstrip("/")
    head, is_committed = _committed(td, backend)
    if version is None:
        if not head:
            raise FileNotFoundError(f"no versions committed in {td}")
        version = head
    elif not is_committed(version):
        raise FileNotFoundError(f"version {version} not committed in {td}")
    return _load_snapshot(td, version, backend)


def committed_versions(table_dir: str, backend=None) -> list[int]:
    """Retained versions that are committed (:func:`_committed`),
    ascending: the queryable subset of :func:`versions`."""
    backend = backend or _backend_for(table_dir)
    _, is_committed = _committed(table_dir, backend)
    return [v for v in versions(table_dir, backend) if is_committed(v)]


def _manifest_head(table_dir: str, backend, op: str) -> Snapshot:
    """The committed head for ``op``, which rewrites the head's
    manifest and so requires one."""
    head = resolve_snapshot(table_dir, None, backend)
    if head.body is None:
        raise ValueError(
            f"{op} requires a manifest-published head (a copy-published "
            "v-dir is rewritten whole: write_version, delete_from_version)"
        )
    return head


def _swap_pointer(backend, td: str, v: int, expected_prev: int) -> None:
    """Advance the pointer ``expected_prev -> v``. On backends exposing
    compare-and-swap (``write_text_cas``) the PUT is conditioned on the
    expected prior value, so a pointer moved outside the claim protocol
    (e.g. an fsck mis-run racing a live writer) surfaces as
    ConcurrentWriteError instead of a silently lost update; elsewhere
    the claim protocol alone guarantees exclusivity and the write is a
    plain atomic swap."""
    cas = getattr(backend, "write_text_cas", None)
    if cas is None:
        backend.write_text_atomic(f"{td}/{_PTR}", str(v))
        return
    expected = str(expected_prev) if expected_prev else None
    if not cas(f"{td}/{_PTR}", str(v), expected):
        raise ConcurrentWriteError(
            f"pointer CAS failed advancing {td} to v{v}: expected prior "
            f"value {expected!r} is gone — the pointer moved outside this "
            "writer's claim (protocol violation or concurrent repair)"
        )


def _remove_snapshots(table_dir: str, vs: list[int], backend) -> None:
    """Delete snapshots in whichever form each exists: the copy-
    published v-dir, and/or the manifest plus those of its data files
    not referenced by any SURVIVING manifest (manifests may share data
    files — an append-style commit references its predecessor's files —
    so file GC is reference-counted against the retained set)."""
    import json

    td = table_dir.rstrip("/")
    doomed = set(vs)
    keep_refs: set[str] = set()
    for mv in _manifest_versions(table_dir, backend):
        if mv not in doomed:
            keep_refs.update(
                _manifest_all_rels(_manifest_body(table_dir, mv, backend))
            )
    for v in vs:
        backend.rmtree(f"{td}/v{v:05d}")
        # a stale interop export must not outlive its snapshot
        backend.rmtree(f"{td}/{_SYMLINK_DIR}/v{v:05d}")
        mkey = f"{td}/_manifest_v{v:05d}.json"
        txt = backend.read_text(mkey)
        if txt is None:
            continue
        for rel in sorted(set(_manifest_all_rels(json.loads(txt))) - keep_refs):
            backend.delete_file(f"{td}/{rel}")
        backend.delete_file(mkey)


def _claim_slot(
    table_dir: str,
    backend,
    base_version: int | None,
    max_wait_sec: float = 30.0,
    writer_id: str | None = None,
) -> int:
    """Optimistic-concurrency commit-slot allocation: returns version
    ``committed + 1`` with its ``_claim_v{N}`` marker held. Every
    writer allocates here — ``write_version`` and the Python DataSource
    writers alike (via ``_commit_files``) — so mixed writers serialize
    on the same marker files.

    The claim is the serialization point: exclusive-create means only
    one writer can own a slot number, and the pointer only advances to
    ``v`` through the writer holding claim ``v``, so two concurrent
    committers can never both publish the same slot (last-wins lost
    update). ``base_version`` is the read-set check: a read-modify-
    write transaction passes the version it READ, and if any other
    writer has committed since, the commit fails with
    ConcurrentWriteError instead of silently dropping that writer's
    rows (write-skew on the snapshot level).

    The claim — not the pre-claim pointer read — is the serialization
    point: every decision (pointer validation, base_version conflict
    check, ledger roll-forward, orphan deletion) re-reads state AFTER
    create_exclusive succeeds. A pre-claim read can be arbitrarily
    stale: a concurrent writer may fully commit slot v and release its
    claim between this writer's pointer read and its create_exclusive,
    so acting on the stale read would delete a committed snapshot as an
    "orphan" and republish its slot (silent lost commit). Re-validating
    under the claim closes that window: if the pointer moved, release
    and retry from a fresh read.

    Repairs on the way in:
    ledger'd-but-unpointed versions roll FORWARD — performed only while
    holding the claim for the slot being advanced into, so a delayed
    roll-forward write can never regress the pointer below a newer
    committed version (no other writer can advance the pointer to v
    while this writer holds claim v); an unledger'd orphan v-dir at the
    claimed slot (fresh existence check under the claim) is deleted.

    The claim marker carries a LEASE (writer id + heartbeat timestamp):
    fsck reclaims only claims whose lease is older than its TTL, so a
    live (slow, not crashed) writer can no longer lose its claim to a
    concurrent repair run."""
    td = table_dir.rstrip("/")
    writer_id = writer_id or uuid.uuid4().hex[:12]
    deadline = time.monotonic() + max_wait_sec
    while True:
        ptr = latest_version(table_dir, backend) or 0
        v = ptr + 1
        if not backend.create_exclusive(f"{td}/_claim_v{v:05d}", _lease_line(writer_id)):
            if time.monotonic() >= deadline:
                raise ConcurrentWriteError(
                    f"timed out waiting for commit slot v{v:05d} on "
                    f"{table_dir}: another writer holds the claim (run "
                    "fsck to clear a crashed writer's stale claim)"
                )
            time.sleep(0.05)
            continue
        # ---- claim v held: re-validate everything on fresh reads ----
        try:
            cur = latest_version(table_dir, backend) or 0
            if cur != ptr:
                # A writer fully committed (and released) between our
                # pointer read and our claim — slot v may already be a
                # published version. Start over from a fresh read.
                backend.delete_file(f"{td}/_claim_v{v:05d}")
                continue
            ledgered = _ledger_versions(table_dir, backend)
            present = set(_version_dirs(table_dir, backend)) | set(
                _manifest_versions(table_dir, backend)
            )
            if v in ledgered and v in present:
                # Slot v is ledger-committed (stream writer crashed
                # between ledger append and pointer swap): roll the
                # pointer forward UNDER claim v, then retry for the
                # next slot.
                _swap_pointer(backend, td, v, ptr)
                backend.delete_file(f"{td}/_claim_v{v:05d}")
                continue
            if base_version is not None and cur != base_version:
                raise ConcurrentWriteError(
                    f"table {table_dir} advanced to v{cur} since this "
                    f"transaction read v{base_version} — re-read and retry"
                )
            if v in present:
                # unledger'd dir/manifest above the pointer: a crashed
                # writer's orphan — delete it under the claim so it can
                # never surface as a committed version.
                _remove_snapshots(table_dir, [v], backend)
            return v
        except BaseException:
            # EVERY non-return exit under the claim releases it — a
            # transient IO error (or Ctrl-C) during re-validation must
            # not leak the marker and block all later writers until
            # timeout + fsck.
            backend.delete_file(f"{td}/_claim_v{v:05d}")
            raise


def _collect_file_stats(staging: str, files: list[str]) -> dict:
    """Per-file column statistics from the parquet FOOTERS of the
    staged files (no data scan) — the data-skipping index a manifest
    commit carries, Delta/Iceberg's file-stats move. Each recorded
    entry is ``[min, max, null_count, row_count]``:

    - min/max cover INT/FLOAT/STRING/BOOL natively and DATE columns as
      ISO 'YYYY-MM-DD' strings (lexicographic == chronological, so the
      reader compares a pushed date literal's isoformat directly);
    - null_count/row_count make IsNotNull pruning possible (a file
      whose column is ALL null provably matches no NOT NULL row) and
      are recorded even when min/max are absent (an all-null column
      has no min/max but a perfectly sound null count).

    SOUNDNESS: a column's entry is kept only when EVERY row group
    contributed statistics — one stats-less group could hold values
    (or non-nulls) outside the partial picture, so such columns are
    omitted and the reader keeps the file. min/max describe non-null
    values only, which is sound for the comparison ops the reader
    prunes on (SQL comparisons never match NULL rows). Columns with
    absent or unusable statistics are simply omitted — skipping is an
    optimization, never a correctness dependency. Local-path staging
    only: scheme'd stores return {} — there, a real deployment
    collects stats executor-side during the write itself."""
    import datetime

    if "://" in staging:
        return {}
    try:
        import pyarrow.parquet as pq
    except ImportError:  # pragma: no cover - pyarrow ships with pyspark
        return {}
    out: dict[str, dict[str, list]] = {}
    for name in files:
        try:
            md = pq.read_metadata(os.path.join(staging, name))
        except Exception:
            continue
        cols: dict[str, list] = {}
        seen: dict[str, int] = {}
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                c = g.column(ci)
                st = c.statistics
                if (
                    st is None
                    or "." in c.path_in_schema
                    or not st.has_null_count
                ):
                    continue
                nulls, rows = st.null_count, g.num_rows
                if st.has_min_max:
                    lo, hi = st.min, st.max
                    if isinstance(lo, bytes):
                        try:
                            lo, hi = lo.decode(), hi.decode()
                        except UnicodeDecodeError:
                            lo = hi = None
                    elif isinstance(lo, datetime.date) and not isinstance(
                        lo, datetime.datetime
                    ):
                        lo, hi = lo.isoformat(), hi.isoformat()
                    if not isinstance(lo, (int, float, str, bool)) and lo is not None:
                        lo = hi = None
                    if lo is None and nulls < rows:
                        # min/max exist but are UNUSABLE (undecodable
                        # bytes / non-JSON-scalar type) and the group
                        # holds real values: recording lo=hi=None here
                        # would be indistinguishable from an all-null
                        # group, and the merge below could then narrow
                        # the whole-file range past this group's values
                        # — an UNSOUND skip. Poison the column instead,
                        # dropping it exactly like a stats-less group.
                        cols[c.path_in_schema] = None
                        seen[c.path_in_schema] = seen.get(c.path_in_schema, 0) + 1
                        continue
                elif nulls == rows:
                    lo = hi = None  # all-null group: no min/max to have
                else:
                    continue  # values exist but no min/max: stats-less group
                seen[c.path_in_schema] = seen.get(c.path_in_schema, 0) + 1
                prev = cols.get(c.path_in_schema, ...)
                if prev is Ellipsis:
                    cols[c.path_in_schema] = [lo, hi, nulls, rows]
                elif prev is not None:
                    try:
                        if prev[0] is None:
                            prev[0], prev[1] = lo, hi
                        elif lo is not None:
                            prev[0] = min(prev[0], lo)
                            prev[1] = max(prev[1], hi)
                        prev[2] += nulls
                        prev[3] += rows
                    except TypeError:  # mixed types: mark unusable
                        cols[c.path_in_schema] = None
        usable = {
            k: v
            for k, v in cols.items()
            if v is not None and seen.get(k) == md.num_row_groups
        }
        if usable:
            out[name] = usable
    return out


def _names_writer(lease: str | None, writer_id: str) -> bool:
    """Whether a marker's lease text names ``writer_id``."""
    return lease is not None and lease.strip().startswith(writer_id + " ")


def _owns_claim(backend, td: str, v: int, writer_id: str) -> bool:
    """Whether claim ``v``'s lease still names ``writer_id``."""
    return _names_writer(backend.read_text(f"{td}/_claim_v{v:05d}"), writer_id)


def _verify_claim_ownership(backend, td: str, v: int, writer_id: str) -> None:
    """A writer frozen past the lease TTL may have had its claim
    reclaimed (and its partial output GC'd) by a concurrent repair;
    publishing after that would commit a torn snapshot. Re-read the
    claim lease immediately before the pointer swap and abort when it
    is gone or owned by someone else — narrowing the resume-after-
    reclaim race from the whole publish window to microseconds (the
    pointer CAS covers the pointer value itself)."""
    if not _owns_claim(backend, td, v, writer_id):
        raise ConcurrentWriteError(
            f"claim v{v} on {td} is no longer owned by writer "
            f"{writer_id}: its lease expired while the process was "
            "stalled and a repair reclaimed the slot — aborting the "
            "publish instead of committing a possibly-GC'd snapshot"
        )


def _release_claim(backend, td: str, v: int, writer_id: str) -> None:
    """Drop claim ``v`` if this writer still owns it. A writer that lost
    its slot to a reclaim must leave the new owner's marker in place:
    deleting it would let a third writer claim the slot while the owner
    is still publishing."""
    if _owns_claim(backend, td, v, writer_id):
        backend.delete_file(f"{td}/_claim_v{v:05d}")


def _publish(
    backend,
    td: str,
    v: int,
    writer_id: str,
    *,
    manifest_files: list[str] | None = None,
    stats: dict | None = None,
    staging: str | None = None,
    columns: list[dict] | None = None,
    dv: dict | None = None,
    dv_rows: int | None = None,
    clustered: dict | None = None,
    schema: str | None = None,
) -> None:
    """The publish step of :func:`_commit`: verify claim ownership BEFORE
    the data-plane publish (a writer stalled past its lease TTL whose
    slot was reclaimed and recommitted must not clobber the committed
    version's manifest or merge stale objects into its v-dir), then
    manifest mode conditional-PUTs one manifest naming
    ``manifest_files`` with ``stats`` — put-if-absent, so even a writer
    that passes the ownership check and then stalls can never overwrite
    a manifest a faster re-claimer already committed (``_claim_slot``
    clears any crash-leftover manifest at the claimed slot, so the
    normal path never sees a survivor) — while copy mode moves
    ``staging`` into the v-dir. Both then re-verify claim ownership
    and CAS the pointer; manifest mode finally drops the now-referenced
    data prefix's lease. Caller holds claim ``v`` under its heartbeat.

    ``schema`` (``StructType.json()``) is the physical Spark schema of
    the snapshot's files, recorded so readers never infer it: paths that
    write new files pass the schema of the frame they wrote, paths that
    carry files by reference pass the previous manifest's."""
    import json

    _verify_claim_ownership(backend, td, v, writer_id)
    if manifest_files is not None:
        payload = {
            "version": v,
            "files": manifest_files,
            "stats": stats or {},
            # commit wall time: what timestamp time travel (read_table
            # as_of / version_as_of_timestamp) resolves against — the
            # same bounded-clock-skew assumption the lease TTL documents
            "ts": time.time(),
        }
        if columns is not None:
            payload["columns"] = columns
        if schema is not None:
            payload["schema"] = schema
        if dv:
            payload["dv"] = dv
            if dv_rows is not None:
                # total (file, pos) pairs across the dv objects — known
                # exactly at write time; what read_table's broadcast
                # size gate consults (None on pre-dv_rows manifests =>
                # the reader never hints)
                payload["dv_rows"] = dv_rows
        if clustered:
            # {"cols": [...], "files": [rels]}: which files are known
            # to be z-clustered under cols — cluster_version's
            # incremental bookkeeping. Dropping the field anywhere is
            # always SAFE (the next clustering pass just re-clusters
            # more files); carrying it wrong would only waste a
            # rewrite, never corrupt data.
            payload["clustered"] = clustered
        body = json.dumps(payload)
        # the commit's ONLY data-plane metadata op: one conditional PUT,
        # whatever the snapshot's object count
        if not backend.create_exclusive(f"{td}/_manifest_v{v:05d}.json", body):
            raise ConcurrentWriteError(
                f"manifest for v{v} on {td} already exists — another "
                "writer recommitted this slot after this writer's lease "
                "expired; aborting instead of clobbering its snapshot"
            )
    else:
        backend.move(staging, f"{td}/v{v:05d}")
        backend.delete_file(f"{td}/v{v:05d}/_lease")
    _verify_claim_ownership(backend, td, v, writer_id)
    _swap_pointer(backend, td, v, v - 1)
    if manifest_files is not None and staging:
        backend.delete_file(f"{staging}/_lease")


def _stage(df: DataFrame, backend, staging: str, writer_id: str) -> list[str]:
    """Write ``df`` as parquet under ``staging`` with its ``_lease``
    heartbeated, and return the names of the staged files. Commit paths
    stage BEFORE claiming the slot, so the claim is held only for the
    metadata-sized publish — concurrent writers wait milliseconds, not
    a full 100 TB write. mode=append because the fresh staging dir
    already holds the lease file (underscore-prefixed: invisible to
    parquet readers)."""
    backend.makedirs(staging)
    with _Lease(backend, f"{staging}/_lease", writer_id):
        df.write.mode("append").parquet(staging)
        return sorted(n for n in backend.list_names(staging) if n.endswith(".parquet"))


def _commit(
    table_dir: str,
    backend,
    base: int | None,
    writer_id: str,
    staging: str | None = None,
    **manifest_fields,
) -> int:
    """The one commit every ``versioned`` write path makes (so a fix to
    one cannot silently miss the others): claim the next slot through
    ``_claim_slot`` with ``base`` as the read-set check, heartbeat the
    claim while :func:`_publish` writes the manifest (or moves
    ``staging`` into the v-dir when no ``manifest_files`` are given) and
    swaps the pointer, then release the claim if this writer still owns
    it. A claim that fails with ConcurrentWriteError removes ``staging``,
    so the aborted commit leaves no staged files. Returns the new
    version."""
    td = table_dir.rstrip("/")
    try:
        v = _claim_slot(table_dir, backend, base, writer_id=writer_id)
    except ConcurrentWriteError:
        if staging is not None:
            backend.rmtree(staging)
        raise
    try:
        with _Lease(backend, f"{td}/_claim_v{v:05d}", writer_id, claim=True):
            _publish(backend, td, v, writer_id, staging=staging, **manifest_fields)
    finally:
        _release_claim(backend, td, v, writer_id)
    return v


def _commit_files(
    table_dir: str,
    backend,
    staging: str,
    files: list[str],
    writer_id: str,
    ledger_key: tuple[str, int] | None = None,
) -> int:
    """The Python DataSource writers' commit: publish exactly ``files``
    (names under ``staging``) as the next copy-published version and
    return it. A failed or speculative task can leave extra parquet in
    staging, so the named files move one by one rather than the whole
    dir (``_publish``). ``ledger_key`` (appId, batchId) is the streaming
    sink's epoch: it is recorded in ``_COMMITS`` — re-read under the
    claim, so concurrent apps' entries survive — BEFORE the pointer
    swap, because the ledger is that path's commit point (a crash
    between the two rolls forward; the reverse order would let a
    replayed epoch publish twice). Claim ownership is verified before
    the data moves and again before the ledger and pointer writes, the
    same checks ``_publish`` makes."""
    td = table_dir.rstrip("/")
    v = _claim_slot(table_dir, backend, None, writer_id=writer_id)
    try:
        _verify_claim_ownership(backend, td, v, writer_id)
        snap = f"{td}/v{v:05d}"
        backend.makedirs(snap)
        for name in files:
            backend.move(f"{staging}/{name}", f"{snap}/{name}")
        _verify_claim_ownership(backend, td, v, writer_id)
        if ledger_key is not None:
            ledger = _ledger_entries(table_dir, backend)
            ledger[ledger_key] = v
            backend.write_text_atomic(
                f"{td}/{_LEDGER}",
                "\n".join(f"{a}:{b}:{w}" for (a, b), w in sorted(ledger.items())),
            )
        _swap_pointer(backend, td, v, v - 1)
    finally:
        _release_claim(backend, td, v, writer_id)
    return v


def _finish_replayed_commit(table_dir: str, backend, v: int) -> None:
    """A streaming epoch replays whose ``_COMMITS`` entry is ``v``: its
    first commit reached the ledger, but a crash may have hit before
    the pointer swap or the claim release. That claim died with the
    crashed run, so it is dropped; if the pointer is still below ``v``,
    ``_claim_slot`` rolls it forward under claim ``v`` like any
    ledger'd slot, and the slot it then hands back is released
    unused."""
    td = table_dir.rstrip("/")
    backend.delete_file(f"{td}/_claim_v{v:05d}")
    if (latest_version(table_dir, backend) or 0) < v:
        nxt = _claim_slot(table_dir, backend, None)
        backend.delete_file(f"{td}/_claim_v{nxt:05d}")


def _lease_staging(backend, staging: str, writer_id: str) -> None:
    """Create ``staging`` and (re)write its ``_lease``, so fsck's
    staging sweep sees the dir as live for one TTL."""
    backend.makedirs(staging)
    backend.write_text_atomic(f"{staging}/_lease", _lease_line(writer_id))


def _heartbeat_staging(backend, staging: str, writer_id: str) -> None:
    """``_lease_staging``, then refresh the lease every TTL/4 from a
    daemon thread until the staging dir is gone (committed or aborted):
    for a writer whose staging outlives any one call, where no ``with
    _Lease`` block can span it (the Python DataSource batch writer
    stages from executor workers and commits from another process)."""
    _lease_staging(backend, staging, writer_id)

    def _beat() -> None:
        while True:
            time.sleep(_LEASE_TTL_SEC / 4)
            try:
                if "_lease" not in backend.list_names(staging):
                    return  # committed or aborted: staging is gone
                backend.write_text_atomic(
                    f"{staging}/_lease", _lease_line(writer_id)
                )
            except Exception:
                return

    threading.Thread(target=_beat, daemon=True).start()


def _carried_clustered(body: dict, carried_rels: list[str]) -> dict | None:
    """The head's ``clustered`` bookkeeping restricted to files that
    carry by reference into the new commit (rewritten/removed files
    lose the mark; new files earn it only from cluster_version)."""
    c = body.get("clustered")
    if not c:
        return None
    files = sorted(set(c.get("files", ())) & set(carried_rels))
    return {"cols": c["cols"], "files": files} if files else None


def _carried_stats(old_stats: dict, carried_rels: list[str]) -> dict:
    """Stats entries carried for by-reference files (keyed by file
    NAME, matching _collect_file_stats and the reader lookup)."""
    out = {}
    for rel in carried_rels:
        name = rel.rsplit("/", 1)[1]
        if name in old_stats:
            out[name] = old_stats[name]
    return out


def write_version(
    df: DataFrame,
    table_dir: str,
    backend=None,
    base_version: int | None = None,
    manifest: bool = False,
    clustered_cols: list[str] | None = None,
) -> int:
    """Publish a new immutable snapshot; returns its version number.
    The pointer swap is the commit point — a crash before it leaves the
    table at the previous version with an orphan directory (cleaned by
    fsck/vacuum, or deleted under the next writer's claim), never a
    torn table.

    ``manifest=True`` is the LOG-BASED publication path (what Delta /
    Iceberg commits actually do): the staged parquet files stay where
    they were written (under ``_data/{writer}/``) and the commit writes
    ONE manifest object naming them — O(1) metadata per commit instead
    of the per-object COPY loop an object store's rename-free ``move``
    costs. Readers resolve the manifest under the same pointer; both
    publication forms coexist in one table and share the claim
    protocol, vacuum (manifest file GC is reference-counted, so
    append-style manifests sharing files stay safe) and fsck.

    Concurrency: the commit slot is allocated through the claim
    protocol (``_claim_slot``), so concurrent writers serialize instead
    of racing the pointer. Pass ``base_version`` (the version this
    write's input was READ from) to get read-modify-write conflict
    detection: if another writer committed in between, raises
    ConcurrentWriteError and publishes nothing — the caller re-reads
    and retries. ``base_version=None`` is a blind append/overwrite that
    serializes behind concurrent commits without conflicting.

    Liveness vs fsck: the staging dir carries a heartbeated ``_lease``
    file for the duration of the parquet write, and the claim lease is
    heartbeated through the publish (the per-object COPY loop on
    object-store backends can be long) — so a concurrent TTL-based
    fsck never sweeps a LIVE writer's staging or claim."""
    backend = backend or _backend_for(table_dir, df.sparkSession)
    backend.makedirs(table_dir)
    td = table_dir.rstrip("/")
    writer_id = uuid.uuid4().hex[:12]
    # In manifest mode the "staging" dir IS the final data location —
    # publication never moves a byte.
    staging = (
        f"{td}/{_DATA_PREFIX}/{writer_id}" if manifest else f"{td}/_staging_{writer_id}"
    )
    files = _stage(df, backend, staging, writer_id)
    if not manifest:
        return _commit(table_dir, backend, base_version, writer_id, staging)
    mfiles = [f"{_DATA_PREFIX}/{writer_id}/{n}" for n in files]
    return _commit(
        table_dir, backend, base_version, writer_id, staging,
        manifest_files=mfiles,
        # footer-only stats pass (min/max per file per primitive column
        # — the data-skipping index readers prune files by); runs BEFORE
        # the claim like the data write itself, so the claim window
        # stays metadata-sized
        stats=_collect_file_stats(staging, files),
        # clustered_cols: the CALLER z-ordered df on these columns
        # (compact_version/cluster_version) — mark every staged file for
        # incremental clustering
        clustered={"cols": list(clustered_cols), "files": mfiles}
        if clustered_cols
        else None,
        schema=_schema_json(df),
    )


def _stat_comparable(val):
    """Normalize a pushed literal to the manifest-stats domain: DATE
    literals become ISO 'YYYY-MM-DD' strings (how the stats collector
    records date min/max; lexicographic == chronological), everything
    else passes through."""
    import datetime

    if isinstance(val, datetime.date) and not isinstance(val, datetime.datetime):
        return val.isoformat()
    return val


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


def _stats_skip(body: dict | None, rels: list[str], pushed: list[tuple]) -> list[str]:
    """The files of ``rels`` that manifest ``body``'s per-file stats
    cannot rule out under the pushed ``(op, column, value)`` conjuncts,
    with LOGICAL column names translated through the body's column
    mapping (stats come from parquet footers: physical-keyed). A
    copy-published version (no body) or a manifest without stats keeps
    every file."""
    stats = (body or {}).get("stats")
    if not pushed or not stats:
        return rels
    phys = {c["name"]: c["physical"] for c in body.get("columns") or []}
    pushed = [(op, phys.get(col, col), val) for op, col, val in pushed]
    return [r for r in rels if _file_may_match(stats.get(r.rsplit("/", 1)[-1]), pushed)]


def read_table(
    spark: SparkSession,
    table_dir: str,
    version: int | None = None,
    backend=None,
    as_of=None,
    skip_filters: list[tuple] | None = None,
) -> DataFrame:
    """Read the committed snapshot (default: latest). ``version`` time
    travels to any retained snapshot; ``as_of`` (epoch seconds,
    datetime, or ISO string — mutually exclusive with ``version``)
    resolves TIMESTAMP AS OF to the latest commit at or before that
    time. Reading a vacuumed or uncommitted version raises.

    ``skip_filters``: PLANNER-SIDE file skipping on the JVM read path
    — ``[("col", op, value), ...]`` conjuncts with op in
    {"eq","lt","le","gt","ge","in","notnull"} (value ignored for
    notnull), evaluated against the manifest's per-file stats with the
    same soundness rules as the Python DataSource's pushdown (missing
    or unusable stats keep the file; min/max cover non-null values
    only). Whole files whose recorded range cannot intersect the
    conjunction are dropped from the scan BEFORE any task is planned —
    on a clustered 100 TB table the difference between scheduling a
    day's files and the lake's. These are I/O PRUNING HINTS, not a
    filter: the returned frame still contains every row of the kept
    files, so the caller applies the real predicate downstream exactly
    as without hints (Spark additionally pushes it to row groups).
    Column names are logical (mapping-aware). Ignored for
    copy-published versions (no stats travel with those)."""
    backend = backend or _backend_for(table_dir, spark)
    td = table_dir.rstrip("/")
    if skip_filters:
        # validate SHAPE up front — before any early return — so a
        # typo'd op fails loudly on BOTH publication forms (a v-dir
        # version prunes nothing, but malformed input is still a bug
        # in the caller, not a silent no-op)
        bad = [t for t in skip_filters if len(t) != 3 or t[1] not in _SKIP_OPS]
        if bad:
            raise ValueError(
                f"skip_filters entries must be (col, op, value) with op "
                f"in {sorted(_SKIP_OPS)}; got {bad}"
            )
    if as_of is not None:
        if version is not None:
            raise ValueError("pass either version or as_of, not both")
        version = version_as_of_timestamp(table_dir, as_of, backend)
    snap = resolve_snapshot(table_dir, version, backend)
    pushed = [(op, col, val) for col, op, val in skip_filters or ()]
    return _read_snapshot(spark, td, snap, pushed)


def _read_snapshot(spark: SparkSession, td: str, snap: Snapshot, pushed=()) -> DataFrame:
    """Scan a resolved snapshot: its logical rows, deletion vectors
    applied, with the files ``_stats_skip`` rules out under the logical
    ``(op, column, value)`` conjuncts ``pushed`` left unscanned."""
    if snap.body is None:
        return spark.read.parquet(f"{td}/v{snap.version:05d}")
    body = snap.body
    if not body["files"]:
        raise FileNotFoundError(f"manifest v{snap.version} names no files in {td}")
    files = _stats_skip(body, body["files"], pushed)
    if not files:
        # nothing can match: an EMPTY frame with the snapshot's
        # logical schema (one sample file gives the schema; the
        # false filter prunes the scan itself)
        sample = _read_physical(spark, td, body["files"][:1], body)
        return _to_logical(sample, body.get("columns")).filter(F.lit(False))
    raw = _read_physical(spark, td, files, body)
    # only the SCANNED files' dv objects matter: skip-filter pruning
    # must not read (or anti-join) dvs that mask pruned-away files
    file_set = set(files)
    dv = {rel: r for rel, r in (body.get("dv") or {}).items() if rel in file_set}
    if dv:
        # merge-on-read DELETE: drop deleted (file, row-position) pairs
        # with a positional anti-join. Join key is the file NAME
        # (part-file names carry a uuid — the same keying the stats map
        # uses); _metadata.row_index is position-stable under Spark's
        # row-group pruning, so pushed filters stay sound. The dv side
        # is broadcast-hinted only under the manifest-recorded row
        # count bound — see _DV_BROADCAST_MAX_ROWS.
        dv_df = _read_dv(spark, td, dv.values()).select(
            F.col("file").alias("__dv_file"), F.col("pos").alias("__dv_pos")
        )
        tagged = raw.select(
            "*",
            F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1).alias(
                "__dv_file"
            ),
            F.col("_metadata.row_index").alias("__dv_pos"),
        )
        raw = tagged.join(
            _dv_hinted(dv_df, body.get("dv_rows")),
            ["__dv_file", "__dv_pos"],
            "left_anti",
        ).drop("__dv_file", "__dv_pos")
    # column mapping: this VERSION's logical names over the (never-
    # renamed) physical file columns — time travel to a pre-rename
    # version reads with that version's own names
    return _to_logical(raw, body.get("columns"))


def merge_into_version(
    spark: SparkSession,
    table_dir: str,
    updates: DataFrame,
    keys: list[str],
    merge_schema: bool = False,
    backend=None,
    manifest: bool = False,
) -> int:
    """MERGE INTO a versioned table: publishes a NEW snapshot holding
    (previous version WHEN MATCHED THEN UPDATE / WHEN NOT MATCHED THEN
    INSERT of ``updates``) — the Delta ``MERGE`` + transaction-log shape
    on the snapshot layout, so every increment is also a time-travel
    point. First merge into an empty table is a plain initial load.

    Updates must be unique on ``keys`` (same MERGE precondition as
    ``sinks.merge_upsert``); the previous snapshot is never mutated, so
    a failed merge leaves the table at the old version.

    ``merge_schema=True`` is Delta's ``mergeSchema`` for MERGE: columns
    present on only one side are added to the new snapshot (null-filled
    on the other side). Off by default so an accidental column rename
    fails loudly instead of forking the schema.
    """
    backend = backend or _backend_for(table_dir, spark)
    dup = updates.groupBy(*keys).count().filter("count > 1").limit(1).count()
    if dup:
        raise ValueError(f"updates are not unique on merge keys {keys}")
    base = latest_version(table_dir, backend)
    if base is None:
        return write_version(updates, table_dir, backend, manifest=manifest)
    # pin the snapshot this MERGE reads; committing with base_version
    # makes a concurrent commit in between fail THIS merge loudly
    # (ConcurrentWriteError -> caller re-reads and retries) instead of
    # silently dropping the other writer's rows.
    prev = read_table(spark, table_dir, base, backend=backend)
    # allowMissingColumns null-fills BOTH directions: columns new in
    # updates appear (null for surviving old rows), columns absent from
    # updates persist (null for the new rows).
    merged = prev.join(updates.select(*keys), keys, "left_anti").unionByName(
        updates, allowMissingColumns=merge_schema
    )
    return write_version(merged, table_dir, backend, base_version=base, manifest=manifest)


def delete_from_version(
    spark: SparkSession, table_dir: str, condition, backend=None, manifest: bool = False
) -> int:
    """DELETE WHERE ``condition`` as a new snapshot (rows NOT matching
    the condition survive). Returns the new version number."""
    backend = backend or _backend_for(table_dir, spark)
    base = latest_version(table_dir, backend)
    prev = read_table(spark, table_dir, base, backend=backend)
    return write_version(
        prev.filter(~condition), table_dir, backend, base_version=base, manifest=manifest
    )


def _dv_hinted(dv_df: DataFrame, dv_rows: int | None) -> DataFrame:
    """Broadcast-hint the dv side of a positional anti-join only when
    the manifest proves it small (see _DV_BROADCAST_MAX_ROWS): an
    explicit hint is honored regardless of size, so it must never ride
    on an unbounded cardinality. Unknown count (pre-dv_rows manifest)
    = no hint — AQE still broadcasts small dvs from measured sizes."""
    if dv_rows is not None and dv_rows <= _DV_BROADCAST_MAX_ROWS:
        return F.broadcast(dv_df)
    return dv_df


def _live_tagged(spark, td: str, rels: list[str], body: dict) -> DataFrame:
    """Physical rows of the given files of manifest ``body`` tagged with
    ``__file`` (file name) and ``__pos`` (row position), with dv-deleted
    positions already removed — the frame every CoW operation must
    reason over on a head that carries deletion vectors. Added-column
    physicals resolve over pre-add files (NULL via _read_physical)."""
    raw = _read_physical(spark, td, rels, body)
    tagged = raw.select(
        F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1).alias("__file"),
        F.col("_metadata.row_index").alias("__pos"),
        "*",
    )
    dv_map = body.get("dv") or {}
    rel_set = set(rels)
    relevant = {dv_map[rel] for rel in dv_map if rel in rel_set}
    if relevant:
        dv_df = _read_dv(spark, td, relevant).select(
            F.col("file").alias("__file"), F.col("pos").alias("__pos")
        )
        tagged = tagged.join(
            _dv_hinted(dv_df, body.get("dv_rows")), ["__file", "__pos"], "left_anti"
        )
    return tagged


def _rewrite_files(
    spark: SparkSession,
    td: str,
    backend,
    base: int,
    body: dict,
    rels: list[str],
    transform,
    cluster_by: list[str] | None = None,
) -> int:
    """The copy-on-write commit over manifest ``body`` (version
    ``base``): the live rows of the files ``rels`` (dv positions
    masked, logical names) go through ``transform`` and are staged as
    new files under their PHYSICAL names, byte-compatible with the
    files carried by reference; every other file of the head carries
    with its stats and deletion-vector entry. With no ``rels`` (a pure
    insert), ``transform`` gets an empty head-shaped frame, so new
    files keep the head's column order. ``cluster_by`` marks carried
    and new files as clustered under those columns; otherwise only the
    carried files keep the head's mark. Commits with ``base`` as the
    read-set check and returns the new version."""
    mapping = body.get("columns")
    rel_set = set(rels)
    carried = [rel for rel in body["files"] if rel not in rel_set]
    dv_map = body.get("dv") or {}
    carried_dv = {rel: dv_map[rel] for rel in carried if rel in dv_map}
    if rels:
        live = _live_tagged(spark, td, rels, body).drop("__file", "__pos")
    else:
        live = _read_physical(spark, td, body["files"][:1], body).filter(F.lit(False))
    written = _to_physical(transform(_to_logical(live, mapping)), mapping)
    writer_id = uuid.uuid4().hex[:12]
    staging = f"{td}/{_DATA_PREFIX}/{writer_id}"
    new_files = _stage(written, backend, staging, writer_id)
    stats = _carried_stats(body.get("stats", {}), carried)
    stats.update(_collect_file_stats(staging, new_files))
    new_rels = [f"{_DATA_PREFIX}/{writer_id}/{n}" for n in new_files]
    return _commit(
        td, backend, base, writer_id, staging,
        manifest_files=carried + new_rels,
        stats=stats,
        columns=mapping,
        dv=carried_dv or None,
        # the head's total is a sound UPPER bound for the carried
        # subset — never under-gates the broadcast
        dv_rows=body.get("dv_rows") if carried_dv else None,
        clustered={"cols": list(cluster_by), "files": carried + new_rels}
        if cluster_by
        else _carried_clustered(body, carried),
        schema=_schema_json(written, body, carried),
    )


def delete_where_cow(
    spark: SparkSession, table_dir: str, condition, backend=None
) -> int:
    """DELETE WHERE ``condition`` with FILE-GRANULAR copy-on-write (the
    Delta/Iceberg shape): only the files that actually CONTAIN matching
    rows are rewritten; every untouched file carries into the new
    manifest BY REFERENCE — zero data movement, zero rewrite for the
    (at 100 TB, overwhelming) majority of the snapshot. Requires a
    manifest-published head. Returns the new version; returns the HEAD
    version unchanged when no file contains a match (a no-op delete
    publishes nothing).

    Mechanics: hit files are found with one scan carrying
    ``_metadata.file_path`` (parquet pushdown prunes it); survivors of
    ONLY the hit files are re-staged under a fresh ``_data`` prefix;
    the new manifest lists carried rels + new rels, with per-file
    stats carried over for the untouched files and recomputed for the
    rewritten ones. Commits under the ordinary claim with a
    ``base_version`` read-set check; vacuum's reference-counted GC
    already understands the sharing (shared files survive the old
    version's expiry)."""
    backend = backend or _backend_for(table_dir, spark)
    td = table_dir.rstrip("/")
    base, head_body, rels = _manifest_head(table_dir, backend, "delete_where_cow")
    mapping = head_body.get("columns")

    # ``condition`` is LOGICAL and evaluated over LIVE rows only (dv
    # positions already masked — a dv'd head composes with CoW: hit
    # files are rewritten from their live rows, so the rewrite both
    # applies the old dv physically and sheds the newly deleted rows)
    live = _live_tagged(spark, td, rels, head_body)
    probe = live
    if mapping:
        probe = live.select(
            "__file", *[F.col(c["physical"]).alias(c["name"]) for c in mapping]
        )
    hit_names = {
        r[0]
        for r in probe.filter(condition).select("__file").distinct().collect()
    }  # metadata-scale: one row per AFFECTED file, never per data row
    hit_rels = sorted(rel for rel in rels if rel.rsplit("/", 1)[-1] in hit_names)
    if not hit_rels:
        return base
    return _rewrite_files(
        spark, td, backend, base, head_body, hit_rels, lambda rows: rows.filter(~condition)
    )


def merge_into_version_cow(
    spark: SparkSession,
    table_dir: str,
    updates: DataFrame,
    keys: list[str],
    backend=None,
) -> int:
    """MERGE (upsert) with FILE-GRANULAR copy-on-write: only the files
    containing MATCHED keys are rewritten (their unmatched rows carried
    into the rewrite, matched rows replaced); inserts land in the new
    staged files; every untouched file carries into the new manifest by
    reference — Delta's MERGE file-rewrite contract on the vt10
    manifest path. Requires a manifest-published head; first merge into
    an empty table is a plain manifest initial load. Same uniqueness
    precondition and base_version conflict semantics as
    :func:`merge_into_version`."""
    backend = backend or _backend_for(table_dir, spark)
    td = table_dir.rstrip("/")
    dup = updates.groupBy(*keys).count().filter("count > 1").limit(1).count()
    if dup:
        raise ValueError(f"updates are not unique on merge keys {keys}")
    if latest_version(table_dir, backend) is None:
        return write_version(updates, table_dir, backend, manifest=True)
    base, head_body, rels = _manifest_head(table_dir, backend, "merge_into_version_cow")
    mapping = head_body.get("columns")
    if mapping:
        logical = {c["name"] for c in mapping}
        extra = set(updates.columns) - logical
        if extra:
            raise ValueError(
                f"updates carry columns {sorted(extra)} unknown to the "
                "column-mapped head schema — evolve the mapping first "
                "(full-rewrite merge_into_version with merge_schema "
                "resets the mapping)"
            )

    upd_keys = updates.select(*keys).localCheckpoint(eager=False)
    # LIVE rows only (dv positions masked): a key matched solely by a
    # dv-deleted row must not force that file's rewrite, and hit-file
    # rewrites re-stage live rows — applying the old dv physically
    live = _live_tagged(spark, td, rels, head_body)
    if mapping:
        phys = {c["name"]: c["physical"] for c in mapping}
        head_keys = live.select(
            "__file", *[F.col(phys[k]).alias(k) for k in keys]
        )
    else:
        head_keys = live.select("__file", *keys)
    hit_names = {
        r[0]
        for r in head_keys.join(F.broadcast(upd_keys), keys, "left_semi")
        .select("__file")
        .distinct()
        .collect()
    }  # one row per file containing a matched LIVE key
    hit_rels = sorted(rel for rel in rels if rel.rsplit("/", 1)[-1] in hit_names)
    return _rewrite_files(
        spark, td, backend, base, head_body, hit_rels,
        lambda rows: rows.join(upd_keys, keys, "left_anti").unionByName(updates),
    )


_SYMLINK_DIR = "_symlink_format_manifest"


def export_symlink_manifest(
    table_dir: str,
    version: int | None = None,
    backend=None,
    apply: bool = False,
    spark: SparkSession | None = None,
) -> str:
    """Interop export of a committed snapshot as a SYMLINK-FORMAT
    manifest (the Trino/Athena/Presto pattern Delta generates for
    external engines): one plain-text object at
    ``_symlink_format_manifest/v{N:05d}/manifest`` listing the
    snapshot's data files as absolute paths, one per line — so ANY
    engine that can read a text file and parquet (vanilla
    ``spark.read.parquet(*paths)``, Trino's SymlinkTextInputFormat,
    DuckDB ``read_parquet([list])``) reproduces the exact snapshot
    without this library or its Python DataSource. Works for both
    publication forms (manifest and copy-published v-dirs) and for any
    retained version (time-travel export). Re-export is idempotent
    (snapshots are immutable). Vacuum removes the export with its
    snapshot.

    By default, column-mapped versions are REFUSED: a vanilla reader
    sees physical file columns, which would silently diverge from the
    table's logical schema after a rename/drop/add — the same
    restriction Delta places on generating symlink manifests for
    column-mapping tables. Versions carrying deletion vectors are
    refused likewise (a vanilla reader cannot apply them and would
    resurrect deleted rows).

    ``apply=True`` (requires ``spark``) lifts both refusals by
    MATERIALIZING: live rows — dvs applied, logical column names
    projected, added columns NULL-backfilled — are rewritten as plain
    parquet under the export's own ``data/`` prefix and the manifest
    lists those files instead; clean versions still export zero-copy
    pointers to the original snapshot files. The materialized copy is
    read-only interop output (Delta's "generate for external engines"
    shape): it shares the export dir's lifecycle — re-export rewrites
    it idempotently, vacuum removes it with its snapshot — and costs
    one full scan+write of the LIVE rows, the unavoidable price of
    showing a dv'd/renamed snapshot to an engine that understands
    neither. Returns the manifest path."""
    backend = backend or _backend_for(table_dir)
    td = table_dir.rstrip("/")
    snap = resolve_snapshot(table_dir, version, backend)
    v, body, rels = snap
    if body is not None:
        needs_apply = bool(body.get("columns")) or bool(body.get("dv"))
        if needs_apply and apply:
            if spark is None:
                raise ValueError("apply=True requires the spark session")
            out_dir = f"{td}/{_SYMLINK_DIR}/v{v:05d}"
            # a RUN-UNIQUE data prefix, manifest swapped LAST: deleting
            # the previous copy before writing the new one would leave
            # a window where the still-published manifest lists files
            # that no longer exist — an external engine mid-read (the
            # feature's whole audience) would fail on them. New
            # readers follow the swapped manifest immediately; the
            # superseded copy is removed only after the swap (readers
            # that already fetched the OLD manifest text share
            # vacuum's standard read-under-GC caveat).
            run = uuid.uuid4().hex[:12]
            data_dir = f"{out_dir}/data_{run}"
            _read_snapshot(spark, td, snap).write.mode("overwrite").parquet(data_dir)
            paths = sorted(
                f"{data_dir}/{n}"
                for n in backend.list_names(data_dir)
                if n.endswith(".parquet")
            )
            backend.write_text_atomic(
                f"{out_dir}/manifest", "\n".join(paths) + "\n"
            )
            for stale in backend.list_names(out_dir):
                if stale.startswith("data") and stale != f"data_{run}":
                    backend.rmtree(f"{out_dir}/{stale}")
            return f"{out_dir}/manifest"
        if body.get("columns"):
            raise ValueError(
                f"version {v} uses column mapping (renamed/dropped "
                "columns): a symlink export would expose PHYSICAL file "
                "columns to vanilla readers — export with apply=True to "
                "materialize the logical schema, or rewrite the table "
                "(compact_version / write_version) first"
            )
        if body.get("dv"):
            raise ValueError(
                f"version {v} carries deletion vectors: a vanilla reader "
                "cannot apply them and would resurrect deleted rows — "
                "export with apply=True, or compact_version(...) applies "
                "them physically first"
            )
    if not rels:
        raise FileNotFoundError(f"version {v} names no data files in {table_dir}")
    paths = [f"{td}/{rel}" for rel in rels]
    out_dir = f"{td}/{_SYMLINK_DIR}/v{v:05d}"
    backend.makedirs(out_dir)
    backend.write_text_atomic(f"{out_dir}/manifest", "\n".join(paths) + "\n")
    return f"{out_dir}/manifest"


def delete_where_dv(
    spark: SparkSession,
    table_dir: str,
    condition,
    backend=None,
    max_file_fraction: float = 0.5,
) -> int:
    """DELETE WHERE ``condition`` via DELETION VECTORS (merge-on-read,
    the Delta DV / Iceberg position-delete shape): NO data file is
    touched — the commit writes ONE dv parquet naming the deleted
    (file, row-position) pairs plus one manifest whose ``dv`` map
    points every affected data file at it. Readers apply the dv as a
    broadcast positional anti-join; ``compact_version`` (or any full
    rewrite) applies dvs physically and clears the map. Successive dv
    deletes UNION: the new dv object carries every previously deleted
    position for files still referenced, so exactly one dv object is
    live per snapshot and superseded ones become unreferenced (GC'd by
    vacuum's reference counting alongside data files).

    Why this exists next to :func:`delete_where_cow`: CoW rewrites
    every file that contains ONE matching row — the right shape for
    deletes that concentrate in few files. A delete that touches one
    row in each of 10,000 files (GDPR user erasure over a
    time-clustered 100 TB table) would rewrite 10,000 files under CoW;
    under dvs it writes one small parquet and one manifest. The
    ``max_file_fraction`` policy guards the flip side: when more than
    that fraction of ANY file's rows is dv-deleted (read amplification
    exceeds rewrite cost), the delete is refused with advice to use
    CoW/compaction — Delta applies the same hybrid policy. The bound
    needs per-file row counts from the manifest's file stats, so it is
    best-effort where stats were not collected (scheme'd staging).

    ``condition`` uses LOGICAL names (column-mapping aware). Stats stay
    valid: a dv only shrinks a file's live rows, and min/max pruning
    over a superset is sound. Returns the new version; returns the head
    unchanged when nothing matches."""
    backend = backend or _backend_for(table_dir, spark)
    td = table_dir.rstrip("/")
    base, body, rels = _manifest_head(table_dir, backend, "delete_where_dv")
    mapping = body.get("columns")
    old_dv = body.get("dv") or {}

    # internal tag columns use collision-resistant names (a user table
    # may legitimately have columns named file/pos); the dv parquet's
    # public (file, pos) schema is applied only at write time below
    raw = _read_physical(spark, td, rels, body)
    tagged = raw.select(
        F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1).alias("__dv_file"),
        F.col("_metadata.row_index").alias("__dv_pos"),
        "*",
    )
    if mapping:
        probe = tagged.select(
            "__dv_file",
            "__dv_pos",
            *[F.col(c["physical"]).alias(c["name"]) for c in mapping],
        )
    else:
        probe = tagged
    new_hits = probe.filter(condition).select("__dv_file", "__dv_pos")
    prev_counts: dict[str, int] = {}
    if old_dv:
        # a shared dv OBJECT may still carry pairs for files that a
        # later CoW rewrite dropped from the table; re-carrying those
        # phantom pairs would grow every successive dv object
        # monotonically and inflate dv_rows (mis-gating the reader's
        # broadcast hint) — keep only pairs of files the head manifest
        # actually points at this object
        live_names = sorted(rel.rsplit("/", 1)[-1] for rel in old_dv)
        prev = (
            _read_dv(spark, td, old_dv.values())
            .select(F.col("file").alias("__dv_file"), F.col("pos").alias("__dv_pos"))
            .filter(F.col("__dv_file").isin(live_names))
        )
        prev_counts = {
            r["__dv_file"]: r["n"]
            for r in prev.groupBy("__dv_file")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        # rows already dv-deleted may re-match the condition; the union
        # + distinct keeps each position once
        all_dead = new_hits.unionByName(prev).distinct()
    else:
        all_dead = new_hits.distinct()
    all_dead = all_dead.select(
        F.col("__dv_file").alias("file"), F.col("__dv_pos").alias("pos")
    ).localCheckpoint(eager=False)

    per_file = {
        r["file"]: r["n"]
        for r in all_dead.groupBy("file").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    if not per_file or per_file == prev_counts:
        return base  # nothing newly matched: no-op
    stats = body.get("stats", {})
    name_to_rel = {rel.rsplit("/", 1)[-1]: rel for rel in rels}
    for fname, dead in per_file.items():
        rel = name_to_rel.get(fname)
        if rel is None:
            continue
        col_stats = stats.get(fname) or {}
        rows = next((v[3] for v in col_stats.values() if len(v) >= 4), None)
        if rows and dead / rows > max_file_fraction:
            raise ValueError(
                f"deletion vector would cover {dead}/{rows} rows of "
                f"{fname} (> {max_file_fraction:.0%}): read amplification "
                "now exceeds rewrite cost — use delete_where_cow / "
                "compact_version for this delete"
            )

    writer_id = uuid.uuid4().hex[:12]
    staging = f"{td}/{_DATA_PREFIX}/{writer_id}"
    # repartition(1), NOT coalesce(1): coalesce would pull the whole
    # matching-row SCAN into a single task (at 100 TB the delete's
    # full-table filter would run single-threaded); repartition keeps
    # the scan parallel and shuffles only the tiny (file, pos) mask
    # rows to the one writer task
    dv_files = _stage(all_dead.repartition(1), backend, staging, writer_id)
    dv_rel = f"{_DATA_PREFIX}/{writer_id}/{dv_files[0]}"
    return _commit(
        table_dir, backend, base, writer_id, staging,
        manifest_files=body["files"],  # ZERO data movement
        stats=stats,
        columns=mapping,
        dv={name_to_rel[f]: dv_rel for f in per_file if f in name_to_rel},
        # exact total of (file, pos) pairs in the new dv object, counted
        # above — the reader's broadcast gate
        dv_rows=sum(per_file.values()),
        # a dv only masks rows; the files' z-layout is intact
        clustered=body.get("clustered"),
        schema=body.get("schema"),
    )


def restore_version(spark: SparkSession, table_dir: str, to_version: int, backend=None) -> int:
    """RESTORE TABLE ... TO VERSION AS OF — roll the table back to a
    retained snapshot as a NEW commit (Delta RESTORE): the new manifest
    carries the target version's file list, stats, column mapping, and
    deletion vectors BY REFERENCE — one conditional manifest PUT, zero
    data movement, full history preserved (the bad versions stay
    time-travelable until vacuumed, and the restore itself is an
    auditable commit). Requires the target to be manifest-published:
    a copy-published v-dir's files live inside the version directory
    that vacuum deletes wholesale, so referencing them from a younger
    manifest would dangle after retention — copy-published snapshots
    restore via ``write_version(read_table(..., version=N), ...)``.
    Returns the new version."""
    backend = backend or _backend_for(table_dir, spark)
    head = latest_version(table_dir, backend)
    if head is None:
        raise FileNotFoundError(f"no committed version in {table_dir}")
    if to_version == head:
        return head
    if to_version not in set(versions(table_dir, backend)) or to_version > head:
        raise FileNotFoundError(f"version {to_version} not retained in {table_dir}")
    if to_version not in _manifest_versions(table_dir, backend):
        raise ValueError(
            f"version {to_version} is copy-published: its files live in "
            "the v-dir vacuum deletes wholesale — restore it with "
            "write_version(read_table(..., version=N), ...) instead"
        )
    body = _manifest_body(table_dir, to_version, backend)
    return _commit(
        table_dir, backend, head, uuid.uuid4().hex[:12],
        manifest_files=body["files"],
        stats=body.get("stats", {}),
        columns=body.get("columns"),
        dv=body.get("dv"),
        dv_rows=body.get("dv_rows"),
        clustered=body.get("clustered"),
        schema=body.get("schema"),
    )


def version_as_of_timestamp(table_dir: str, ts, backend=None) -> int:
    """The LATEST committed version whose commit time is at or before
    ``ts`` (Delta's TIMESTAMP AS OF semantics). ``ts`` is epoch seconds
    (int/float), a ``datetime``, or an ISO-8601 string (naive = UTC).
    Commit times are recorded in manifests at publish; copy-published
    v-dir versions carry none and are skipped — a table older than its
    first manifest commit raises instead of guessing."""
    import datetime

    backend = backend or _backend_for(table_dir)
    if isinstance(ts, str):
        dt = datetime.datetime.fromisoformat(ts)
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=datetime.timezone.utc)
        ts = dt.timestamp()
    elif isinstance(ts, datetime.datetime):
        if ts.tzinfo is None:
            ts = ts.replace(tzinfo=datetime.timezone.utc)
        ts = ts.timestamp()
    _, is_committed = _committed(table_dir, backend)
    best = None
    for v in _manifest_versions(table_dir, backend):
        if not is_committed(v):
            continue
        cts = _manifest_body(table_dir, v, backend).get("ts")
        if cts is not None and cts <= ts and (best is None or v > best):
            best = v
    if best is None:
        raise FileNotFoundError(
            f"no commit in {table_dir} at or before timestamp {ts} "
            "(copy-published versions carry no commit time)"
        )
    return best


def history(table_dir: str, backend=None) -> list[dict]:
    """DESCRIBE HISTORY: one dict per retained version, ascending —
    version, commit timestamp (None for copy-published snapshots),
    publication form, data-file count, and whether the snapshot
    carries a column mapping / deletion vectors. Metadata-sized: one
    manifest GET per retained version, no data I/O."""
    backend = backend or _backend_for(table_dir)
    manifest_vs = set(_manifest_versions(table_dir, backend))
    out = []
    for v in versions(table_dir, backend):
        if v in manifest_vs:
            body = _manifest_body(table_dir, v, backend)
            out.append(
                {
                    "version": v,
                    "ts": body.get("ts"),
                    "form": "manifest",
                    "n_files": sum(
                        1 for f in body["files"] if f.endswith(".parquet")
                    ),
                    "column_mapping": bool(body.get("columns")),
                    "deletion_vectors": bool(body.get("dv")),
                }
            )
        else:
            out.append(
                {
                    "version": v,
                    "ts": None,
                    "form": "copy",
                    # one v-dir LIST — not data_file_count, which
                    # re-reads the pointer and ledger per version
                    "n_files": sum(
                        1
                        for n in backend.list_names(
                            f"{table_dir.rstrip('/')}/v{v:05d}"
                        )
                        if n.endswith(".parquet")
                    ),
                    "column_mapping": False,
                    "deletion_vectors": False,
                }
            )
    return out


def _mapping_commit(spark, table_dir, backend, mutate) -> int:
    """Shared choreography of the metadata-only schema commits (RENAME /
    DROP): derive the head's mapping (identity from the physical file
    schema when none exists yet), apply ``mutate``, publish a new
    manifest naming the SAME files and stats under the new mapping —
    one conditional PUT, zero data movement, ordinary claim protocol
    with a base-version conflict check. The recorded physical schema
    carries over, plus each added column's physical name as a nullable
    field of its declared type."""
    from pyspark.sql.types import _parse_datatype_string

    backend = backend or _backend_for(table_dir, spark)
    td = table_dir.rstrip("/")
    base, body, _ = _manifest_head(table_dir, backend, "column mapping")
    schema = _manifest_schema(body)
    cols = body.get("columns")
    if cols is None:
        first = next(
            (rel for rel in body["files"] if rel.endswith(".parquet")), None
        )
        if first is None:
            raise FileNotFoundError(f"manifest v{base} names no files in {table_dir}")
        if schema is not None:
            names = schema.fieldNames()
        else:
            names = spark.read.parquet(f"{td}/{first}").columns
        cols = [
            {"id": i + 1, "name": n, "physical": n} for i, n in enumerate(names)
        ]
    new_cols = mutate([dict(c) for c in cols])
    if schema is not None:
        for c in new_cols:
            if "type" in c and c["physical"] not in schema.fieldNames():
                schema.add(c["physical"], _as_nullable(_parse_datatype_string(c["type"])), True)
    # the clustered mark is keyed by LOGICAL names: translate it
    # through the mutation by stable field id so a rename of a
    # clustering column keeps the mark valid (the physical z-layout is
    # untouched — invalidating would make the next cluster_version
    # pass rewrite the whole table). A DROPPED clustering column
    # invalidates the mark (correct: the clustering key is gone), and
    # a drop/re-add of the same name gets a fresh id, so a stale mark
    # can never falsely match it.
    clustered = body.get("clustered")
    if clustered:
        old_by_name = {c["name"]: c["id"] for c in cols}
        new_by_id = {c["id"]: c["name"] for c in new_cols}
        try:
            clustered = {
                "cols": [new_by_id[old_by_name[n]] for n in clustered["cols"]],
                "files": clustered["files"],
            }
        except KeyError:
            clustered = None
    return _commit(
        table_dir, backend, base, uuid.uuid4().hex[:12],
        manifest_files=body["files"],
        stats=body.get("stats", {}),
        columns=new_cols,
        # the head's deletion vectors MUST carry: dropping them here
        # would silently resurrect dv-deleted rows on a metadata-only
        # schema commit
        dv=body.get("dv"),
        dv_rows=body.get("dv_rows"),
        clustered=clustered,
        schema=schema.json() if schema is not None else None,
    )


def rename_column(
    spark: SparkSession, table_dir: str, old: str, new: str, backend=None
) -> int:
    """ALTER TABLE ... RENAME COLUMN as a METADATA-ONLY commit (the
    Delta/Iceberg column-mapping move, VERDICT r8 item 3): the new
    manifest carries the same data files by reference with the field's
    stable id re-mapped to the new logical name; physical file columns
    never change, so every pre-rename file — and every pre-rename
    SNAPSHOT via time travel — keeps reading correctly, each version
    under its own mapping. Returns the new version."""

    def mutate(cols):
        names = {c["name"] for c in cols}
        if old not in names:
            raise ValueError(f"column {old!r} does not exist (have {sorted(names)})")
        if new in names:
            raise ValueError(f"column {new!r} already exists")
        for c in cols:
            if c["name"] == old:
                c["name"] = new
        return cols

    return _mapping_commit(spark, table_dir, backend, mutate)


def drop_column(
    spark: SparkSession, table_dir: str, name: str, backend=None
) -> int:
    """ALTER TABLE ... DROP COLUMN as a METADATA-ONLY commit: the
    column's mapping entry is removed, so readers of the new version
    prune it at projection time while the bytes stay in place — old
    versions (whose manifests still map the field) time-travel
    unchanged, and a later CoW rewrite of a file physically sheds the
    dropped column for the rewritten rows only. Returns the new
    version."""

    def mutate(cols):
        keep = [c for c in cols if c["name"] != name]
        if len(keep) == len(cols):
            raise ValueError(
                f"column {name!r} does not exist (have {sorted(c['name'] for c in cols)})"
            )
        if not keep:
            raise ValueError("cannot drop the last column")
        return keep

    return _mapping_commit(spark, table_dir, backend, mutate)


def add_column(
    spark: SparkSession, table_dir: str, name: str, dtype: str, backend=None
) -> int:
    """ALTER TABLE ... ADD COLUMN as a METADATA-ONLY commit (closes the
    gap the r9 verdict ranked #1: vt13 covered RENAME/DROP, ADD still
    forced a rewrite): the new manifest appends a mapping entry with a
    fresh stable field id, a globally-unique PHYSICAL name, and the
    declared ``dtype`` (Spark DDL string) — zero data movement. Readers
    NULL-backfill the column for every pre-add file at projection time
    (JVM reader via _read_physical/_to_logical, pyds via per-file
    null-array append), and time travel to a pre-add version reads
    under that version's own mapping, without the column.

    The physical name carries a random suffix so it can never collide
    with the stale bytes of a previously-DROPPED column of the same
    name still present in old files (drop is metadata-only too — the
    Delta/Iceberg reason physical names are synthetic under column
    mapping). Field ids are made monotone past every id ever visible
    in the head mapping; uniqueness of the (id, physical) pair is what
    RENAME/DROP/time-travel compose against. Composes with deletion
    vectors (the mapping commit carries the head's dv map + dv_rows)
    and with MERGE/DELETE CoW, whose rewrites materialize the column
    physically for rewritten rows only."""
    from pyspark.sql.types import _parse_datatype_string

    _parse_datatype_string(dtype)  # fail fast on an invalid DDL type
    # cross-reader parity gate: the Python DataSource plans schemas in
    # JVM-free worker processes through its own DDL parser — admitting
    # a type only the JVM reader understands (struct/map/char) would
    # brick EVERY pyds read and feed of the table at construction
    # time, not just this column. Reject at ADD time instead.
    from .pyds import _ddl_to_arrow

    try:
        _ddl_to_arrow(dtype)
    except Exception as exc:
        raise ValueError(
            f"ADD COLUMN type {dtype!r} is not representable by the "
            "Python DataSource reader (JVM-free DDL parser) — adding "
            "it would make the whole table unreadable through "
            "format('fp_versioned'); use a primitive/decimal/array "
            "type or rewrite the table with the new schema instead"
        ) from exc

    def mutate(cols):
        names = {c["name"] for c in cols}
        if name in names:
            raise ValueError(f"column {name!r} already exists")
        next_id = max(c["id"] for c in cols) + 1
        return cols + [
            {
                "id": next_id,
                "name": name,
                "physical": f"{name}_{uuid.uuid4().hex[:8]}",
                "type": dtype,
            }
        ]

    return _mapping_commit(spark, table_dir, backend, mutate)


def change_feed(
    spark: SparkSession,
    table_dir: str,
    from_version: int,
    to_version: int,
    keys: list[str],
    backend=None,
    full_scan: bool = False,
    preimages: bool = False,
) -> DataFrame:
    """Change-data-feed between two retained snapshots: one row per key
    whose payload changed, tagged ``_change_type`` in
    {'insert','update_postimage','delete'} (the Delta CDF vocabulary).
    Non-key columns carry the post-image for inserts/updates and the
    pre-image for deletes. ``preimages=True`` completes the
    vocabulary: every update emits an 'update_preimage' row (old
    payload) alongside its postimage — same plan shape, one inline
    explode, no extra join.

    Implemented as a single full-outer equi-join on the keys with a
    null-safe struct comparison over the payload — one shuffle, no
    driver materialization, so diffing two 100 TB snapshots is an
    ordinary co-partitioned join (and shuffle-free entirely if the
    snapshots are bucketed on the keys).

    PRECONDITION: ``keys`` must be unique within each snapshot — the
    contract every MERGE path enforces on its inputs, but one a plain
    ``write_version`` of a non-unique frame can violate. CDF over
    duplicate keys is ill-defined in BOTH modes (the full-outer join
    pairs every old/new duplicate combinatorially), and the pruned
    mode additionally misses duplicates split across changed and
    carried files — do not point this at non-keyed tables.

    FILE-GRANULAR pruning (r9 verdict item 7): when both versions are
    manifest-published, the manifests are diffed FIRST and only files
    that actually changed between the two versions are scanned — files
    carried by reference with an unchanged dv entry hold bit-identical
    rows in both snapshots, and under the key-uniqueness precondition
    above such a row's key cannot appear on either changed side,
    so it can never reach the feed. Between adjacent CoW/DV commits
    that touch k of N files this reads O(k) files instead of O(2N) —
    at 100 TB the difference between a CDF poll and a table scan.
    ``full_scan=True`` forces the snapshot-diff fallback (also used
    when either version is copy-published); vt18 hash-certifies the
    two paths equal."""
    backend = backend or _backend_for(table_dir, spark)
    td = table_dir.rstrip("/")
    snap_o = resolve_snapshot(table_dir, from_version, backend)
    snap_n = resolve_snapshot(table_dir, to_version, backend)
    body_o, body_n = snap_o.body, snap_n.body
    if not full_scan and body_o is not None and body_n is not None:
        dv_o, dv_n = body_o.get("dv") or {}, body_n.get("dv") or {}
        fo, fn = set(body_o["files"]), set(body_n["files"])
        changed = (fo ^ fn) | {
            rel for rel in (fo & fn) if dv_o.get(rel) != dv_n.get(rel)
        }

        def _side(body, rels_all):
            rels = sorted(rels_all & changed)
            cols = body.get("columns")
            if not rels:
                # no changed files on this side: an EMPTY frame with
                # the side's logical schema. ONE sample file suffices
                # (the recorded schema, or the mapping's NULL-backfill
                # on older manifests, covers added columns a single
                # file may lack) — planning over all N files would
                # re-introduce the O(N) footer-listing this pruning
                # exists to avoid; filter-false then prunes the scan
                # itself to nothing at runtime.
                sample = sorted(rels_all)[:1] or sorted(fo | fn)[:1]
                full = _read_physical(spark, td, sample, body)
                return _to_logical(full, cols).filter(F.lit(False))
            live = _live_tagged(spark, td, rels, body).drop("__file", "__pos")
            return _to_logical(live, cols)

        old = _side(body_o, fo)
        new = _side(body_n, fn)
    else:
        old = _read_snapshot(spark, td, snap_o)
        new = _read_snapshot(spark, td, snap_n)
    non_keys = [c for c in new.columns if c not in keys]
    if not non_keys:
        raise ValueError("change_feed requires at least one non-key column")
    o = old.select(*keys, F.struct(*non_keys).alias("_old"))
    n = new.select(*keys, F.struct(*non_keys).alias("_new"))
    j = o.join(n, keys, "full_outer").filter(~F.col("_old").eqNullSafe(F.col("_new")))
    if not preimages:
        img = F.coalesce("_new", "_old")
        return j.select(
            *keys,
            F.when(F.col("_old").isNull(), F.lit("insert"))
            .when(F.col("_new").isNull(), F.lit("delete"))
            .otherwise(F.lit("update_postimage"))
            .alias("_change_type"),
            *[img.getField(c).alias(c) for c in non_keys],
        )
    # full Delta CDF vocabulary: updates emit a pre/post PAIR — one
    # inline explode over a 1-or-2 element literal array, no extra
    # join or shuffle versus the postimage-only form
    pair = F.array(
        F.struct(F.lit("update_preimage").alias("_ct"), F.col("_old").alias("_img")),
        F.struct(F.lit("update_postimage").alias("_ct"), F.col("_new").alias("_img")),
    )
    single = F.array(
        F.struct(
            F.when(F.col("_old").isNull(), F.lit("insert"))
            .otherwise(F.lit("delete"))
            .alias("_ct"),
            F.coalesce("_new", "_old").alias("_img"),
        )
    )
    both = F.when(
        F.col("_old").isNotNull() & F.col("_new").isNotNull(), pair
    ).otherwise(single)
    return j.select(*keys, F.explode(both).alias("_e")).select(
        *keys,
        F.col("_e._ct").alias("_change_type"),
        *[F.col(f"_e._img.{c}").alias(c) for c in non_keys],
    )


_Z_BITS = 8  # per-dimension bucket resolution (256 range buckets)


def _zorder_value(df: DataFrame, cols: list[str]) -> DataFrame:
    """Append a ``__z`` Morton (bit-interleaved) clustering value over
    ``cols`` — the ordering key behind OPTIMIZE ZORDER BY / liquid
    clustering. Each column is range-bucketed to ``_Z_BITS`` bits
    against the column's observed min/max (ONE 1-row bounds collect —
    metadata-sized, and it lets string bounds shape the expressions),
    then bucket bits interleave round-robin so every clustering column
    gets equal weight in the file order: sorting by ``__z`` puts each
    output file on a narrow hyper-rectangle of the clustering space,
    which is what makes the manifest's per-file min/max stats prune on
    ANY clustered column, not just the first sort key.

    Column types: integral, date, timestamp (bucketed on their epoch
    scalar, in clamped double precision so bigint spans past 2^55
    cannot overflow — doubles only blur bucket edges, and layout is an
    optimization), or STRING. Strings rank by the first 7 BYTES of
    their UTF-8 form AFTER stripping the longest common prefix of the
    observed min/max (tenant-style keys share long literal prefixes —
    without the strip every value would land in one bucket); keys
    still identical past lcp+7 bytes share a bucket, degrading
    clustering quality for that cluster only, never correctness.
    NULLs bucket to 0 (lowest cell). Other types raise."""
    if not cols:
        raise ValueError("cluster_by requires at least one column")
    if len(cols) > 7:
        # 8 bits x 8 columns would need the sign bit of the long z;
        # past ~4 columns the curve's locality is weak anyway
        raise ValueError(f"cluster_by supports at most 7 columns, got {len(cols)}")
    dtypes = dict(df.dtypes)
    nums: list = []  # numeric Column per col, or the string marker
    for c in cols:
        t = dtypes.get(c)
        if t is None:
            raise ValueError(f"cluster_by column {c!r} not in {sorted(dtypes)}")
        if t == "date":
            nums.append(F.datediff(F.col(c), F.lit("1970-01-01").cast("date")))
        elif t.startswith("timestamp"):
            nums.append(F.col(c).cast("timestamp").cast("long"))
        elif t in ("tinyint", "smallint", "int", "bigint"):
            nums.append(F.col(c).cast("long"))
        elif t == "string":
            nums.append(None)  # marker: rank expr built after bounds
        else:
            raise ValueError(
                f"cluster_by column {c!r} has type {t}; integral/date/"
                "timestamp/string only"
            )
    # one tiny job: observed bounds per column (strings bound raw, so
    # the lcp strip below can be computed driver-side)
    aggs = []
    for i, (c, n) in enumerate(zip(cols, nums)):
        src = F.col(c) if n is None else n
        aggs += [F.min(src).alias(f"lo{i}"), F.max(src).alias(f"hi{i}")]
    brow = df.agg(*aggs).head()  # 1-row scalar

    def _srank(b: bytes) -> int:
        return int.from_bytes(b[:7].ljust(7, b"\0"), "big")

    cells = 2**_Z_BITS
    z = F.lit(0).cast("long")
    k = len(cols)
    for i, (c, n) in enumerate(zip(cols, nums)):
        lo, hi = brow[f"lo{i}"], brow[f"hi{i}"]
        if n is None:  # string column
            blo = (lo or "").encode("utf-8")
            bhi = (hi or "").encode("utf-8")
            lcp = 0
            while lcp < min(len(blo), len(bhi)) and blo[lcp] == bhi[lcp]:
                lcp += 1
            expr = F.conv(
                F.hex(
                    F.rpad(
                        F.substring(
                            F.encode(F.coalesce(F.col(c), F.lit("")), "UTF-8"),
                            lcp + 1,
                            7,
                        ),
                        7,
                        bytes([0]),
                    )
                ),
                16,
                10,
            ).cast("long")
            lo, hi = _srank(blo[lcp:]), _srank(bhi[lcp:])
        else:
            expr = n
        if lo is None or hi is None:
            bucket = F.lit(0)  # all-null column: one cell
        else:
            # clamped double-precision fraction with LITERAL bounds:
            # no crossJoin, no long-overflow for wide spans
            frac = (expr.cast("double") - float(lo)) * float(cells) / (
                float(hi) - float(lo) + 1.0
            )
            bucket = F.coalesce(
                F.greatest(
                    F.lit(0), F.least(F.lit(cells - 1), F.floor(frac).cast("int"))
                ),
                F.lit(0),
            )
        for b in range(_Z_BITS):
            z = z + F.shiftleft(
                F.shiftright(bucket, b).bitwiseAND(F.lit(1)).cast("long"),
                b * k + i,
            )
    return df.withColumn("__z", z)


def compact_version(
    spark: SparkSession,
    table_dir: str,
    target_files: int,
    backend=None,
    manifest: bool = False,
    cluster_by: list[str] | None = None,
) -> int:
    """OPTIMIZE (bin-packing compaction) as a new snapshot: rewrite the
    head version's data into ``target_files`` files — same rows, fewer
    objects — published through the ordinary claim-protocol commit with
    a ``base_version`` read-set check, so a concurrent writer landing
    mid-compaction fails THIS compaction loudly instead of having its
    rows silently rewritten away (Delta's OPTIMIZE conflict rule).

    ``coalesce`` (narrow, no shuffle) does the bin-packing. The old
    fragmented snapshot stays readable until vacuumed — compaction is
    a layout change, never a data change, which the vt08 certificate
    checks by value.

    ``cluster_by`` turns the compaction into OPTIMIZE ... ZORDER BY
    (Delta's clustered OPTIMIZE / liquid clustering): rows are ordered
    by the Morton interleave of the named columns' range buckets
    (``_zorder_value``) via ONE ``repartitionByRange`` shuffle +
    within-partition sort, so each output file covers a narrow
    hyper-rectangle of the clustering space and the manifest's
    per-file min/max stats prune predicates on EVERY clustered column
    (a linear sort prunes only its leading key). Same value identity,
    same conflict semantics; the dv map is applied physically and
    cleared exactly as in the plain path. vt19 certifies layout
    quality (file-overlap bounds under single-column predicates,
    scrambled vs clustered) and value identity through a dv."""
    backend = backend or _backend_for(table_dir, spark)
    base = latest_version(table_dir, backend)
    if base is None:
        raise FileNotFoundError(f"no committed version to compact in {table_dir}")
    prev = read_table(spark, table_dir, base, backend=backend)
    if cluster_by:
        out = (
            _zorder_value(prev, list(cluster_by))
            .repartitionByRange(max(1, target_files), "__z")
            .sortWithinPartitions("__z")
            .drop("__z")
        )
    else:
        out = prev.coalesce(max(1, target_files))
    return write_version(
        out, table_dir, backend, base_version=base, manifest=manifest,
        clustered_cols=list(cluster_by) if cluster_by else None,
    )


def cluster_version(
    spark: SparkSession,
    table_dir: str,
    target_files: int,
    cluster_by: list[str],
    backend=None,
) -> int:
    """INCREMENTAL clustering (Delta liquid-clustering / incremental
    OPTIMIZE shape): rewrite ONLY the files not already z-clustered
    under ``cluster_by`` — new ingest since the last pass — and carry
    every already-clustered file by reference. Nightly maintenance on
    a 100 TB table touches the day's files, not the lake: the cost is
    proportional to NEW data, which is what makes clustering
    sustainable at scale (a full ``compact_version(cluster_by=...)``
    re-cluster is the once-ever bootstrap, this is the steady state).

    Bookkeeping rides the manifest's ``clustered`` field
    ({"cols", "files"}): cluster_version and clustered compaction set
    it; CoW MERGE/DELETE carry it for untouched files (rewritten files
    lose the mark and get re-clustered next pass); dv deletes and
    metadata commits carry it verbatim (a dv only masks rows — the
    z-layout is intact); plain rewrites drop it. Dropping the mark is
    always SAFE — the next pass just re-clusters more files.

    Tradeoff vs a full re-cluster: each pass buckets against its OWN
    batch's value bounds, so different passes use different grids and
    global z-order is only approximate — exactly liquid clustering's
    contract. File-skipping is unaffected (per-file min/max stats are
    real values, not buckets); only clustering QUALITY converges
    incrementally. ``target_files`` sizes this pass's rewrite, not the
    table. Deletion vectors on rewritten files are applied physically
    (and their entries dropped); carried files keep theirs. Returns
    the new version, or the head when nothing is pending."""
    backend = backend or _backend_for(table_dir, spark)
    td = table_dir.rstrip("/")
    base, body, _ = _manifest_head(table_dir, backend, "cluster_version")
    cmeta = body.get("clustered")
    done = (
        set(cmeta.get("files", ()))
        if cmeta and list(cmeta.get("cols", ())) == list(cluster_by)
        else set()
    )
    pending = [rel for rel in body["files"] if rel not in done]
    if not pending:
        return base
    return _rewrite_files(
        spark, td, backend, base, body, pending,
        lambda rows: _zorder_value(rows, list(cluster_by))
        .repartitionByRange(max(1, target_files), "__z")
        .sortWithinPartitions("__z")
        .drop("__z"),
        cluster_by=cluster_by,
    )


def data_file_count(table_dir: str, version: int, backend=None) -> int:
    """Number of data objects in a snapshot (metadata-sized LIST for a
    copy-published version, one manifest GET for a log-published one)."""
    return len(resolve_snapshot(table_dir, version, backend).rels)


def vacuum(table_dir: str, keep_last: int = 2, backend=None) -> list[int]:
    """Drop all but the newest ``keep_last`` committed snapshots (plus
    any orphan newer-than-committed directory from a failed write).
    Returns the versions removed. A newer-than-pointer version recorded
    in the streaming ledger is NOT an orphan (the ledger is that path's
    commit point; its pointer swap was lost to a crash) — fsck rolls it
    forward instead."""
    backend = backend or _backend_for(table_dir)
    td = table_dir.rstrip("/")
    committed = latest_version(table_dir, backend)
    if committed is None:
        return []
    ledgered = _ledger_versions(table_dir, backend)
    now = time.time()
    live_slots = set()
    for name in backend.list_names(table_dir):
        m = _CLAIM.match(name)
        if m:
            age = _lease_age_sec(backend.read_text(f"{td}/{name}"), now)
            if age is not None and age <= _LEASE_TTL_SEC:
                live_slots.add(int(m.group(1)))
    removed = []
    for v in versions(table_dir, backend):
        # a live claim shields its slot: the writer may be between its
        # manifest/v-dir publish and its pointer swap — GC'ing there
        # would leave a committed head pointing at deleted objects
        orphan = v > committed and v not in ledgered and v not in live_slots
        expired = v <= committed - keep_last
        if orphan or expired:
            removed.append(v)
    _remove_snapshots(table_dir, removed, backend)
    return removed


def fsck(
    table_dir: str, backend=None, claim_ttl_sec: float = _LEASE_TTL_SEC
) -> dict:
    """Consistency repair for a versioned table — SAFE to run against
    live writers (the janitor counterpart of the claim protocol; a
    crashed writer can leave a stale claim that blocks every later
    commit, an orphan snapshot dir, or an abandoned staging dir).

    Liveness is decided by the LEASE inside each claim/staging marker
    (writer id + heartbeat timestamp, heartbeated at TTL/4 during long
    operations): a marker whose lease is younger than ``claim_ttl_sec``
    belongs to a live writer and is left untouched (reported under
    ``claims_live`` / ``staging_live``); a lease past the TTL — or
    absent, i.e. a writer that died between marker create and lease
    write — is a crash leftover and is reclaimed. A live claim also
    shields its slot's v-dir from orphan GC (the writer may be mid-
    publish into it). Should a repair decision still race a writer
    (e.g. a paused-then-resumed process past its TTL), the pointer
    CAS on conditional-PUT backends turns the lost-update into a loud
    ConcurrentWriteError on the slower side.

    Repairs, in order:
    1. **stale claims**: ``_claim_v*`` markers past the lease TTL are
       deleted; live ones kept;
    2. **roll forward**: versions present in the streaming ``_COMMITS``
       ledger with their snapshot dir on disk but above the pointer
       (crash between ledger write and pointer swap) are committed —
       one slot at a time, each swap performed UNDER the claim marker
       for the slot being advanced into (the _claim_slot discipline),
       so the repair can never regress a pointer that live writers
       advanced past the target mid-repair, even on backends whose
       pointer write is a blind atomic swap (no CAS); a live claim on
       the next slot defers the roll-forward to that writer;
    3. **orphan GC**: snapshot dirs above the (repaired) pointer that
       are NOT ledger'd and NOT shielded by a live claim are partial/
       unacknowledged writes — deleted, so they can never surface as
       committed versions once the pointer passes their number;
    4. **staging sweep**: ``_staging_*`` / ``_stream_staging_*`` dirs
       whose ``_lease`` is past the TTL (or absent) are deleted;
    5. **data-prefix GC** (manifest commits): ``_data/{writer}/``
       prefixes referenced by NO manifest and carrying no live lease
       are a manifest writer's crash leftovers — deleted;
    6. **temp-file sweep**: content-atomic create leftovers
       (``._claim_*`` / ``._latest_*`` / ``*.claimtmp.*``) past the
       lease TTL (or lease-less) are deleted.

    Returns a report dict: ``{"pointer_before", "pointer_after",
    "rolled_forward", "orphans_removed", "claims_removed",
    "claims_live", "staging_removed", "staging_live", "data_removed",
    "data_live"}``."""
    backend = backend or _backend_for(table_dir)
    td = table_dir.rstrip("/")
    now = time.time()

    def _live(marker_path: str) -> bool:
        age = _lease_age_sec(backend.read_text(marker_path), now)
        return age is not None and age <= claim_ttl_sec

    ptr_before = latest_version(table_dir, backend) or 0
    ledgered = _ledger_versions(table_dir, backend)
    present = sorted(
        set(_version_dirs(table_dir, backend))
        | set(_manifest_versions(table_dir, backend))
    )
    claims, claims_live, live_slots = [], [], set()
    live_wids: set[str] = set()  # live claims name their writer id —
    # the SAME id that names the writer's _staging_/_data prefixes, so
    # the sweeps below can protect a live writer's directories even
    # when their own lease is stale or was already relocated by the
    # publish (the r8 review's mid-move staging race)
    for name in backend.list_names(table_dir):
        m = _CLAIM.match(name)
        if not m:
            continue
        lease_txt = backend.read_text(f"{td}/{name}")
        if _lease_age_sec(lease_txt, now) is not None and _lease_age_sec(
            lease_txt, now
        ) <= claim_ttl_sec:
            claims_live.append(name)
            live_slots.add(int(m.group(1)))
            live_wids.add(lease_txt.strip().split(" ", 1)[0])
        else:
            backend.delete_file(f"{td}/{name}")
            claims.append(name)
    # Roll forward one slot at a time, each swap performed UNDER the
    # claim marker for the slot being advanced into — the exact
    # discipline _claim_slot uses. Holding claim v pins the pointer (no
    # writer can advance to v without that claim, and none can pass v
    # without first advancing to it), so even on backends whose
    # _swap_pointer is a blind atomic write (LocalFs/HadoopFs, no
    # write_text_cas) fsck can never regress a pointer a live writer
    # advanced past the roll-forward target mid-repair — the race the
    # r8 review flagged, whose downstream was the next claimer GC'ing a
    # newer committed-but-unledgered snapshot as an orphan.
    rolled = []
    fsck_id = "fsck-" + uuid.uuid4().hex[:8]
    present_set = set(present)
    while True:
        cur = latest_version(table_dir, backend) or 0
        nxt = cur + 1
        if nxt not in ledgered or nxt not in present_set:
            break
        if not backend.create_exclusive(
            f"{td}/_claim_v{nxt:05d}", _lease_line(fsck_id)
        ):
            # a live writer holds the next slot: its own _claim_slot
            # performs this same roll-forward (or commits past it)
            break
        try:
            if (latest_version(table_dir, backend) or 0) != cur:
                continue  # a writer advanced between our read and claim
            try:
                _swap_pointer(backend, td, nxt, cur)
            except ConcurrentWriteError:
                break  # CAS backend saw movement — defer to the writer
            rolled.append(nxt)
        finally:
            backend.delete_file(f"{td}/_claim_v{nxt:05d}")
    ptr = max(ptr_before, latest_version(table_dir, backend) or 0)
    orphans = [
        v for v in present if v > ptr and v not in ledgered and v not in live_slots
    ]
    _remove_snapshots(table_dir, orphans, backend)
    staging, staging_live = [], []
    for name in backend.list_names(table_dir):
        if not _STAGING.match(name):
            continue
        owner = name.split("_staging_", 1)[-1]
        if _live(f"{td}/{name}/_lease") or owner in live_wids:
            staging_live.append(name)
        else:
            backend.rmtree(f"{td}/{name}")
            staging.append(name)
    # 6. temp-file sweep: crash leftovers of the content-atomic create
    # paths (mkstemp '._claim_*'/'._latest_*' on LocalFs and pyds,
    # '*.claimtmp.*' on HadoopFs) match none of the marker regexes and
    # would otherwise accumulate forever. Claim temps carry a lease —
    # reclaimed past the TTL like any marker. A LEASE-LESS temp is NOT
    # necessarily a crash leftover: manifest-create temps carry
    # manifest JSON and pointer temps a bare version string (neither
    # parses as a lease), and a HEALTHY in-flight commit's temp lives
    # exactly the manifest-JSON-write window — deleting it mid-publish
    # aborts that commit (loudly, but nothing retries the publish). So
    # lease-less temps age by file MTIME instead, reclaimed only past
    # the same TTL; a backend that cannot stat returns None and the
    # temp is treated as expired (the pre-mtime behavior, and such
    # backends — conditional-PUT stores — create no temps of their
    # own).
    tmp_removed = []
    for name in backend.list_names(table_dir):
        if not (
            name.startswith("._claim_")
            or name.startswith("._latest_")
            or ".claimtmp." in name
        ):
            continue
        txt = backend.read_text(f"{td}/{name}")
        # only the two-token '<writer> <epoch>' shape is a lease: a
        # pointer temp's bare version string would otherwise PARSE as
        # an ancient epoch and be reaped mid-commit
        age = _lease_age_sec(txt, now) if txt and " " in txt.strip() else None
        if age is None:
            mt = getattr(backend, "mtime", lambda _p: None)(f"{td}/{name}")
            age = (now - mt) if mt is not None else float("inf")
        if age > claim_ttl_sec:
            backend.delete_file(f"{td}/{name}")
            tmp_removed.append(name)
    data_removed, data_live = [], []
    ref_prefixes = set()
    for mv in _manifest_versions(table_dir, backend):
        for rel in _manifest_all_rels(_manifest_body(table_dir, mv, backend)):
            parts = rel.split("/")
            if len(parts) >= 2 and parts[0] == _DATA_PREFIX:
                ref_prefixes.add(parts[1])
    for wid in backend.list_names(f"{td}/{_DATA_PREFIX}"):
        if wid in ref_prefixes:
            continue
        if _live(f"{td}/{_DATA_PREFIX}/{wid}/_lease") or wid in live_wids:
            data_live.append(wid)
        else:
            backend.rmtree(f"{td}/{_DATA_PREFIX}/{wid}")
            data_removed.append(wid)
    return {
        "pointer_before": ptr_before,
        "pointer_after": ptr,
        "rolled_forward": rolled,
        "orphans_removed": orphans,
        "claims_removed": claims,
        "claims_live": claims_live,
        "staging_removed": staging,
        "staging_live": staging_live,
        "data_removed": data_removed,
        "data_live": data_live,
        "tmp_removed": tmp_removed,
    }
