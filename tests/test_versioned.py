"""Versioned-table semantics: snapshot isolation, time travel, commit
atomicity (pointer is the commit point), vacuum retention."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from fp_data_lakehouse_spark.sources.versioned import (
    latest_version,
    read_table,
    vacuum,
    versions,
    write_version,
)


# Every contract test runs against all THREE in-repo backends: the
# plain path resolves to LocalFsBackend (os/shutil), the file:// form
# to HadoopFsBackend (JVM Hadoop FileSystem), and the "condput" param
# routes through ConditionalPutBackend (conditional-PUT object-store
# primitives only: no atomic rename, per-object copy+delete moves) —
# proving the backend seam swaps without touching any call site and
# that the claim protocol never relies on rename atomicity
# (VERDICT round-4 item 6; round-6 item 3).
@pytest.fixture(params=["local", "hadoopfs", "condput"])
def tdir(request):
    d = tempfile.mkdtemp(prefix="vtable_")
    if request.param == "condput":
        from fp_data_lakehouse_spark.sources.versioned import (
            ConditionalPutBackend,
            register_backend,
            unregister_backend,
        )

        register_backend(f"{d}/t", ConditionalPutBackend())
        yield f"{d}/t"
        unregister_backend(f"{d}/t")
    else:
        yield f"{d}/t" if request.param == "local" else f"file://{d}/t"
    shutil.rmtree(d, ignore_errors=True)


def _df(spark, n):
    return spark.range(n).selectExpr("id", "id * 2 AS v")


def test_write_read_time_travel(spark, tdir):
    assert write_version(_df(spark, 3), tdir) == 1
    assert write_version(_df(spark, 5), tdir) == 2
    assert write_version(_df(spark, 7), tdir) == 3

    assert read_table(spark, tdir).count() == 7  # latest
    assert read_table(spark, tdir, version=1).count() == 3  # time travel
    assert read_table(spark, tdir, version=2).count() == 5
    assert versions(tdir) == [1, 2, 3]
    assert latest_version(tdir) == 3


def test_uncommitted_version_is_invisible(spark, tdir):
    """A fully-written snapshot directory without the pointer swap must
    not be readable as latest — the pointer is the commit."""
    write_version(_df(spark, 3), tdir)
    # simulate a crash after data write, before commit: write v2 dir by hand
    _df(spark, 9).write.parquet(os.path.join(tdir, "v00002"))
    assert latest_version(tdir) == 1
    assert read_table(spark, tdir).count() == 3
    with pytest.raises(FileNotFoundError):
        read_table(spark, tdir, version=2)
    # the next real write supersedes the orphan... which vacuum removes
    removed = vacuum(tdir, keep_last=5)
    assert removed == [2]
    assert write_version(_df(spark, 4), tdir) == 2
    assert read_table(spark, tdir).count() == 4


def test_vacuum_retention(spark, tdir):
    for n in (1, 2, 3, 4):
        write_version(_df(spark, n), tdir)
    removed = vacuum(tdir, keep_last=2)
    assert removed == [1, 2]
    assert versions(tdir) == [3, 4]
    assert read_table(spark, tdir, version=3).count() == 3
    with pytest.raises(FileNotFoundError):
        read_table(spark, tdir, version=1)


# ---------------------------------------------------------------------------
# MERGE / DELETE / change feed on the snapshot layout (Delta-shaped ops)
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

from fp_data_lakehouse_spark.sources.versioned import (  # noqa: E402
    change_feed,
    delete_from_version,
    merge_into_version,
)


def _kv(spark, pairs):
    return spark.createDataFrame([(k, v) for k, v in pairs], "id BIGINT, v BIGINT")


def test_merge_into_version_upsert_semantics(spark, tdir):
    from pyspark.sql import functions as F

    assert merge_into_version(spark, tdir, _kv(spark, [(1, 10), (2, 20)]), ["id"]) == 1
    # matched -> update, not matched -> insert; untouched row survives
    assert merge_into_version(spark, tdir, _kv(spark, [(2, 99), (3, 30)]), ["id"]) == 2
    got = {(r.id, r.v) for r in read_table(spark, tdir).collect()}
    assert got == {(1, 10), (2, 99), (3, 30)}
    # previous snapshot untouched (failed/subsequent merges never mutate v1)
    v1 = {(r.id, r.v) for r in read_table(spark, tdir, version=1).collect()}
    assert v1 == {(1, 10), (2, 20)}
    # MERGE precondition: updates unique on keys
    with pytest.raises(ValueError, match="unique"):
        merge_into_version(spark, tdir, _kv(spark, [(5, 1), (5, 2)]), ["id"])
    # DELETE publishes a new snapshot, old ones still readable
    v3 = delete_from_version(spark, tdir, F.col("id") == 3)
    assert v3 == 3
    assert {(r.id, r.v) for r in read_table(spark, tdir).collect()} == {(1, 10), (2, 99)}


def test_change_feed_classification(spark, tdir):
    merge_into_version(spark, tdir, _kv(spark, [(1, 10), (2, 20), (3, 30)]), ["id"])
    merge_into_version(spark, tdir, _kv(spark, [(2, 99), (4, 40)]), ["id"])
    feed = {
        (r.id, r._change_type, r.v)
        for r in change_feed(spark, tdir, 1, 2, ["id"]).collect()
    }
    # unchanged keys (1, 3) must NOT appear; update carries post-image
    assert feed == {(2, "update_postimage", 99), (4, "insert", 40)}
    from pyspark.sql import functions as F

    delete_from_version(spark, tdir, F.col("id") == 1)
    feed23 = {
        (r.id, r._change_type, r.v)
        for r in change_feed(spark, tdir, 2, 3, ["id"]).collect()
    }
    assert feed23 == {(1, "delete", 10)}  # delete carries pre-image
    # reverse-direction feed (v2 -> v1) classifies symmetrically
    rev = {
        (r.id, r._change_type, r.v)
        for r in change_feed(spark, tdir, 2, 1, ["id"]).collect()
    }
    assert rev == {(2, "update_postimage", 20), (4, "delete", 40)}


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    batches=st.lists(
        st.lists(
            st.tuples(st.integers(0, 6), st.integers(0, 100)), min_size=1, max_size=5
        ),
        min_size=1,
        max_size=4,
    )
)
def test_merge_batches_equal_full_rebuild(spark, batches):
    """N-batch incremental MERGE == one-shot load of the last-writer-wins
    state, for ANY batch split (VERDICT round-1 item 4)."""
    d = tempfile.mkdtemp(prefix="vmerge_")
    try:
        expected: dict[int, int] = {}
        for batch in batches:
            dedup = {k: v for k, v in batch}  # unique-on-key precondition
            expected.update(dedup)
            merge_into_version(spark, f"{d}/t", _kv(spark, dedup.items()), ["id"])
        got = {(r.id, r.v) for r in read_table(spark, f"{d}/t").collect()}
        assert got == set(expected.items())
        assert latest_version(f"{d}/t") == len(batches)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_merge_schema_evolution(spark, tdir):
    merge_into_version(spark, tdir, _kv(spark, [(1, 10), (2, 20)]), ["id"])
    evolved = spark.createDataFrame(
        [(2, 99, "b"), (3, 30, "c")], "id BIGINT, v BIGINT, tag STRING"
    )
    # without opt-in, a schema change fails loudly
    with pytest.raises(Exception):
        merge_into_version(spark, tdir, evolved, ["id"])
    assert latest_version(tdir) == 1  # failed merge left the table alone
    merge_into_version(spark, tdir, evolved, ["id"], merge_schema=True)
    got = {(r.id, r.v, r.tag) for r in read_table(spark, tdir).collect()}
    assert got == {(1, 10, None), (2, 99, "b"), (3, 30, "c")}
    # old snapshot still reads with its own (narrower) schema
    assert read_table(spark, tdir, version=1).columns == ["id", "v"]


def test_backend_resolution_and_pointer_roundtrip(spark):
    """The scheme decides the backend, and both backends' pointer
    commit + read round-trips byte-identically."""
    from fp_data_lakehouse_spark.sources.versioned import (
        HadoopFsBackend,
        LocalFsBackend,
        _backend_for,
    )

    assert isinstance(_backend_for("/tmp/x"), LocalFsBackend)
    assert isinstance(_backend_for("file:///tmp/x", spark), HadoopFsBackend)

    d = tempfile.mkdtemp(prefix="vbackend_")
    try:
        for backend, ptr in (
            (LocalFsBackend(), f"{d}/_LATEST_local"),
            (HadoopFsBackend(spark), f"file://{d}/_LATEST_hadoop"),
        ):
            assert backend.read_text(ptr) is None
            backend.write_text_atomic(ptr, "41")
            backend.write_text_atomic(ptr, "42")  # overwrite = re-commit
            assert backend.read_text(ptr) == "42"
    finally:
        shutil.rmtree(d, ignore_errors=True)


# ---------------------------------------------------------------------------
# round 6: optimistic concurrency (claim protocol) + fsck janitor
# ---------------------------------------------------------------------------

from fp_data_lakehouse_spark.sources.versioned import (  # noqa: E402
    ConcurrentWriteError,
    HadoopFsBackend,
    LocalFsBackend,
    _backend_for,
    fsck,
)


def test_create_exclusive_primitive(spark):
    """The claim rides on exclusive-create: exactly one of N creators
    wins, on both backends."""
    d = tempfile.mkdtemp(prefix="vclaim_")
    try:
        for backend, p in (
            (LocalFsBackend(), f"{d}/claim_local"),
            (HadoopFsBackend(spark), f"file://{d}/claim_hadoop"),
        ):
            assert backend.create_exclusive(p) is True
            assert backend.create_exclusive(p) is False  # second loses
            backend.delete_file(p)
            assert backend.create_exclusive(p) is True  # released -> reclaimable
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_concurrent_merge_conflict_detection(spark, tdir):
    """Two writers race a MERGE from the same base version: exactly one
    commits, the loser raises ConcurrentWriteError (not last-wins lost
    update), and a retry after re-read lands BOTH updates. Runs over
    LocalFs AND HadoopFs backends (the tdir fixture)."""
    import threading

    merge_into_version(spark, tdir, _kv(spark, [(1, 10), (2, 20)]), ["id"])

    results: dict[str, object] = {}
    barrier = threading.Barrier(2)

    def writer(name, rows):
        try:
            barrier.wait(timeout=30)
            results[name] = merge_into_version(spark, tdir, _kv(spark, rows), ["id"])
        except ConcurrentWriteError as e:
            results[name] = e

    ta = threading.Thread(target=writer, args=("a", [(3, 30)]))
    tb = threading.Thread(target=writer, args=("b", [(4, 40)]))
    ta.start(); tb.start(); ta.join(60); tb.join(60)

    outcomes = list(results.values())
    winners = [r for r in outcomes if isinstance(r, int)]
    losers = [r for r in outcomes if isinstance(r, ConcurrentWriteError)]
    # lost-update check regardless of interleaving: every committed
    # snapshot contains ALL previously committed keys
    if len(winners) == 2:
        # threads serialized on the claim AND their base reads did not
        # overlap — both commits must stack (no overwrite)
        assert latest_version(tdir) == 3
    else:
        assert len(winners) == 1 and len(losers) == 1
        assert latest_version(tdir) == 2
        # retry after re-read: the loser's rows land on top
        loser_rows = [(3, 30)] if results.get("a") in losers else [(4, 40)]
        merge_into_version(spark, tdir, _kv(spark, loser_rows), ["id"])
    got = {(r.id, r.v) for r in read_table(spark, tdir).collect()}
    assert got == {(1, 10), (2, 20), (3, 30), (4, 40)}, "no update may be lost"


def test_stale_claim_blocks_then_fsck_clears(spark, tdir):
    """A crashed writer's leftover claim blocks the next commit loudly
    (never silently corrupts); fsck clears it and commits resume."""
    write_version(_df(spark, 3), tdir)
    backend = _backend_for(tdir, spark)
    # simulate a writer that died holding the v2 claim
    assert backend.create_exclusive(f"{tdir.rstrip('/')}/_claim_v00002")
    with pytest.raises(ConcurrentWriteError, match="fsck"):
        write_version(_df(spark, 5), tdir, base_version=1)
    report = fsck(tdir, backend)
    assert report["claims_removed"] == ["_claim_v00002"]
    assert write_version(_df(spark, 5), tdir, base_version=1) == 2
    assert read_table(spark, tdir).count() == 5


def test_fsck_removes_unledgered_orphan(spark, tdir):
    """Crash between snapshot move and ledger/pointer write: the orphan
    v-dir is unledger'd garbage — fsck removes it and the pointer stays."""
    write_version(_df(spark, 3), tdir)
    _df(spark, 9).write.parquet(f"{tdir.rstrip('/')}/v00002")  # orphan
    report = fsck(tdir, _backend_for(tdir, spark))
    assert report["orphans_removed"] == [2]
    assert report["pointer_after"] == 1
    assert versions(tdir) == [1]
    assert read_table(spark, tdir).count() == 3


def test_fsck_rolls_forward_ledgered_commit(spark, tdir):
    """Crash between ledger write and pointer swap (streaming sink):
    the ledger is the commit point, so fsck must advance the pointer to
    the ledger'd version, not delete it."""
    backend = _backend_for(tdir, spark)
    write_version(_df(spark, 3), tdir)
    _df(spark, 9).write.parquet(f"{tdir.rstrip('/')}/v00002")
    # app-scoped ledger line says v2 committed; pointer still 1
    backend.write_text_atomic(f"{tdir.rstrip('/')}/_COMMITS", "app1:0:2")
    report = fsck(tdir, backend)
    assert report["rolled_forward"] == [2]
    assert report["pointer_after"] == 2
    assert latest_version(tdir) == 2
    assert read_table(spark, tdir).count() == 9
    # vacuum must agree: the ledger'd version is never an orphan
    assert vacuum(tdir, keep_last=5) == []


def test_fsck_sweeps_abandoned_staging(spark, tdir):
    write_version(_df(spark, 3), tdir)
    backend = _backend_for(tdir, spark)
    td = tdir.rstrip("/")
    # abandoned staging always contains part files in practice — and an
    # object store has no empty directories at all, so plant an object
    # in each (the condput backend would not even list an empty one)
    backend.makedirs(f"{td}/_staging_deadbeef")
    backend.makedirs(f"{td}/_stream_staging_cafe0000")
    backend.write_text_atomic(f"{td}/_staging_deadbeef/part-0.parquet", "x")
    backend.write_text_atomic(f"{td}/_stream_staging_cafe0000/part-0.parquet", "x")
    report = fsck(tdir, backend)
    assert sorted(report["staging_removed"]) == [
        "_staging_deadbeef",
        "_stream_staging_cafe0000",
    ]
    assert read_table(spark, tdir).count() == 3


# ---------------------------------------------------------------------------
# round 7: the claim (not the pre-claim pointer read) is the
# serialization point (advisor r6 TOCTOU finding)
# ---------------------------------------------------------------------------


class _RaceInjectingBackend:
    """LocalFsBackend wrapper that simulates the advisor's TOCTOU
    interleaving: on the FIRST create_exclusive call, a concurrent
    writer fully commits the contended slot (v-dir + pointer swap) and
    releases its claim BEFORE this writer's create succeeds — so this
    writer wins the claim for an already-committed slot and must detect
    the pointer motion under the claim instead of deleting the
    committed snapshot as an 'orphan'."""

    def __init__(self, inner, spark, table_dir):
        self._inner = inner
        self._spark = spark
        self._td = table_dir.rstrip("/")
        self._fired = False

    def __getattr__(self, name):
        return getattr(self._inner, name)

    def create_exclusive(self, p, content=""):
        if not self._fired and p.startswith(f"{self._td}/_claim_"):
            self._fired = True
            v = int(p.rsplit("_claim_v", 1)[1])
            self._spark.range(99).selectExpr("id", "id * 2 AS v").write.parquet(
                f"{self._td}/v{v:05d}"
            )
            self._inner.write_text_atomic(f"{self._td}/_LATEST", str(v))
        return self._inner.create_exclusive(p, content)


def test_claim_revalidates_pointer_under_claim(spark):
    """A writer whose pointer read went stale (concurrent commit landed
    inside the read -> claim window) must NOT delete the committed
    snapshot and republish its slot — it must retry and commit to the
    NEXT slot, leaving the concurrent commit intact."""
    d = tempfile.mkdtemp(prefix="vtoctou_")
    try:
        tdir = f"{d}/t"
        write_version(_df(spark, 3), tdir)  # v1
        racing = _RaceInjectingBackend(LocalFsBackend(), spark, tdir)
        v = write_version(_df(spark, 5), tdir, backend=racing)
        # the injected concurrent writer committed v2 (99 rows); this
        # writer must land at v3 with v2's data untouched
        assert v == 3
        assert latest_version(tdir) == 3
        assert read_table(spark, tdir, version=2).count() == 99
        assert read_table(spark, tdir, version=3).count() == 5
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_claim_stale_base_version_conflicts_under_claim(spark):
    """Same interleaving, but the writer passed base_version: the
    conflict check must run against the POST-claim pointer, so the
    stale transaction fails with ConcurrentWriteError (no lost update)
    and releases its claim for the retry."""
    d = tempfile.mkdtemp(prefix="vtoctou2_")
    try:
        tdir = f"{d}/t"
        write_version(_df(spark, 3), tdir)  # v1
        racing = _RaceInjectingBackend(LocalFsBackend(), spark, tdir)
        with pytest.raises(ConcurrentWriteError, match="re-read and retry"):
            write_version(_df(spark, 5), tdir, backend=racing, base_version=1)
        assert latest_version(tdir) == 2
        assert read_table(spark, tdir, version=2).count() == 99
        # claim released on the conflict path: a retry from a fresh
        # read commits normally
        assert write_version(_df(spark, 5), tdir, base_version=2) == 3
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_rollforward_happens_under_the_advanced_slot_claim(spark, tdir):
    """Ledger'd-but-unpointed version: the next writer rolls the
    pointer forward and then commits to the following slot — and the
    roll-forward must leave no stale claim behind."""
    backend = _backend_for(tdir, spark)
    write_version(_df(spark, 3), tdir)  # v1
    td = tdir.rstrip("/")
    _df(spark, 9).write.parquet(f"{td}/v00002")
    backend.write_text_atomic(f"{td}/_COMMITS", "app1:0:2")
    assert write_version(_df(spark, 5), tdir) == 3
    assert latest_version(tdir) == 3
    assert read_table(spark, tdir, version=2).count() == 9  # rolled forward, kept
    assert not [n for n in backend.list_names(td) if n.startswith("_claim_")]


def test_hadoopfs_create_exclusive_reraises_real_errors(spark):
    """Only the already-exists outcome maps to False; a genuine IO
    error (unreachable scheme) must re-raise, not read as 'claim
    held'."""
    backend = HadoopFsBackend(spark)
    with pytest.raises(Exception) as ei:
        backend.create_exclusive("hdfs://no-such-namenode:1/x/_claim_v00001")
    assert "AlreadyExists" not in str(ei.value)


def test_blind_writers_serialize_without_conflict(spark, tdir):
    """base_version=None writers (blind appends) queue behind each
    other on the claim instead of conflicting: both must commit."""
    import threading

    write_version(_df(spark, 1), tdir)
    errs = []

    def w(n):
        try:
            write_version(_df(spark, n), tdir)
        except Exception as e:  # pragma: no cover - failure reporting
            errs.append(e)

    ts = [threading.Thread(target=w, args=(n,)) for n in (5, 7)]
    [t.start() for t in ts]
    # generous join: under full-suite load a staging parquet write can
    # take tens of seconds, and an early-returning join would assert
    # against a commit still in flight (observed flake, round 8)
    [t.join(300) for t in ts]
    assert not any(t.is_alive() for t in ts), "writer thread still running"
    assert not errs
    assert latest_version(tdir) == 3
    assert versions(tdir) == [1, 2, 3]


# ---------------------------------------------------------------------------
# round 7: conditional-PUT object-store backend (no atomic rename)
# ---------------------------------------------------------------------------

from fp_data_lakehouse_spark.sources.versioned import (  # noqa: E402
    ConditionalPutBackend,
)


def test_condput_crash_mid_move_never_publishes(spark):
    """The conditional-PUT move is per-object COPY+DELETE — a crash
    half-way leaves a PARTIAL v-dir. The pointer never advanced, so
    readers stay on the old version, and fsck (or the next writer's
    claim) deletes the partial prefix instead of ever surfacing it."""

    class _CrashingBackend(ConditionalPutBackend):
        def __init__(self):
            self.armed = False

        def move(self, src, dst):
            if not self.armed:
                return super().move(src, dst)
            # copy exactly one object, then die (simulated)
            keys = self.list_keys(src.rstrip("/"))
            rel = os.path.relpath(keys[0], src.rstrip("/"))
            self.copy_object(keys[0], os.path.join(dst.rstrip("/"), rel))
            raise RuntimeError("simulated crash mid-COPY")

    d = tempfile.mkdtemp(prefix="vcondput_")
    try:
        tdir = f"{d}/t"
        backend = _CrashingBackend()
        write_version(_df(spark, 3), tdir, backend=backend)  # v1 committed
        backend.armed = True
        with pytest.raises(RuntimeError, match="simulated crash"):
            write_version(_df(spark, 9), tdir, backend=backend)
        backend.armed = False
        # reader sees v1 only; the partial v2 prefix is invisible
        assert latest_version(tdir, backend) == 1
        assert read_table(spark, tdir, backend=backend).count() == 3
        from fp_data_lakehouse_spark.sources.versioned import fsck

        report = fsck(tdir, backend)
        assert report["orphans_removed"] == [2]
        # the in-process exception released the claim on its way out
        # (write_version's finally); a hard process death would leave
        # it, which test_stale_claim_blocks_then_fsck_clears covers —
        # over this backend too via the tdir parametrization
        assert report["claims_removed"] == []
        # table fully usable afterwards: the slot is reclaimed
        assert write_version(_df(spark, 5), tdir, backend=backend) == 2
        assert read_table(spark, tdir, backend=backend).count() == 5
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_condput_primitive_surface_is_rename_free(spark):
    """Static guard: ConditionalPutBackend's protocol methods must not
    call os.rename/os.replace/shutil.move outside the documented
    server-side PUT simulation (_put) — the class exists to prove the
    call sites need no rename."""
    import inspect

    for name in ("move", "rmtree", "write_text_atomic", "create_exclusive", "write_bytes"):
        src = inspect.getsource(getattr(ConditionalPutBackend, name))
        assert "os.rename" not in src and "shutil.move" not in src, name
        if name != "write_text_atomic":
            assert "os.replace" not in src, name


# ---------------------------------------------------------------------------
# round 7: OPTIMIZE / compaction as a snapshot
# ---------------------------------------------------------------------------

from fp_data_lakehouse_spark.sources.versioned import (  # noqa: E402
    compact_version,
    data_file_count,
)


def test_compaction_preserves_data_and_reduces_files(spark, tdir):
    """compact_version rewrites the head into fewer files as a NEW
    version: identical rows, old version still readable, file count
    down — over all three backends."""
    df = spark.range(500).selectExpr("id", "id * 3 AS v").repartition(16)
    write_version(df, tdir)
    assert data_file_count(tdir, 1) >= 8
    v2 = compact_version(spark, tdir, target_files=2)
    assert v2 == 2
    assert data_file_count(tdir, 2) <= 2
    got1 = {(r.id, r.v) for r in read_table(spark, tdir, version=1).collect()}
    got2 = {(r.id, r.v) for r in read_table(spark, tdir).collect()}
    assert got1 == got2 and len(got2) == 500


def test_compaction_conflicts_with_concurrent_commit(spark):
    """A writer that commits between the compactor's read and its
    publish must fail the COMPACTOR (base_version conflict), never
    lose the concurrent rows."""
    d = tempfile.mkdtemp(prefix="vcompact_")
    try:
        tdir = f"{d}/t"
        write_version(_df(spark, 100).repartition(8), tdir)
        racing = _RaceInjectingBackend(LocalFsBackend(), spark, tdir)
        with pytest.raises(ConcurrentWriteError):
            compact_version(spark, tdir, target_files=1, backend=racing)
        # the concurrent commit survived; compaction retry works
        assert latest_version(tdir) == 2
        assert read_table(spark, tdir).count() == 99  # the racer's data
        assert compact_version(spark, tdir, target_files=1) == 3
    finally:
        shutil.rmtree(d, ignore_errors=True)


# ---------------------------------------------------------------------------
# round 8: claim LEASES — fsck is safe against LIVE writers, and the
# conditional-PUT pointer swap is a real compare-and-swap (VERDICT r7 #2)
# ---------------------------------------------------------------------------

import threading  # noqa: E402
import time  # noqa: E402

from fp_data_lakehouse_spark.sources.versioned import (  # noqa: E402
    _backend_for,
    _lease_age_sec,
    _swap_pointer,
    _Lease,
    LocalFsBackend,
    fsck,
)


class _SlowMoveBackend:
    """Delegating wrapper that BLOCKS inside move() until released —
    the live, slow (not crashed) writer mid-publish that a lease-less
    fsck would have split-brained (r7 verdict scenario)."""

    def __init__(self, inner):
        self._inner = inner
        self.entered = threading.Event()
        self.release = threading.Event()

    def __getattr__(self, name):
        return getattr(self._inner, name)

    def move(self, src, dst):
        self.entered.set()
        assert self.release.wait(60.0), "test never released the slow writer"
        return self._inner.move(src, dst)


def test_fsck_concurrent_with_live_writer(spark, tdir):
    """fsck runs while a live slow writer holds the v2 claim mid-
    publish: it must keep the claim (live lease), keep the writer's
    staging, and the writer's commit must survive; the next writer
    then lands in the NEXT slot — no split brain, no lost update."""
    write_version(_df(spark, 3), tdir)
    backend = _SlowMoveBackend(_backend_for(tdir, spark))
    err: list[BaseException] = []

    def _slow_commit():
        try:
            write_version(_df(spark, 7), tdir, backend=backend)
        except BaseException as e:  # surface in the main thread
            err.append(e)

    t = threading.Thread(target=_slow_commit)
    t.start()
    try:
        assert backend.entered.wait(60.0)
        # writer is INSIDE move(): claim v2 held with a live lease
        report = fsck(tdir)  # default TTL
        assert report["claims_live"] == ["_claim_v00002"], report
        assert report["claims_removed"] == [], report
        assert report["orphans_removed"] == [], report
        assert report["staging_removed"] == [], report
    finally:
        backend.release.set()
        t.join(60.0)
    assert not err, err
    assert latest_version(tdir) == 2
    assert read_table(spark, tdir).count() == 7  # live commit survived
    assert write_version(_df(spark, 9), tdir) == 3  # next slot


def test_fsck_shields_live_partial_prefix_condput(spark):
    """Object-store shape of the same scenario: the live writer is
    mid-COPY (a partial v2 prefix already exists). fsck must NOT GC
    the prefix its live claim shields — deleting it would leave the
    writer to point at a half-deleted snapshot."""
    d = tempfile.mkdtemp(prefix="vlive_")
    try:
        tdir = f"{d}/t"

        class _SlowCopyBackend(ConditionalPutBackend):
            def __init__(self):
                self.armed = False
                self.entered = threading.Event()
                self.release = threading.Event()

            def move(self, src, dst):
                if not self.armed:
                    return super().move(src, dst)
                keys = self.list_keys(src.rstrip("/"))
                rel = os.path.relpath(keys[0], src.rstrip("/"))
                self.copy_object(keys[0], os.path.join(dst.rstrip("/"), rel))
                self.entered.set()
                assert self.release.wait(60.0)
                return super().move(src, dst)  # re-copy of keys[0] is idempotent

        backend = _SlowCopyBackend()
        write_version(_df(spark, 3), tdir, backend=backend)
        backend.armed = True
        err: list[BaseException] = []

        def _slow_commit():
            try:
                write_version(_df(spark, 7), tdir, backend=backend)
            except BaseException as e:
                err.append(e)

        t = threading.Thread(target=_slow_commit)
        t.start()
        try:
            assert backend.entered.wait(60.0)
            report = fsck(tdir, backend)
            assert report["claims_live"] == ["_claim_v00002"], report
            assert report["orphans_removed"] == [], report
            assert backend.list_keys(f"{tdir}/v00002"), "partial prefix GC'd"
        finally:
            backend.release.set()
            t.join(60.0)
        assert not err, err
        assert latest_version(tdir, backend) == 2
        assert read_table(spark, tdir, backend=backend).count() == 7
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_fsck_reclaims_expired_lease_claim(spark, tdir):
    """A lease past the TTL is a crash leftover: reclaimed, commits
    resume — the pre-lease behavior, now gated on actual staleness."""
    write_version(_df(spark, 3), tdir)
    backend = _backend_for(tdir, spark)
    td = tdir.rstrip("/")
    assert backend.create_exclusive(
        f"{td}/_claim_v00002", f"deadwriter {time.time() - 120:.3f}"
    )
    report = fsck(tdir)
    assert report["claims_removed"] == ["_claim_v00002"], report
    assert report["claims_live"] == [], report
    assert write_version(_df(spark, 5), tdir) == 2


def test_pointer_cas_rejects_unexpected_prior(spark):
    """The conditional-PUT pointer swap is If-Match CAS: a swap whose
    expected prior value is stale fails loudly — pointer regression is
    structurally impossible, not merely protocol-dependent."""
    d = tempfile.mkdtemp(prefix="vcas_")
    try:
        tdir = f"{d}/t"
        backend = ConditionalPutBackend()
        write_version(_df(spark, 3), tdir, backend=backend)  # ptr = 1
        assert backend.write_text_cas(f"{tdir}/_LATEST", "9", "7") is False
        assert latest_version(tdir, backend) == 1
        with pytest.raises(ConcurrentWriteError, match="CAS"):
            _swap_pointer(backend, tdir, 3, 2)  # expects "2", actual "1"
        assert latest_version(tdir, backend) == 1
        assert write_version(_df(spark, 5), tdir, backend=backend) == 2
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_lease_heartbeat_refreshes(tmp_path):
    """_Lease keeps the marker young while a long operation runs, and
    stops dead on exit (no post-release resurrection)."""
    b = LocalFsBackend()
    p = str(tmp_path / "_claim_v00001")
    with _Lease(b, p, "w1", interval_sec=0.05):
        time.sleep(0.5)
        age = _lease_age_sec(b.read_text(p), time.time())
        assert age is not None and age < 0.4, age
    txt = b.read_text(p)
    time.sleep(0.3)
    assert b.read_text(p) == txt  # heartbeat really stopped


# ---------------------------------------------------------------------------
# round 8: MANIFEST publication — log-based commits, O(1) metadata
# (VERDICT r7 #5)
# ---------------------------------------------------------------------------

from fp_data_lakehouse_spark.sources.versioned import (  # noqa: E402
    _manifest_files,
    _manifest_versions,
    change_feed,
    data_file_count,
    delete_from_version,
    merge_into_version,
)


def test_manifest_lifecycle(spark, tdir):
    """write/read/time-travel/MERGE/DELETE/CDF over manifest-published
    snapshots — same semantics as copy mode, zero data movement at
    commit time, on all three backends."""
    assert write_version(_df(spark, 3), tdir, manifest=True) == 1
    assert write_version(_df(spark, 5), tdir, manifest=True) == 2
    backend = _backend_for(tdir, spark)
    assert _manifest_versions(tdir, backend) == [1, 2]
    assert versions(tdir) == [1, 2]
    assert read_table(spark, tdir).count() == 5
    assert read_table(spark, tdir, version=1).count() == 3
    # MERGE + DELETE publish manifests too
    up = spark.range(2).selectExpr("id", "id * 100 AS v")
    v3 = merge_into_version(spark, tdir, up, ["id"], manifest=True)
    assert v3 == 3 and _manifest_versions(tdir, backend) == [1, 2, 3]
    got = {(r.id, r.v) for r in read_table(spark, tdir).collect()}
    assert got == {(0, 0), (1, 100), (2, 4), (3, 6), (4, 8)}
    from pyspark.sql import functions as F

    v4 = delete_from_version(spark, tdir, F.col("id") >= 3, manifest=True)
    assert v4 == 4 and read_table(spark, tdir).count() == 3
    cf = change_feed(spark, tdir, 3, 4, keys=["id"])
    assert {r._change_type for r in cf.collect()} == {"delete"}
    assert data_file_count(tdir, 4) >= 1


def test_manifest_vacuum_gc_is_reference_counted(spark, tdir):
    """vacuum of a manifest version deletes its manifest and ONLY the
    data files no surviving manifest references — an append-style
    manifest sharing a predecessor's files keeps them alive."""
    import json

    write_version(_df(spark, 3), tdir, manifest=True)
    write_version(_df(spark, 5), tdir, manifest=True)
    backend = _backend_for(tdir, spark)
    td = tdir.rstrip("/")
    # synthesize v3 as an APPEND-style manifest: v2's files plus v1's
    # (sharing across manifests is the format's whole point)
    f1 = _manifest_files(tdir, 1, backend)
    f2 = _manifest_files(tdir, 2, backend)
    backend.write_text_atomic(
        f"{td}/_manifest_v00003.json", json.dumps({"version": 3, "files": f2 + f1})
    )
    backend.write_text_atomic(f"{td}/_LATEST", "3")
    assert read_table(spark, tdir).count() == 8  # 5 + 3 shared-in
    removed = vacuum(tdir, keep_last=1)
    assert removed == [1, 2]
    # v1/v2 manifests gone, but EVERY data file survives via v3's refs
    assert _manifest_versions(tdir, backend) == [3]
    assert read_table(spark, tdir).count() == 8
    for rel in f1 + f2:
        prefix, name = rel.rsplit("/", 1)
        assert name in backend.list_names(f"{td}/{prefix}"), rel
    # now drop v3 the hard way: a fresh manifest commit then vacuum
    write_version(_df(spark, 2), tdir, manifest=True)
    removed = vacuum(tdir, keep_last=1)
    assert removed == [3]
    # all of v1+v2's files are finally unreferenced and gone
    leftover = [
        k
        for wid in backend.list_names(f"{td}/_data")
        for k in backend.list_names(f"{td}/_data/{wid}")
        if k.endswith(".parquet")
    ]
    files4 = {f.rsplit("/", 1)[1] for f in _manifest_files(tdir, 4, backend)}
    assert set(leftover) == files4, leftover


def test_manifest_commit_is_o1_metadata_condput(spark):
    """The publication step of a manifest commit performs ZERO per-
    object COPYs and exactly one manifest PUT + one pointer PUT, no
    matter how many data objects the snapshot has — measured on the
    conditional-PUT backend with a counting proxy."""
    d = tempfile.mkdtemp(prefix="vmanif_")
    try:
        tdir = f"{d}/t"

        class _CountingBackend(ConditionalPutBackend):
            def __init__(self):
                self.copies = 0
                self.puts = 0
                self.counting = False

            def _copy(self, src, dst):
                if self.counting:
                    self.copies += 1
                return super()._copy(src, dst)

            def _put(self, key, data):
                if self.counting:
                    self.puts += 1
                return super()._put(key, data)

            def create_exclusive(self, p, content=""):
                won = super().create_exclusive(p, content)
                if won and "_claim_" in p:
                    self.counting = True  # publish phase begins
                return won

        backend = _CountingBackend()
        df64 = _df(spark, 10_000).repartition(64)
        write_version(df64, tdir, backend=backend, manifest=True)
        backend.counting = False
        assert data_file_count(tdir, 1, backend) == 64
        assert backend.copies == 0, "manifest commit must not COPY data"
        # manifest PUT + pointer PUT + claim-lease heartbeat writes only
        assert backend.puts <= 4, backend.puts
        assert read_table(spark, tdir, backend=backend).count() == 10_000
        # contrast: the copy-mode publish pays one COPY per object
        backend.counting = False
        backend.copies = 0
        write_version(df64, tdir, backend=backend)  # v2, copy mode
        backend.counting = False
        assert backend.copies >= 64, backend.copies
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_manifest_crash_before_manifest_put_is_invisible(spark):
    """A manifest writer that dies after staging data but before the
    manifest PUT leaves only an unreferenced _data prefix: readers
    never see it, and fsck GCs it once its lease expires."""
    d = tempfile.mkdtemp(prefix="vmanifcrash_")
    try:
        tdir = f"{d}/t"
        backend = ConditionalPutBackend()
        write_version(_df(spark, 3), tdir, backend=backend, manifest=True)

        class _DieBeforeManifest(ConditionalPutBackend):
            # the manifest publish is a conditional PUT (put-if-absent)
            def create_exclusive(self, p, content=""):
                if "_manifest_" in p:
                    raise RuntimeError("simulated crash before manifest PUT")
                return super().create_exclusive(p, content)

        with pytest.raises(RuntimeError, match="simulated crash"):
            write_version(_df(spark, 9), tdir, backend=_DieBeforeManifest(), manifest=True)
        assert latest_version(tdir, backend) == 1
        assert read_table(spark, tdir, backend=backend).count() == 3
        # dead prefix: lease still young -> kept; expired -> GC'd
        report = fsck(tdir, backend, claim_ttl_sec=3600.0)
        assert report["data_removed"] == [] and len(report["data_live"]) == 1
        report = fsck(tdir, backend, claim_ttl_sec=-1.0)
        assert len(report["data_removed"]) == 1, report
        assert read_table(spark, tdir, backend=backend).count() == 3
        assert write_version(_df(spark, 5), tdir, backend=backend, manifest=True) == 2
    finally:
        shutil.rmtree(d, ignore_errors=True)


# ---------------------------------------------------------------------------
# round 8: file-granular copy-on-write DELETE on the manifest path
# ---------------------------------------------------------------------------

from fp_data_lakehouse_spark.sources.versioned import delete_where_cow  # noqa: E402


def test_cow_delete_rewrites_only_hit_files(spark, tdir):
    from pyspark.sql import functions as F

    df = spark.range(1_000).selectExpr("id AS k", "id * 2 AS v")
    write_version(df.repartitionByRange(8, "k"), tdir, manifest=True)
    backend = _backend_for(tdir, spark)
    rels1 = _manifest_files(tdir, 1, backend)
    assert len(rels1) == 8
    v2 = delete_where_cow(spark, tdir, F.col("k") < 100)
    assert v2 == 2
    rels2 = _manifest_files(tdir, 2, backend)
    shared = set(rels1) & set(rels2)
    # ~1 of 8 range files holds k < 100: at least 6 carry by reference
    assert len(shared) >= 6, (len(rels1), len(rels2), len(shared))
    assert set(rels2) - set(rels1), "no rewritten file appeared"
    got = {(r.k, r.v) for r in read_table(spark, tdir).collect()}
    assert got == {(k, 2 * k) for k in range(100, 1_000)}
    # old snapshot still time-travels intact
    assert read_table(spark, tdir, version=1).count() == 1_000
    # vacuum expires v1: shared files must SURVIVE (ref-counted GC)
    assert vacuum(tdir, keep_last=1) == [1]
    assert {(r.k, r.v) for r in read_table(spark, tdir).collect()} == {
        (k, 2 * k) for k in range(100, 1_000)
    }
    # no-op delete publishes nothing
    assert delete_where_cow(spark, tdir, F.col("k") < 0) == 2
    # stats carried over still prune (data-skipping intact post-CoW)
    import json

    stats = json.loads(
        backend.read_text(f"{tdir.rstrip('/')}/_manifest_v00002.json")
    )["stats"]
    if "://" not in tdir:  # scheme'd staging records no stats by design
        assert stats, "stats lost through copy-on-write"


def test_cow_delete_requires_manifest_head(spark, tdir):
    from pyspark.sql import functions as F

    write_version(_df(spark, 5), tdir)  # copy-published head
    with pytest.raises(ValueError, match="manifest"):
        delete_where_cow(spark, tdir, F.col("id") < 2)


def test_cow_delete_conflicts_with_concurrent_commit(spark, tdir):
    """base_version read-set check: a commit landing between the CoW
    delete's read and its claim fails the delete loudly."""
    from pyspark.sql import functions as F

    write_version(
        spark.range(100).selectExpr("id AS k", "id AS v").repartitionByRange(4, "k"),
        tdir,
        manifest=True,
    )
    backend = _backend_for(tdir, spark)

    class _RacingBackend:
        def __init__(self, inner):
            self._inner = inner
            self._fired = False

        def __getattr__(self, name):
            return getattr(self._inner, name)

        def create_exclusive(self, p, content=""):
            if not self._fired and "_claim_" in p:
                self._fired = True
                write_version(
                    spark.range(7).selectExpr("id AS k", "id AS v"),
                    tdir,
                    manifest=True,
                )  # concurrent commit wins slot 2
            return self._inner.create_exclusive(p, content)

    with pytest.raises(ConcurrentWriteError, match="re-read and retry"):
        delete_where_cow(
            spark, tdir, F.col("k") < 10, backend=_RacingBackend(backend)
        )
    assert latest_version(tdir) == 2  # the racer's commit, intact


from fp_data_lakehouse_spark.sources.versioned import (  # noqa: E402
    merge_into_version_cow,
)


def test_cow_merge_upsert_semantics_and_sharing(spark, tdir):
    from pyspark.sql import functions as F

    df = spark.range(1_000).selectExpr("id AS k", "id AS v")
    assert merge_into_version_cow(spark, tdir, df, ["k"]) == 1  # initial load
    backend = _backend_for(tdir, spark)
    write_version(
        read_table(spark, tdir).repartitionByRange(8, "k"), tdir,
        backend=backend, manifest=True,
    )  # v2: range layout so CoW has disjoint files to carry
    rels2 = _manifest_files(tdir, 2, backend)
    # updates touch a narrow key band + one pure insert
    upd = spark.createDataFrame(
        [(10, 999), (11, 999), (5_000, 1)], "k BIGINT, v BIGINT"
    )
    v3 = merge_into_version_cow(spark, tdir, upd, ["k"])
    assert v3 == 3
    rels3 = _manifest_files(tdir, 3, backend)
    assert len(set(rels2) & set(rels3)) >= 6, "CoW merge rewrote too much"
    got = {(r.k, r.v) for r in read_table(spark, tdir).collect()}
    want = {(k, k) for k in range(1_000) if k not in (10, 11)}
    want |= {(10, 999), (11, 999), (5_000, 1)}
    assert got == want
    # uniqueness precondition still enforced
    with pytest.raises(ValueError, match="unique"):
        merge_into_version_cow(
            spark, tdir, spark.createDataFrame([(1, 1), (1, 2)], "k BIGINT, v BIGINT"), ["k"]
        )
    # pure insert rewrites nothing: every v3 file carries forward
    ins = spark.createDataFrame([(6_000, 6)], "k BIGINT, v BIGINT")
    v4 = merge_into_version_cow(spark, tdir, ins, ["k"])
    rels4 = _manifest_files(tdir, v4, backend)
    assert set(rels3) <= set(rels4), "pure insert must carry ALL files"
    assert read_table(spark, tdir).count() == 1_002


# ---------------------------------------------------------------------------
# round 8 (review hardening): claim-correlated sweeps, lease-aware
# vacuum, and the pre-publish ownership re-check
# ---------------------------------------------------------------------------


def test_fsck_protects_staging_of_live_claim_even_without_lease(spark, tdir):
    """Mid-publish, the copy-mode move may have already relocated the
    staging _lease; fsck must still protect the staging dir by
    correlating its name with the LIVE claim's writer id."""
    write_version(_df(spark, 3), tdir)
    backend = _SlowMoveBackend(_backend_for(tdir, spark))
    err: list[BaseException] = []

    def _slow_commit():
        try:
            write_version(_df(spark, 7), tdir, backend=backend)
        except BaseException as e:
            err.append(e)

    t = threading.Thread(target=_slow_commit)
    t.start()
    try:
        assert backend.entered.wait(60.0)
        td = tdir.rstrip("/")
        inner = backend._inner
        staging_name = next(
            n for n in inner.list_names(td) if n.startswith("_staging_")
        )
        # simulate the lease already relocated by the publish
        inner.delete_file(f"{td}/{staging_name}/_lease")
        report = fsck(tdir)
        assert staging_name in report["staging_live"], report
        assert report["staging_removed"] == [], report
    finally:
        backend.release.set()
        t.join(60.0)
    assert not err, err
    assert read_table(spark, tdir).count() == 7


def test_vacuum_skips_live_claim_slot(spark, tdir):
    """A live claim shields its slot from vacuum's orphan GC — the
    writer may sit between its manifest PUT and its pointer swap."""
    write_version(_df(spark, 3), tdir, manifest=True)
    backend = _backend_for(tdir, spark)
    td = tdir.rstrip("/")
    # a live writer: claim v2 held with a fresh lease, manifest already
    # PUT, pointer not yet swapped
    assert backend.create_exclusive(f"{td}/_claim_v00002", f"livew {time.time():.3f}")
    backend.write_text_atomic(
        f"{td}/_manifest_v00002.json", '{"version": 2, "files": [], "stats": {}}'
    )
    assert vacuum(tdir, keep_last=5) == []  # v2 shielded
    from fp_data_lakehouse_spark.sources.versioned import _manifest_versions as mv

    assert mv(tdir, backend) == [1, 2]
    # once the claim is a stale leftover, the orphan GC proceeds
    backend.delete_file(f"{td}/_claim_v00002")
    backend.create_exclusive(
        f"{td}/_claim_v00002", f"deadw {time.time() - 120:.3f}"
    )
    assert vacuum(tdir, keep_last=5) == [2]
    assert mv(tdir, backend) == [1]


def test_publish_aborts_when_claim_was_reclaimed(spark, tdir):
    """The pre-publish ownership re-check: a writer whose claim was
    reclaimed while it was stalled must abort with
    ConcurrentWriteError instead of swapping the pointer onto a
    possibly-GC'd snapshot."""

    class _ClaimStealingBackend:
        """Deletes the writer's claim right before its move() — the
        fsck-reclaimed-while-frozen interleaving."""

        def __init__(self, inner, td):
            self._inner = inner
            self._td = td

        def __getattr__(self, name):
            return getattr(self._inner, name)

        def move(self, src, dst):
            for n in self._inner.list_names(self._td):
                if n.startswith("_claim_"):
                    self._inner.delete_file(f"{self._td}/{n}")
            return self._inner.move(src, dst)

    write_version(_df(spark, 3), tdir)
    backend = _ClaimStealingBackend(_backend_for(tdir, spark), tdir.rstrip("/"))
    with pytest.raises(ConcurrentWriteError, match="no longer owned"):
        write_version(_df(spark, 9), tdir, backend=backend)
    # pointer untouched; table still serves v1
    assert latest_version(tdir) == 1
    assert read_table(spark, tdir).count() == 3


# ---------------------------------------------------------------------------
# round 9: ADVICE hardening — pre-publish ownership check + put-if-absent
# manifest, claim-scoped fsck roll-forward, content-atomic claim create
# ---------------------------------------------------------------------------

from fp_data_lakehouse_spark.sources.versioned import (  # noqa: E402
    _lease_line,
    _manifest_files,
)


def test_stalled_manifest_writer_cannot_clobber_recommitted_slot(spark, tdir):
    """The r8 review's torn-snapshot race: writer A passes its claim
    check, stalls past the lease TTL, its claim is reclaimed and slot v2
    is recommitted by writer B — A's resumed manifest PUT must fail the
    put-if-absent (never overwrite B's committed manifest) and the
    table must keep serving B's snapshot."""
    write_version(_df(spark, 3), tdir)
    inner = _backend_for(tdir, spark)
    td = tdir.rstrip("/")
    fired = []

    class _StallThenResume:
        """Simulates A frozen between its pre-publish ownership check
        and the manifest PUT: right before A's conditional PUT lands,
        A's claim is reclaimed (lease expired) and B commits slot 2."""

        def __getattr__(self, name):
            return getattr(inner, name)

        def create_exclusive(self, p, content=""):
            if "_manifest_" in p and not fired:
                fired.append(p)
                for n in inner.list_names(td):
                    if n.startswith("_claim_"):
                        inner.delete_file(f"{td}/{n}")
                write_version(_df(spark, 7), tdir, backend=inner, manifest=True)
            return inner.create_exclusive(p, content)

    with pytest.raises(ConcurrentWriteError):
        write_version(_df(spark, 9), tdir, backend=_StallThenResume(), manifest=True)
    # B's commit is intact: pointer at 2, manifest lists B's files, rows are B's
    assert latest_version(tdir) == 2
    assert read_table(spark, tdir).count() == 7
    rels = _manifest_files(tdir, 2, inner)
    assert rels, "B's manifest was clobbered or emptied"
    # A's abandoned _data prefix is GC'd once its lease expires
    report = fsck(tdir, inner, claim_ttl_sec=-1.0)
    assert latest_version(tdir) == 2
    assert read_table(spark, tdir).count() == 7


def test_stalled_writer_ownership_checked_before_data_plane(spark, tdir):
    """Ownership is re-verified BEFORE the data-plane publish: a copy-
    mode writer whose claim was stolen while stalled must abort before
    its move() merges stale objects into a (re)committed v-dir."""
    write_version(_df(spark, 3), tdir)
    inner = _backend_for(tdir, spark)
    td = tdir.rstrip("/")
    moved = []

    class _StealBeforePublish:
        def __getattr__(self, name):
            return getattr(inner, name)

        def read_text(self, p):
            # first ownership probe of the publish: steal the claim
            # just before it (the stall happened during staging)
            if "_claim_" in p and not moved:
                moved.append(p)
                inner.delete_file(p)
            return inner.read_text(p)

        def move(self, src, dst):  # pragma: no cover - must not run
            raise AssertionError("data-plane publish ran without ownership")

    with pytest.raises(ConcurrentWriteError, match="no longer owned"):
        write_version(_df(spark, 9), tdir, backend=_StealBeforePublish())
    assert latest_version(tdir) == 1
    assert read_table(spark, tdir).count() == 3


def test_fsck_rollforward_defers_to_live_claim(spark, tdir):
    """fsck's roll-forward runs under the claim for the slot being
    advanced into: when a LIVE writer already holds that claim, fsck
    must defer (no pointer write at all — the blind-swap backends are
    exactly where a racing write could regress the pointer) and leave
    the ledgered snapshot shielded from orphan GC."""
    backend = _backend_for(tdir, spark)
    td = tdir.rstrip("/")
    write_version(_df(spark, 3), tdir)
    _df(spark, 9).write.parquet(f"{td}/v00002")
    backend.write_text_atomic(f"{td}/_COMMITS", "app1:0:2")
    # a live writer holds claim v2 (fresh lease, other writer id)
    assert backend.create_exclusive(f"{td}/_claim_v00002", _lease_line("livewriter00"))
    report = fsck(tdir, backend)
    assert report["rolled_forward"] == [], report
    assert report["pointer_after"] == 1, report
    assert report["orphans_removed"] == [], report
    assert latest_version(tdir) == 1
    # claim released (writer finished/crashed): fsck now rolls forward,
    # one slot under its own claim, and leaves no marker behind
    backend.delete_file(f"{td}/_claim_v00002")
    report = fsck(tdir, backend)
    assert report["rolled_forward"] == [2], report
    assert latest_version(tdir) == 2
    assert read_table(spark, tdir).count() == 9
    leftover = [n for n in backend.list_names(td) if n.startswith("_claim_")]
    assert leftover == [], leftover


def test_fsck_rollforward_multi_slot(spark, tdir):
    """Two ledgered-but-unpointed versions roll forward one slot at a
    time (each under its own claim) to the highest ledgered version."""
    backend = _backend_for(tdir, spark)
    td = tdir.rstrip("/")
    write_version(_df(spark, 3), tdir)
    _df(spark, 5).write.parquet(f"{td}/v00002")
    _df(spark, 9).write.parquet(f"{td}/v00003")
    backend.write_text_atomic(f"{td}/_COMMITS", "app1:0:2\napp1:1:3")
    report = fsck(tdir, backend)
    assert report["rolled_forward"] == [2, 3], report
    assert latest_version(tdir) == 3
    assert read_table(spark, tdir).count() == 9


def test_create_exclusive_is_content_atomic(spark, tdir):
    """The claim marker must never exist lease-less (the r8 review's
    create-stream visibility window): create_exclusive publishes the
    lease atomically with the marker, a losing create leaves the
    winner's lease untouched, and no temp files leak."""
    backend = _backend_for(tdir, spark)
    write_version(_df(spark, 3), tdir)  # table dir exists
    td = tdir.rstrip("/")
    p = f"{td}/_claim_v00099"
    lease_a = _lease_line("writer-aaaa")
    assert backend.create_exclusive(p, lease_a)
    assert backend.read_text(p) == lease_a
    assert not backend.create_exclusive(p, _lease_line("writer-bbbb"))
    assert backend.read_text(p) == lease_a, "loser overwrote the winner's lease"
    backend.delete_file(p)
    junk = [
        n
        for n in backend.list_names(td)
        if "claimtmp" in n or n.startswith("._claim_")
    ]
    assert junk == [], junk


# ---------------------------------------------------------------------------
# round 9: column-mapping schema evolution (rename/drop metadata-only)
# ---------------------------------------------------------------------------

from fp_data_lakehouse_spark.sources.versioned import (  # noqa: E402
    drop_column,
    merge_into_version_cow,
    rename_column,
)


def test_rename_column_is_metadata_only(spark, tdir):
    df = spark.range(200).selectExpr("id AS k", "id * 2 AS v")
    write_version(df.repartitionByRange(4, "k"), tdir, manifest=True)
    backend = _backend_for(tdir, spark)
    rels1 = _manifest_files(tdir, 1, backend)
    v2 = rename_column(spark, tdir, "v", "value")
    assert v2 == 2
    assert _manifest_files(tdir, 2, backend) == rels1  # zero data movement
    assert read_table(spark, tdir).columns == ["k", "value"]
    got = {(r.k, r.value) for r in read_table(spark, tdir).collect()}
    assert got == {(i, 2 * i) for i in range(200)}
    # pre-rename snapshot time-travels under its OWN mapping
    assert read_table(spark, tdir, version=1).columns == ["k", "v"]
    v1 = {(r.k, r.v) for r in read_table(spark, tdir, version=1).collect()}
    assert v1 == got
    # rename validation
    with pytest.raises(ValueError, match="does not exist"):
        rename_column(spark, tdir, "nope", "x")
    with pytest.raises(ValueError, match="already exists"):
        rename_column(spark, tdir, "k", "value")


def test_cow_merge_and_delete_under_renamed_schema(spark, tdir):
    from pyspark.sql import functions as F

    df = spark.range(400).selectExpr("id AS k", "id * 2 AS v")
    write_version(df.repartitionByRange(8, "k"), tdir, manifest=True)
    rename_column(spark, tdir, "v", "value")
    backend = _backend_for(tdir, spark)
    # MERGE under the NEW name: rewrites only hit files, carries the
    # rest (pre-rename physical files) by reference
    upd = spark.range(50).selectExpr("id AS k", "id * 100 AS value")
    v3 = merge_into_version_cow(spark, tdir, upd, ["k"])
    assert v3 == 3
    shared = set(_manifest_files(tdir, 1, backend)) & set(
        _manifest_files(tdir, 3, backend)
    )
    assert len(shared) >= 6, len(shared)
    got = {r.k: r.value for r in read_table(spark, tdir).collect()}
    assert got[10] == 1000 and got[399] == 798
    # updates naming a column unknown to the mapped schema fail loudly
    bad = spark.range(3).selectExpr("id AS k", "id AS v")
    with pytest.raises(ValueError, match="unknown to the column-mapped"):
        merge_into_version_cow(spark, tdir, bad, ["k"])
    # DELETE with a logical-name condition
    v4 = delete_where_cow(spark, tdir, F.col("value") >= 700)
    assert v4 == 4
    vals = {r.k: r.value for r in read_table(spark, tdir).collect()}
    assert max(vals.values()) < 700
    assert 10 not in vals  # value 1000 >= 700: deleted


def test_drop_column_metadata_only_and_time_travel(spark, tdir):
    df = spark.range(100).selectExpr("id AS k", "id * 2 AS v", "CAST(id % 3 AS INT) AS tag")
    write_version(df, tdir, manifest=True)
    v2 = drop_column(spark, tdir, "tag")
    assert v2 == 2
    assert read_table(spark, tdir).columns == ["k", "v"]
    assert read_table(spark, tdir, version=1).columns == ["k", "v", "tag"]
    with pytest.raises(ValueError, match="does not exist"):
        drop_column(spark, tdir, "tag")
    # rename after drop keeps working on the surviving mapping
    v3 = rename_column(spark, tdir, "v", "val")
    assert read_table(spark, tdir).columns == ["k", "val"]
    # full-overwrite write_version RESETS the mapping (fresh logical)
    v4 = write_version(
        spark.range(10).selectExpr("id AS k", "id AS val"), tdir, manifest=True
    )
    assert read_table(spark, tdir).columns == ["k", "val"]
    assert read_table(spark, tdir).count() == 10


def test_mapping_requires_manifest_head(spark, tdir):
    write_version(_df(spark, 5), tdir)  # copy-published v-dir
    with pytest.raises(ValueError, match="manifest-published head"):
        rename_column(spark, tdir, "v", "value")


# ---------------------------------------------------------------------------
# round 9: symlink-manifest interop export
# ---------------------------------------------------------------------------

from fp_data_lakehouse_spark.sources.versioned import (  # noqa: E402
    export_symlink_manifest,
)


def test_symlink_export_all_forms_and_vacuum(spark, tdir):
    """Export works for both publication forms and any retained
    version; a vanilla spark.read.parquet over the listed paths equals
    the library reader; vacuum removes the export with its snapshot;
    column-mapped versions are refused."""
    backend = _backend_for(tdir, spark)
    write_version(_df(spark, 5), tdir)                    # v1 copy-published
    write_version(_df(spark, 9), tdir, manifest=True)     # v2 manifest
    for ver, n in ((1, 5), (2, 9)):
        mp = export_symlink_manifest(tdir, ver, backend=backend)
        paths = [ln for ln in backend.read_text(mp).splitlines() if ln]
        got = {(r.id, r.v) for r in spark.read.parquet(*paths).collect()}
        want = {(r.id, r.v) for r in read_table(spark, tdir, version=ver).collect()}
        assert got == want and len(got) == n
    # uncommitted / unretained versions are refused
    with pytest.raises(FileNotFoundError):
        export_symlink_manifest(tdir, 7, backend=backend)
    # column-mapped head is refused (vanilla readers would see
    # physical names)
    write_version(_df(spark, 4), tdir, manifest=True)     # v3
    rename_column(spark, tdir, "v", "value", backend=backend)  # v4
    with pytest.raises(ValueError, match="column mapping"):
        export_symlink_manifest(tdir, backend=backend)
    # vacuum drops expired snapshots' exports alongside the data
    export_symlink_manifest(tdir, 2, backend=backend)
    vacuum(tdir, keep_last=2, backend=backend)
    names = backend.list_names(f"{tdir.rstrip('/')}/_symlink_format_manifest")
    assert "v00002" not in names, names


# ---------------------------------------------------------------------------
# round 9: deletion vectors + restore
# ---------------------------------------------------------------------------

from fp_data_lakehouse_spark.sources.versioned import (  # noqa: E402
    compact_version,
    delete_where_dv,
    restore_version,
)


def test_dv_delete_lifecycle(spark, tdir):
    """Scatter delete via deletion vectors: zero data movement, stacked
    dv union, policy bound, compaction applies and clears, CoW ops
    refuse a dv'd head, vacuum refcounts dv objects."""
    from pyspark.sql import functions as F

    df = spark.range(800).selectExpr("id AS k", "id * 2 AS v")
    write_version(df.repartitionByRange(8, "k"), tdir, manifest=True)
    backend = _backend_for(tdir, spark)
    rels1 = _manifest_files(tdir, 1, backend)
    v2 = delete_where_dv(spark, tdir, F.col("k") % 10 == 7)
    assert v2 == 2
    from fp_data_lakehouse_spark.sources.versioned import _manifest_body

    body2 = _manifest_body(tdir, 2, backend)
    assert body2["files"] == rels1
    assert len(body2["dv"]) == 8 and len(set(body2["dv"].values())) == 1
    assert read_table(spark, tdir).count() == 720
    assert read_table(spark, tdir, version=1).count() == 800
    # stacked delete unions positions
    assert delete_where_dv(spark, tdir, F.col("k") % 10 == 3) == 3
    got = {r.k for r in read_table(spark, tdir).collect()}
    assert got == {i for i in range(800) if i % 10 not in (3, 7)}
    # no-op returns head
    assert delete_where_dv(spark, tdir, F.col("k") < 0) == 3
    # policy: a delete covering a whole file is refused — where file
    # stats exist (scheme'd staging collects none, so the bound is
    # best-effort there by documented design)
    from fp_data_lakehouse_spark.sources.versioned import _manifest_body as _mb

    if _mb(tdir, 1, backend).get("stats"):
        with pytest.raises(ValueError, match="read amplification"):
            delete_where_dv(spark, tdir, F.col("k") < 100)
    # symlink export refuses a dv'd head (vanilla readers can't apply)
    with pytest.raises(ValueError, match="deletion vectors"):
        export_symlink_manifest(tdir, backend=backend)
    # compaction applies dvs physically and clears the map
    v4 = compact_version(spark, tdir, 2, backend=backend, manifest=True)
    assert not _manifest_body(tdir, v4, backend).get("dv")
    assert {r.k for r in read_table(spark, tdir).collect()} == got
    # vacuum: doomed dv objects GC'd, live data shared with v4 survives
    vacuum(tdir, keep_last=1, backend=backend)
    assert {r.k for r in read_table(spark, tdir).collect()} == got


def test_dv_respects_column_mapping(spark, tdir):
    from pyspark.sql import functions as F

    df = spark.range(400).selectExpr("id AS k", "id * 2 AS v")
    write_version(df.repartitionByRange(4, "k"), tdir, manifest=True)
    rename_column(spark, tdir, "v", "value")
    v3 = delete_where_dv(spark, tdir, F.col("value") % 20 == 4)
    assert v3 == 3
    got = {(r.k, r.value) for r in read_table(spark, tdir).collect()}
    assert got == {(i, 2 * i) for i in range(400) if (2 * i) % 20 != 4}


def test_hadoopfs_exclusive_rename_refuses_existing_destination(spark):
    """HadoopFsBackend.create_exclusive's exclusivity point is
    FileContext.rename(..., Options.Rename.NONE), which REFUSES an
    existing destination on every AbstractFileSystem — including the
    local FS, where plain FileSystem.rename delegates to POSIX
    rename(2) and silently REPLACES (the r9 advice finding: two racing
    file:// writers could both pass the exists() pre-check and one
    would overwrite the other's live claim or manifest)."""
    import tempfile as _tf

    from fp_data_lakehouse_spark.sources.versioned import (
        HadoopFsBackend,
        _java_exc_matches,
    )

    d = _tf.mkdtemp(prefix="vexcl_")
    try:
        b = HadoopFsBackend(spark)
        dest = f"file://{d}/marker"
        b.write_text_atomic(dest, "winner lease")
        # bypass the exists() fast path: stage a tmp and drive the
        # rename primitive directly, as a racing writer would after
        # both passed the pre-check
        tmp = f"file://{d}/marker.claimtmp.racer"
        b.write_text_atomic(tmp, "loser lease")
        fc = b._jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            b._path(dest).toUri(), b._conf
        )
        rename_cls = b._jvm.org.apache.hadoop.fs.Options.Rename
        opts = b._gateway.new_array(rename_cls, 1)
        opts[0] = rename_cls.NONE
        with pytest.raises(Exception) as ei:
            fc.rename(b._path(tmp), b._path(dest), opts)
        assert _java_exc_matches(
            ei.value, "FileAlreadyExistsException", "PathExistsException"
        ), ei.value
        assert b.read_text(dest) == "winner lease"  # never clobbered
        # the public API maps the refusal to held-claim False
        assert b.create_exclusive(dest, "third lease") is False
        assert b.read_text(dest) == "winner lease"
        # and a fresh destination still succeeds content-atomically
        assert b.create_exclusive(f"file://{d}/fresh", "me 123.0") is True
        assert b.read_text(f"file://{d}/fresh") == "me 123.0"
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_dv_broadcast_size_gate(spark, tdir):
    """The dv anti-join broadcast-hints its dv side ONLY under the
    manifest-recorded ``dv_rows`` bound (r9 verdict finding #1): an
    explicit hint is honored regardless of size, so an unconditional
    one is a driver OOM under stacked GDPR-scale deletes whose total
    (file, pos) cardinality max_file_fraction does NOT bound. Past the
    gate — and on legacy manifests that predate dv_rows — the join
    runs un-hinted (AQE may still broadcast from MEASURED size, which
    cannot OOM the way a blind hint can), with identical results."""
    import json

    from pyspark.sql import functions as F

    import fp_data_lakehouse_spark.sources.versioned as V
    from fp_data_lakehouse_spark.plans.audit import physical_plan

    df = spark.range(800).selectExpr("id AS k", "id * 2 AS v")
    write_version(df.repartitionByRange(8, "k"), tdir, manifest=True)
    backend = _backend_for(tdir, spark)
    delete_where_dv(spark, tdir, F.col("k") % 10 == 7)
    from fp_data_lakehouse_spark.sources.versioned import _manifest_body

    body = _manifest_body(tdir, 2, backend)
    assert body["dv_rows"] == 80  # exact pair count recorded at write
    expected = {i for i in range(800) if i % 10 != 7}

    # pin auto/adaptive broadcast OFF so the plan shape isolates the
    # explicit hint's effect from runtime size-based conversion
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    orig_bound = V._DV_BROADCAST_MAX_ROWS
    try:
        # under the gate: the hint is applied and wins over thresholds
        small = read_table(spark, tdir)
        assert {r.k for r in small.collect()} == expected
        assert "BroadcastHashJoin" in physical_plan(small)

        # past the gate: no broadcast on the dv side, same answer
        V._DV_BROADCAST_MAX_ROWS = 10
        big = read_table(spark, tdir)
        assert {r.k for r in big.collect()} == expected
        assert "BroadcastHashJoin" not in physical_plan(big)
    finally:
        V._DV_BROADCAST_MAX_ROWS = orig_bound
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    # a pre-dv_rows manifest (unknown cardinality) never gets the hint:
    # simulate one by stripping the recorded count
    legacy = dict(body)
    legacy.pop("dv_rows")
    backend.write_text_atomic(
        f"{tdir.rstrip('/')}/_manifest_v00002.json", json.dumps(legacy)
    )
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        unk = read_table(spark, tdir)
        assert {r.k for r in unk.collect()} == expected
        assert "BroadcastHashJoin" not in physical_plan(unk)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_add_column_metadata_only(spark, tdir):
    """ADD COLUMN is a metadata-only mapping commit: identical file
    list, typed-NULL backfill over pre-add files, CoW merge under the
    new column, time travel pre-add, and DROP x / ADD x never
    resurfaces the dropped column's stale bytes."""
    from pyspark.sql import functions as F

    from fp_data_lakehouse_spark.sources.versioned import (
        _manifest_body,
        add_column,
        drop_column,
        merge_into_version_cow,
    )

    write_version(
        spark.range(40).selectExpr("id AS k", "id * 2 AS v").repartitionByRange(4, "k"),
        tdir,
        manifest=True,
    )
    backend = _backend_for(tdir, spark)
    rels1 = _manifest_files(tdir, 1, backend)
    assert add_column(spark, tdir, "score", "double") == 2
    body2 = _manifest_body(tdir, 2, backend)
    assert body2["files"] == rels1, "ADD COLUMN must move no data"
    entry = next(c for c in body2["columns"] if c["name"] == "score")
    assert entry["type"] == "double" and entry["physical"] != "score"
    df = read_table(spark, tdir)
    assert df.columns == ["k", "v", "score"]
    assert df.filter(F.col("score").isNull()).count() == 40
    # duplicate add refused; invalid DDL type refused
    with pytest.raises(ValueError, match="already exists"):
        add_column(spark, tdir, "score", "int")
    with pytest.raises(Exception):
        add_column(spark, tdir, "x", "not_a_type")
    # merge UNDER the new column: only hit files materialize it
    upd = spark.createDataFrame([(1, 111, 9.5), (99, 990, 1.5)], "k long, v long, score double")
    merge_into_version_cow(spark, tdir, upd, ["k"])
    got = {(r.k, r.v, r.score) for r in read_table(spark, tdir).collect()}
    assert (1, 111, 9.5) in got and (99, 990, 1.5) in got and (2, 4, None) in got
    # pre-add time travel has no column
    assert read_table(spark, tdir, version=1).columns == ["k", "v"]
    # drop + re-add same name: all NULL again (synthetic physical name)
    drop_column(spark, tdir, "score")
    add_column(spark, tdir, "score", "double")
    assert {r.score for r in read_table(spark, tdir).collect()} == {None}


def test_file_stats_poison_unusable_minmax_group():
    """A row group whose min/max EXIST but are unusable (undecodable
    bytes) while holding real values must POISON its column, not record
    an all-null-looking [None, None] that a later group's range then
    overwrites — that would let the reader skip a file containing
    matching rows (r9 advice item: the 'every row group contributed'
    invariant was silently violated)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from fp_data_lakehouse_spark.sources.versioned import _collect_file_stats

    d = tempfile.mkdtemp(prefix="vstats_")
    try:
        g1 = pa.table({"k": [1, 2], "b": [b"\xff\xfe", b"\xff\x00"]})
        g2 = pa.table({"k": [3, 4], "b": [b"aa", b"bb"]})
        with pq.ParquetWriter(os.path.join(d, "f.parquet"), g1.schema) as w:
            w.write_table(g1)  # row group 1: unusable binary min/max
            w.write_table(g2)  # row group 2: clean range would mask it
        cols = _collect_file_stats(d, ["f.parquet"]).get("f.parquet", {})
        assert cols.get("k", [None])[:2] == [1, 4]  # sound column kept
        assert "b" not in cols, cols  # poisoned, file never skipped on b
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_restore_version_semantics(spark, tdir):
    from pyspark.sql import functions as F

    from fp_data_lakehouse_spark.sources.versioned import _manifest_body

    df = spark.range(300).selectExpr("id AS k", "id * 2 AS v")
    write_version(df.repartitionByRange(4, "k"), tdir, manifest=True)
    backend = _backend_for(tdir, spark)
    merge_into_version_cow(
        spark, tdir, spark.range(30).selectExpr("id AS k", "id * 100 AS v"), ["k"]
    )
    assert restore_version(spark, tdir, 1) == 3
    assert _manifest_body(tdir, 3, backend)["files"] == _manifest_files(tdir, 1, backend)
    got = {(r.k, r.v) for r in read_table(spark, tdir).collect()}
    assert got == {(i, 2 * i) for i in range(300)}
    # restore is itself a commit: the bad v2 stays time-travelable
    assert read_table(spark, tdir, version=2).filter(F.col("v") == 900).count() == 1
    # restore to head is a no-op; unretained/copy-published refused
    assert restore_version(spark, tdir, 3) == 3
    with pytest.raises(FileNotFoundError):
        restore_version(spark, tdir, 9)
    # vacuum the intermediate: restored head must keep its shared files
    vacuum(tdir, keep_last=1, backend=backend)
    assert {(r.k, r.v) for r in read_table(spark, tdir).collect()} == got


def test_restore_refuses_copy_published_target(spark, tdir):
    write_version(_df(spark, 5), tdir)            # v1 copy-published
    write_version(_df(spark, 7), tdir, manifest=True)
    with pytest.raises(ValueError, match="copy-published"):
        restore_version(spark, tdir, 1)


def test_full_rewrite_merge_applies_dvs(spark, tdir):
    """merge_into_version (full rewrite) reads through the dv-aware
    read_table, so the rewritten snapshot materializes the deletes and
    carries no dv map."""
    from pyspark.sql import functions as F

    from fp_data_lakehouse_spark.sources.versioned import _manifest_body

    write_version(
        spark.range(200).selectExpr("id AS id", "id * 2 AS v").repartitionByRange(4, "id"),
        tdir,
        manifest=True,
    )
    delete_where_dv(spark, tdir, F.col("id") % 10 == 7)
    v3 = merge_into_version(
        spark, tdir, _kv(spark, [(1, 111), (900, 900)]), ["id"], manifest=True
    )
    assert v3 == 3
    assert not _manifest_body(tdir, 3, _backend_for(tdir, spark)).get("dv")
    got = {r.id: r.v for r in read_table(spark, tdir).collect()}
    assert got[1] == 111 and got[900] == 900
    assert 7 not in got and 17 not in got  # dv deletes stayed applied
    assert got[8] == 16


def test_timestamp_time_travel_and_history(spark, tdir):
    import time as _time

    from fp_data_lakehouse_spark.sources.versioned import (
        history,
        version_as_of_timestamp,
    )

    write_version(_df(spark, 3), tdir, manifest=True)
    _time.sleep(0.05)
    write_version(_df(spark, 7), tdir, manifest=True)
    hist = history(tdir)
    assert [h["version"] for h in hist] == [1, 2]
    ts1, ts2 = hist[0]["ts"], hist[1]["ts"]
    assert ts1 < ts2
    assert version_as_of_timestamp(tdir, (ts1 + ts2) / 2) == 1
    assert version_as_of_timestamp(tdir, ts2) == 2
    assert read_table(spark, tdir, as_of=(ts1 + ts2) / 2).count() == 3
    # ISO-string form (UTC)
    import datetime

    iso = datetime.datetime.fromtimestamp(
        (ts1 + ts2) / 2, tz=datetime.timezone.utc
    ).isoformat()
    assert read_table(spark, tdir, as_of=iso).count() == 3
    # before the first commit: loud error; version+as_of: loud error
    with pytest.raises(FileNotFoundError):
        version_as_of_timestamp(tdir, ts1 - 10.0)
    with pytest.raises(ValueError, match="not both"):
        read_table(spark, tdir, version=1, as_of=ts2)


def test_history_mixed_publication_forms(spark, tdir):
    from fp_data_lakehouse_spark.sources.versioned import history

    write_version(_df(spark, 3), tdir)                  # copy-published
    write_version(_df(spark, 7), tdir, manifest=True)
    hist = history(tdir)
    assert [h["form"] for h in hist] == ["copy", "manifest"]
    assert hist[0]["ts"] is None and hist[1]["ts"] is not None
    assert all(h["n_files"] >= 1 for h in hist)


def test_cow_ops_compose_with_deletion_vectors(spark, tdir):
    """CoW DELETE/MERGE on a dv'd head: hit files are rewritten from
    LIVE rows (applying their dv physically), untouched files carry
    their dv entries by reference, and a key matched only by a
    dv-deleted row does NOT force a rewrite."""
    from pyspark.sql import functions as F

    from fp_data_lakehouse_spark.sources.versioned import _manifest_body

    df = spark.range(800).selectExpr("id AS k", "id * 2 AS v")
    write_version(df.repartitionByRange(8, "k"), tdir, manifest=True)
    backend = _backend_for(tdir, spark)
    delete_where_dv(spark, tdir, F.col("k") % 10 == 7)          # v2 (dv on all 8)
    live = {i for i in range(800) if i % 10 != 7}

    # CoW DELETE of a range hitting ~2 files: those rewrite (dv shed),
    # the others carry their dv entries
    v3 = delete_where_cow(spark, tdir, F.col("k") < 150)
    assert v3 == 3
    body3 = _manifest_body(tdir, 3, backend)
    live -= set(range(150))
    assert {r.k for r in read_table(spark, tdir).collect()} == live
    assert body3.get("dv"), "untouched files must keep their dv entries"
    rewritten = set(body3["files"]) - set(_manifest_body(tdir, 2, backend)["files"])
    assert rewritten, "the hit range must have rewritten at least one file"
    assert not set(body3["dv"]) & rewritten, "rewritten files must shed their dv"

    # a key matched ONLY by a dv-deleted row must not rewrite its file:
    # k=307 is dv-deleted (307 % 10 == 7); merge on it inserts fresh
    upd = spark.createDataFrame([(307, 999)], "k BIGINT, v BIGINT")
    v4 = merge_into_version_cow(spark, tdir, upd, ["k"])
    assert v4 == 4
    body4 = _manifest_body(tdir, 4, backend)
    assert set(body4["files"]) - set(body3["files"]), "insert staged a new file"
    assert len(set(body3["files"]) - set(body4["files"])) == 0, (
        "no existing file contained a LIVE match — none may be rewritten"
    )
    got = {r.k: r.v for r in read_table(spark, tdir).collect()}
    assert got[307] == 999 and 157 not in got and 100 not in got
    # CoW MERGE updating a LIVE key in a dv'd file rewrites that file
    # from live rows only (dv applied physically there)
    upd2 = spark.createDataFrame([(555, 111)], "k BIGINT, v BIGINT")
    v5 = merge_into_version_cow(spark, tdir, upd2, ["k"])
    body5 = _manifest_body(tdir, v5, backend)
    got = {r.k: r.v for r in read_table(spark, tdir).collect()}
    assert got[555] == 111 and 557 not in got  # 557 %10==7: stays deleted
    assert len(body5.get("dv", {})) < len(body4.get("dv", {})), (
        "the rewritten file must shed its dv entry"
    )


# ---------------------------------------------------------------------------
# round 9 self-review fixes (rename-after-dv, tag collisions, tmp sweep)
# ---------------------------------------------------------------------------


def test_rename_after_dv_carries_deletion_vectors(spark, tdir):
    """A metadata-only schema commit on a dv'd head must carry the dv
    map — dropping it would silently resurrect deleted rows."""
    from pyspark.sql import functions as F

    from fp_data_lakehouse_spark.sources.versioned import _manifest_body

    write_version(
        spark.range(200).selectExpr("id AS k", "id * 2 AS v").repartitionByRange(4, "k"),
        tdir,
        manifest=True,
    )
    delete_where_dv(spark, tdir, F.col("k") % 10 == 7)
    v3 = rename_column(spark, tdir, "v", "value")
    assert v3 == 3
    backend = _backend_for(tdir, spark)
    assert _manifest_body(tdir, 3, backend).get("dv") == _manifest_body(
        tdir, 2, backend
    ).get("dv")
    got = {r.k for r in read_table(spark, tdir).collect()}
    assert got == {i for i in range(200) if i % 10 != 7}
    # and drop_column likewise
    drop_column(spark, tdir, "value")
    assert {r.k for r in read_table(spark, tdir).collect()} == got


def test_dv_delete_on_table_with_file_pos_columns(spark, tdir):
    """User columns named file/pos must not collide with the dv
    machinery's internal tags."""
    from pyspark.sql import functions as F

    df = spark.range(100).selectExpr(
        "id AS k", "CAST(id AS STRING) AS file", "id * 3 AS pos"
    )
    write_version(df.repartitionByRange(2, "k"), tdir, manifest=True)
    v2 = delete_where_dv(spark, tdir, F.col("pos") % 30 == 0)
    assert v2 == 2
    got = {(r.k, r.file, r.pos) for r in read_table(spark, tdir).collect()}
    assert got == {(i, str(i), 3 * i) for i in range(100) if (3 * i) % 30 != 0}


def test_fsck_sweeps_crash_leftover_temp_files(spark, tdir):
    """Content-atomic create leftovers (._claim_*, ._latest_*,
    *.claimtmp.*) are swept once past the lease TTL. LEASE-LESS temps
    (pointer temps carry a bare version string, manifest temps carry
    manifest JSON — neither parses as a lease) age by file MTIME with
    the same TTL grace: a FRESH one is exactly what a healthy
    in-flight commit holds during its manifest-JSON write, and an
    fsck racing that commit must not abort it (r9 advice item)."""
    import time as _time

    from fp_data_lakehouse_spark.sources.versioned import _lease_line

    write_version(_df(spark, 3), tdir)
    backend = _backend_for(tdir, spark)
    td = tdir.rstrip("/")
    backend.write_text_atomic(f"{td}/._claim_stale123", f"deadwriter {_time.time() - 3600:.3f}")
    backend.write_text_atomic(f"{td}/._latest_orphan", "2")
    backend.write_text_atomic(f"{td}/_claim_v00009.claimtmp.abc123", f"w2 {_time.time() - 3600:.3f}")
    backend.write_text_atomic(f"{td}/._claim_live456", _lease_line("livewriter"))
    report = fsck(tdir, backend)
    # stale-leased temps reclaimed; the fresh lease-less pointer temp
    # SURVIVES (an in-flight commit may own it), as does the live claim
    assert sorted(report["tmp_removed"]) == [
        "._claim_stale123",
        "_claim_v00009.claimtmp.abc123",
    ], report["tmp_removed"]
    assert backend.read_text(f"{td}/._latest_orphan") is not None
    assert backend.read_text(f"{td}/._claim_live456") is not None
    # age the lease-less temp past the TTL (filesystem mtime is the
    # clock for temps that carry no lease) — now it is a true leftover
    local = f"{td.removeprefix('file://')}/._latest_orphan"
    old = _time.time() - 3600
    os.utime(local, (old, old))
    report2 = fsck(tdir, backend)
    assert report2["tmp_removed"] == ["._latest_orphan"], report2["tmp_removed"]
    backend.delete_file(f"{td}/._claim_live456")
    assert read_table(spark, tdir).count() == 3


def test_clustered_compaction_identity_and_layout(spark, tdir):
    """compact_version(cluster_by=...) is a LAYOUT change only: same
    rows (dv applied+cleared like the plain path), and the recorded
    per-file stats become range-disjoint enough that a window on
    EITHER clustered column overlaps at most half the files. NULLs in
    a clustered column bucket to the lowest cell (never dropped);
    non-integral cluster columns and unknown names are refused."""
    from fp_data_lakehouse_spark.sources.versioned import (
        _manifest_body,
        compact_version,
        delete_where_dv,
    )

    n = 4096
    df = spark.range(n).selectExpr(
        "id",
        "CAST(pmod(id * 2654435761, 4096) AS BIGINT) AS x",  # scrambled
        "CAST(pmod(id * 40503, 4096) AS BIGINT) AS y",
        "CASE WHEN id % 97 = 0 THEN NULL ELSE id END AS maybe_null",
    )
    write_version(df.repartition(16), tdir, manifest=True)
    assert delete_where_dv(spark, tdir, "id % 16 = 1") == 2
    v3 = compact_version(spark, tdir, 16, manifest=True, cluster_by=["x", "y"])
    assert v3 == 3
    backend = _backend_for(tdir, spark)
    body = _manifest_body(tdir, 3, backend)
    assert not body.get("dv")

    head = read_table(spark, tdir)
    assert head.count() == n - n // 16
    assert head.filter("id % 16 = 1").count() == 0  # dv applied
    n_null_live = sum(1 for i in range(n) if i % 97 == 0 and i % 16 != 1)
    assert head.filter("maybe_null IS NULL").count() == n_null_live  # nulls kept
    # both clustered columns prune: a 1/8 window overlaps <= half the
    # files. Stats come from local parquet footers only (scheme'd
    # staging documents {} — a real object-store deployment collects
    # them executor-side), so the layout check runs on the local leg.
    stats = body.get("stats") or {}
    if not stats:
        assert "://" in tdir  # only scheme'd backends may skip stats
        return
    assert len(stats) >= 8
    for col in ("x", "y"):
        hit = sum(
            1
            for cols in stats.values()
            if cols.get(col) and cols[col][0] <= 1535 and cols[col][1] >= 1024
        )
        assert hit <= len(stats) // 2, f"{col}: {hit}/{len(stats)}"

    with pytest.raises(ValueError, match="not in"):
        compact_version(spark, tdir, 4, manifest=True, cluster_by=["nope"])
    with pytest.raises(ValueError, match="integral/date/"):
        df2 = spark.range(4).selectExpr("id", "CAST(id AS DOUBLE) AS f")
        write_version(df2, tdir + "_f", manifest=True)
        compact_version(spark, tdir + "_f", 2, manifest=True, cluster_by=["f"])


def test_change_feed_preimages(spark, tdir):
    """preimages=True completes the Delta CDF vocabulary: every update
    emits an update_preimage row (old payload) next to its postimage;
    inserts/deletes stay single rows; dropping the preimage rows
    reproduces the default form exactly."""
    from fp_data_lakehouse_spark.sources.versioned import (
        change_feed,
        merge_into_version,
    )

    write_version(spark.range(4).selectExpr("id", "id * 10 AS v"), tdir)
    # v2: update id=1 (v 10->99), insert id=10, drop id=3
    upd = spark.createDataFrame([(0, 0), (1, 99), (2, 20), (10, 100)], "id long, v long")
    merge_into_version(spark, tdir, upd, keys=["id"])
    from fp_data_lakehouse_spark.sources.versioned import delete_from_version

    from pyspark.sql import functions as F

    delete_from_version(spark, tdir, F.col("id") == 3)

    feed = change_feed(spark, tdir, 1, 3, ["id"], preimages=True)
    got = {(r.id, r._change_type, r.v) for r in feed.collect()}
    assert got == {
        (1, "update_preimage", 10),
        (1, "update_postimage", 99),
        (10, "insert", 100),
        (3, "delete", 30),
    }, got
    plain = change_feed(spark, tdir, 1, 3, ["id"])
    assert {(r.id, r._change_type, r.v) for r in plain.collect()} == {
        t for t in got if t[1] != "update_preimage"
    }


def test_dv_drops_pairs_of_rewritten_files(spark, tdir):
    """A shared dv OBJECT may still carry pairs for files a later CoW
    rewrite dropped; the next dv delete must NOT re-carry those phantom
    pairs (they would grow every successive dv object monotonically and
    inflate the manifest's dv_rows, mis-gating the reader's broadcast
    hint) — round-10 review finding."""
    from pyspark.sql import functions as F

    from fp_data_lakehouse_spark.sources.versioned import (
        _manifest_body,
        delete_where_dv,
        merge_into_version_cow,
    )

    df = spark.range(1000).selectExpr("id", "id * 2 AS v")
    write_version(df.repartitionByRange(8, "id"), tdir, manifest=True)
    backend = _backend_for(tdir, spark)
    # v2: dv across ALL files
    assert delete_where_dv(spark, tdir, F.col("id") % 10 == 3) == 2
    n2 = _manifest_body(tdir, 2, backend)["dv_rows"]
    assert n2 == 100
    # v3: CoW merge rewrites the bottom files (their dv pairs become
    # phantoms in the shared object; the rewrite applied them)
    upd = spark.range(250).selectExpr("id", "id * 3 AS v").filter("id % 10 <> 3")
    assert merge_into_version_cow(spark, tdir, upd, keys=["id"]) == 3
    body3 = _manifest_body(tdir, 3, backend)
    rewritten = set(_manifest_body(tdir, 2, backend)["files"]) - set(body3["files"])
    assert rewritten, "merge must rewrite at least one file"
    # v4: another dv delete — the new object must cover ONLY live files
    assert delete_where_dv(spark, tdir, F.col("id") % 10 == 7) == 4
    body4 = _manifest_body(tdir, 4, backend)
    dv_rel = next(iter(set(body4["dv"].values())))
    pairs = spark.read.parquet(f"{tdir.rstrip('/')}/{dv_rel}")
    live_names = {rel.rsplit("/", 1)[-1] for rel in body4["files"]}
    phantom = pairs.filter(~F.col("file").isin(list(live_names))).count()
    assert phantom == 0, f"{phantom} phantom pairs re-carried"
    assert body4["dv_rows"] == pairs.count()
    # value identity: survivors = not-%3-deleted (minus rewritten rows'
    # own history) and not-%7-deleted
    head = read_table(spark, tdir)
    assert head.filter("id % 10 = 7").count() == 0
    assert head.filter("id % 10 = 3").count() == 0


def test_clustered_compaction_wide_bigint_range(spark, tdir):
    """Bucket arithmetic must not overflow on hash-spread bigint keys
    (span ~2^63): clustering still yields range-disjoint files — a
    1/8-wide window overlaps at most half of them (long math would
    wrap negative and scatter z-values) — round-10 review finding."""
    from fp_data_lakehouse_spark.sources.versioned import (
        _manifest_body,
        compact_version,
    )

    # ids spread over nearly the full signed-64 range, scrambled layout
    df = spark.range(4096).selectExpr(
        "id",
        "CAST(hash(id) AS BIGINT) * CAST(2147483647 AS BIGINT) AS x",
    )
    write_version(df.repartition(8), tdir, manifest=True)
    v2 = compact_version(spark, tdir, 8, manifest=True, cluster_by=["x"])
    assert v2 == 2
    backend = _backend_for(tdir, spark)
    stats = _manifest_body(tdir, 2, backend).get("stats") or {}
    if not stats:
        assert "://" in tdir
        return
    ents = [c["x"] for c in stats.values() if c.get("x")]
    assert len(ents) >= 4
    span = max(e[1] for e in ents) - min(e[0] for e in ents)
    lo = min(e[0] for e in ents) + span // 4
    hi = lo + span // 8
    n_hit = sum(1 for e in ents if e[0] <= hi and e[1] >= lo)
    assert n_hit <= len(ents) // 2, f"wide-range clustering lost locality: {n_hit}/{len(ents)}"
    assert read_table(spark, tdir).count() == 4096


def test_add_column_rejects_pyds_unrepresentable_type(spark, tdir):
    """ADD COLUMN of a type only the JVM reader can parse would brick
    every Python-DataSource read of the table at schema-construction
    time; it must be refused at ADD time instead — round-10 review
    finding."""
    from fp_data_lakehouse_spark.sources.versioned import add_column

    write_version(spark.range(3).selectExpr("id", "id AS v"), tdir, manifest=True)
    with pytest.raises(ValueError, match="not representable"):
        add_column(spark, tdir, "m", "map<string,int>")
    # the table is untouched and still pyds-readable
    from fp_data_lakehouse_spark.sources.pyds import register_python_sources

    register_python_sources(spark)
    got = (
        spark.read.format("fp_versioned").option("path", tdir).load().count()
    )
    assert got == 3
    # a representable type still works
    assert add_column(spark, tdir, "arr", "array<double>") == 2


def test_incremental_clustering_lifecycle(spark, tdir):
    """cluster_version rewrites ONLY files not yet clustered under the
    given columns: the bootstrap pass clusters everything, appended
    ingest is pending next pass while clustered files carry by
    reference, a no-op pass returns the head, and the bookkeeping
    survives dv deletes / metadata commits and shrinks to the carried
    set through a CoW merge."""
    from pyspark.sql import functions as F

    from fp_data_lakehouse_spark.sources.versioned import (
        _manifest_body,
        cluster_version,
        delete_where_dv,
        merge_into_version_cow,
        rename_column,
    )

    def mk(lo, hi):
        return spark.range(lo, hi).selectExpr(
            "id", "CAST(pmod(id * 2654435761, 100000) AS BIGINT) AS x"
        )

    write_version(mk(0, 4000).repartition(8), tdir, manifest=True)
    backend = _backend_for(tdir, spark)

    # bootstrap: everything pending -> full rewrite, all marked
    v2 = cluster_version(spark, tdir, 8, ["x"])
    assert v2 == 2
    b2 = _manifest_body(tdir, 2, backend)
    assert set(b2["clustered"]["files"]) == set(b2["files"])
    assert b2["clustered"]["cols"] == ["x"]

    # steady state: append new ingest (insert-only CoW merge carries
    # every clustered file), cluster again -> only the new files move
    v3 = merge_into_version_cow(spark, tdir, mk(4000, 5000), keys=["id"])
    b3 = _manifest_body(tdir, v3, backend)
    assert set(b3["clustered"]["files"]) == set(b2["files"])  # carried
    new_ingest = set(b3["files"]) - set(b2["files"])
    assert new_ingest
    v4 = cluster_version(spark, tdir, 2, ["x"])
    b4 = _manifest_body(tdir, v4, backend)
    assert set(b2["files"]) < set(b4["files"])  # clustered files carried
    assert not new_ingest & set(b4["files"])  # pending files rewritten
    assert set(b4["clustered"]["files"]) == set(b4["files"])
    assert read_table(spark, tdir).count() == 5000

    # no-op: nothing pending
    assert cluster_version(spark, tdir, 2, ["x"]) == v4

    # dv delete carries the bookkeeping verbatim; a RENAME of the
    # clustering column translates the mark's cols by field id (the
    # physical z-layout is untouched — invalidating would force an
    # O(table) rewrite on a metadata-only commit)
    v5 = delete_where_dv(spark, tdir, F.col("id") % 50 == 7)
    v6 = rename_column(spark, tdir, "x", "xr")
    b6 = _manifest_body(tdir, v6, backend)
    assert set(b6["clustered"]["files"]) == set(b4["files"])
    assert b6["clustered"]["cols"] == ["xr"], "rename must follow the mark"
    assert cluster_version(spark, tdir, 4, ["xr"]) == v6  # still a no-op

    # a genuinely DIFFERENT clustering key re-bootstraps: full rewrite,
    # pending dvs applied physically and cleared
    v7 = cluster_version(spark, tdir, 4, ["id"])
    assert v7 == v6 + 1
    b7 = _manifest_body(tdir, v7, backend)
    assert b7["clustered"]["cols"] == ["id"]
    assert not b7.get("dv"), "full re-cluster applies and clears dvs"
    head = read_table(spark, tdir)
    assert head.columns == ["id", "xr"]
    assert head.count() == 5000 - 100
    assert head.filter("id % 50 = 7").count() == 0


def test_clustered_compaction_string_column(spark, tdir):
    """cluster_by on a STRING key (tenant-style ids sharing a long
    literal prefix): the longest common prefix of the observed bounds
    is stripped before the 7-byte rank, so the shared prefix does not
    collapse every value into one bucket — a 1/8 window of the key
    space overlaps at most half the files."""
    from fp_data_lakehouse_spark.sources.versioned import (
        _manifest_body,
        compact_version,
    )

    df = spark.range(4096).selectExpr(
        "id",
        "concat('tenant-', lpad(CAST(pmod(id * 2654435761, 8000) AS STRING), 6, '0')) AS tenant",
    )
    write_version(df.repartition(8), tdir, manifest=True)
    assert compact_version(spark, tdir, 8, manifest=True, cluster_by=["tenant"]) == 2
    backend = _backend_for(tdir, spark)
    stats = _manifest_body(tdir, 2, backend).get("stats") or {}
    if not stats:
        assert "://" in tdir
        return
    ents = [c["tenant"] for c in stats.values() if c.get("tenant")]
    assert len(ents) >= 4
    lo, hi = "tenant-002000", "tenant-002999"  # ~1/8 of the key space
    n_hit = sum(1 for e in ents if e[0] <= hi and e[1] >= lo)
    assert n_hit <= len(ents) // 2, f"string clustering lost locality: {n_hit}/{len(ents)}"
    assert read_table(spark, tdir).count() == 4096


def test_read_table_skip_filters(spark, tdir):
    """skip_filters prunes whole files from the JVM read plan using the
    manifest stats (same soundness rules as the pyds pushdown): the
    plan lists only possibly-matching files, values after applying the
    REAL filter equal the unpruned read, stats-less files are kept,
    renamed columns resolve logically, and an impossible conjunct
    yields an empty frame without a scan."""
    from pyspark.sql import functions as F

    from fp_data_lakehouse_spark.sources.versioned import rename_column

    df = spark.range(1600).selectExpr("id", "id * 3 AS v")
    write_version(df.repartitionByRange(8, "id"), tdir, manifest=True)

    pruned = read_table(spark, tdir, skip_filters=[("id", "le", 199)])
    full = read_table(spark, tdir)
    backend = _backend_for(tdir, spark)
    stats_known = bool(
        __import__(
            "fp_data_lakehouse_spark.sources.versioned", fromlist=["_manifest_body"]
        )._manifest_body(tdir, 1, backend).get("stats")
    )
    if stats_known:
        assert len(pruned.inputFiles()) <= len(full.inputFiles()) // 4
    # superset-of-matching contract: real filter on top == unpruned
    a = sorted(r.id for r in pruned.filter(F.col("id") <= 199).collect())
    b = sorted(r.id for r in full.filter(F.col("id") <= 199).collect())
    assert a == b == list(range(200))

    # logical names resolve through a rename
    assert rename_column(spark, tdir, "id", "key") == 2
    pr = read_table(spark, tdir, skip_filters=[("key", "ge", 1400)])
    got = sorted(r.key for r in pr.filter(F.col("key") >= 1400).collect())
    assert got == list(range(1400, 1600))
    if stats_known:
        assert len(pr.inputFiles()) <= 2

        # impossible conjunct: empty frame, no files planned
        none = read_table(spark, tdir, skip_filters=[("key", "gt", 10_000_000)])
        assert none.count() == 0
        assert none.columns == ["key", "v"]


def test_skip_filters_shape_validated_on_vdir_versions(spark, tdir):
    """Malformed skip_filters fail loudly on BOTH publication forms:
    the copy-published (v-dir) early return must not skip the shape
    validation (round-10 ADVICE) — a typo'd op is a caller bug whether
    or not pruning could have happened."""
    write_version(spark.range(10).selectExpr("id"), tdir)  # v-dir publish
    with pytest.raises(ValueError, match="skip_filters entries"):
        read_table(spark, tdir, skip_filters=[("id", "equals", 3)])
    with pytest.raises(ValueError, match="skip_filters entries"):
        read_table(spark, tdir, skip_filters=[("id", "le")])
    # well-formed hints on a v-dir version are accepted (no stats
    # travel with a copy publish, so they prune nothing)
    assert read_table(spark, tdir, skip_filters=[("id", "le", 3)]).count() == 10


# ---------------------------------------------------------------------------
# recorded schemas: every manifest commit records the physical Spark
# schema, and reads plan from it without a footer-inference job
# ---------------------------------------------------------------------------

import json  # noqa: E402

from fp_data_lakehouse_spark.sources import versioned as vt  # noqa: E402


def _jobs_during(spark, fn):
    """Spark jobs submitted while ``fn`` runs, counted through a job
    group. A job in a second group acts as a barrier: status events are
    delivered in order, so once it is visible every earlier job is."""
    sc = spark.sparkContext
    gid = f"count-{os.getpid()}-{id(fn)}"
    sc.setJobGroup(gid, "jobs during build")
    try:
        out = fn()
    finally:
        sc.setJobGroup(gid + "-barrier", "barrier")
        spark.range(1).count()
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    for _ in range(200):
        if tracker.getJobIdsForGroup(gid + "-barrier"):
            break
        time.sleep(0.01)
    return out, len(tracker.getJobIdsForGroup(gid))


def _fallback_schema(spark, td, body):
    """What a read of this version infers when its manifest records no
    schema: the footer schema, merged and NULL-backfilled for added
    columns."""
    legacy = {k: val for k, val in body.items() if k != "schema"}
    return vt._read_physical(spark, td, body["files"], legacy).schema


def test_recorded_schema_matches_inference_on_every_commit_path(spark, tmp_path):
    """Each manifest-writing path records the schema a footer inference
    returns for its version — nested types and non-null source columns
    included (parquet reads everything back as nullable)."""
    from pyspark.sql import functions as F

    td = str(tmp_path / "t")
    df = spark.range(60).selectExpr(
        "id AS k",
        "id * 2 AS v",
        "CAST(id AS STRING) AS s",
        "array(id) AS arr",
        "named_struct('a', id, 'b', array(id)) AS st",
        "map('x', id) AS m",
        "timestamp_seconds(id) AS ts",
    )
    backend = vt._backend_for(td)
    made = [vt.write_version(df.repartitionByRange(4, "k"), td, manifest=True)]
    upd = spark.range(55, 65).selectExpr(
        "id AS k", "id * 7 AS v", "'u' AS s", "array(id) AS arr",
        "named_struct('a', id, 'b', array(id)) AS st", "map('y', id) AS m",
        "timestamp_seconds(id) AS ts",
    )
    made.append(vt.merge_into_version_cow(spark, td, upd, ["k"]))
    made.append(vt.delete_where_cow(spark, td, F.col("k") < 5))
    made.append(vt.delete_where_dv(spark, td, F.col("k") == 30))
    made.append(vt.compact_version(spark, td, 2, manifest=True))
    made.append(vt.merge_into_version_cow(spark, td, upd.limit(1), ["k"]))
    made.append(vt.cluster_version(spark, td, 2, ["k"]))
    made.append(vt.restore_version(spark, td, made[0]))
    made.append(vt.rename_column(spark, td, "s", "s2"))
    made.append(vt.drop_column(spark, td, "arr"))
    made.append(vt.add_column(spark, td, "score", "double"))
    late = spark.createDataFrame(
        [(1000, 1, "n", (1000, [1000]), {"z": 1}, None, 2.5)],
        "k long, v long, s2 string, st struct<a:long,b:array<long>>, "
        "m map<string,long>, ts timestamp, score double",
    )
    made.append(vt.merge_into_version_cow(spark, td, late, ["k"]))
    assert made == list(range(1, len(made) + 1))
    for v in made:
        body = vt._manifest_body(td, v, backend)
        assert "schema" in body, f"v{v} records no schema"
        recorded = vt._manifest_schema(body)
        inferred = _fallback_schema(spark, td, body)
        if body.get("columns"):
            # a footer merge over files of two shapes (a CoW rewrite
            # after DROP COLUMN) orders fields by file listing; readers
            # select mapped columns by name
            recorded = sorted(recorded.fields, key=lambda f: f.name)
            inferred = sorted(inferred.fields, key=lambda f: f.name)
        assert recorded == inferred, f"v{v}"


def test_read_table_builds_without_jobs(spark, tmp_path):
    """Building a read of a manifest head, a deletion-vector version and
    an added-column version submits no Spark job: the scan is planned
    from the recorded schema (the dv parquet from its fixed one)."""
    from pyspark.sql import functions as F

    td = str(tmp_path / "t")
    vt.write_version(
        spark.range(40).selectExpr("id AS k", "id * 2 AS v").repartition(2), td, manifest=True
    )
    vt.delete_where_dv(spark, td, F.col("k") == 3)
    vt.add_column(spark, td, "score", "double")
    for v in (1, 2, 3):
        df, jobs = _jobs_during(spark, lambda v=v: vt.read_table(spark, td, version=v))
        assert jobs == 0, f"building v{v} ran {jobs} job(s)"
        assert df.count() == (40 if v == 1 else 39)
    df = vt.read_table(spark, td)
    assert df.columns == ["k", "v", "score"]
    assert df.filter(F.col("score").isNull()).count() == 39
    assert df.filter(F.col("k") == 3).count() == 0


def test_manifest_without_schema_reads_through_inference(spark, tmp_path):
    """A manifest written before commits recorded the schema still reads
    (footer inference, merged for an added column); metadata commits
    carry the absence forward, and the next rewrite records one."""
    from pyspark.sql import functions as F

    td = str(tmp_path / "t")
    vt.write_version(
        spark.range(20).selectExpr("id AS k", "id * 2 AS v").repartition(2), td, manifest=True
    )
    path = f"{td}/_manifest_v00001.json"
    with open(path) as fh:
        body = json.load(fh)
    del body["schema"]
    with open(path, "w") as fh:
        json.dump(body, fh)
    df, jobs = _jobs_during(spark, lambda: vt.read_table(spark, td))
    assert jobs >= 1  # the inference fallback ran
    assert sorted(r.k for r in df.collect()) == list(range(20))
    vt.add_column(spark, td, "score", "double")
    backend = vt._backend_for(td)
    assert "schema" not in vt._manifest_body(td, 2, backend)
    df = vt.read_table(spark, td)
    assert df.columns == ["k", "v", "score"]
    assert df.filter(F.col("score").isNull()).count() == 20
    upd = spark.createDataFrame([(1, 5, 1.5)], "k long, v long, score double")
    vt.merge_into_version_cow(spark, td, upd, ["k"])
    assert "schema" in vt._manifest_body(td, 3, backend)
    got = {(r.k, r.v, r.score) for r in vt.read_table(spark, td).collect()}
    assert (1, 5, 1.5) in got and (2, 4, None) in got and len(got) == 20


def _intruder_backend(inner, td):
    """Hands the claim to another writer the first time the committing
    writer checks its ownership — a reclaim after ``_claim_slot``."""
    fired = []

    class _Backend:
        def __getattr__(self, name):
            return getattr(inner, name)

        def read_text(self, p):
            if "/_claim_v" in p and not fired:
                fired.append(p)
                inner.write_text_atomic(p, vt._lease_line("intruder"))
            return inner.read_text(p)

    return _Backend()


def test_write_version_leaves_a_reclaimed_claim_in_place(spark, tdir):
    """A writer that finds its claim owned by another writer raises and
    leaves that writer's ``_claim_v*`` marker where it is."""
    write_version(_df(spark, 3), tdir, manifest=True)
    inner = _backend_for(tdir, spark)
    td = tdir.rstrip("/")
    with pytest.raises(ConcurrentWriteError, match="no longer owned"):
        write_version(_df(spark, 9), tdir, backend=_intruder_backend(inner, td), manifest=True)
    assert latest_version(tdir) == 1
    lease = inner.read_text(f"{td}/_claim_v00002")
    assert lease is not None and lease.startswith("intruder ")


def test_commit_files_leaves_a_reclaimed_claim_in_place(tmp_path, monkeypatch):
    """The Python DataSource commit (``_commit_files``) releases only a
    claim it still owns."""
    d = str(tmp_path / "t")
    backend = vt.LocalFsBackend()
    staging = f"{d}/_stream_staging_x"
    backend.makedirs(staging)
    real_claim_slot = vt._claim_slot

    def reclaimed(table_dir, backend, base_version, **kw):
        v = real_claim_slot(table_dir, backend, base_version, **kw)
        backend.write_text_atomic(f"{table_dir}/_claim_v{v:05d}", vt._lease_line("intruder"))
        return v

    monkeypatch.setattr(vt, "_claim_slot", reclaimed)
    with pytest.raises(ConcurrentWriteError, match="no longer owned"):
        vt._commit_files(d, backend, staging, [], "writer1")
    assert latest_version(d) is None
    assert backend.read_text(f"{d}/_claim_v00001").startswith("intruder ")


# ---------------------------------------------------------------------------
# every commit path: a stale base aborts cleanly, and a claim handed to
# another writer stays with that writer
# ---------------------------------------------------------------------------


from pyspark.sql import functions as F  # noqa: E402

# each commits onto the two-version manifest table _head_table builds
# (head v2), passing its backend through
_COMMIT_PATHS = {
    "write_version_manifest": lambda spark, td, b: vt.write_version(
        spark.range(5).selectExpr("id AS k", "id AS v"), td, b, base_version=2, manifest=True
    ),
    "write_version_copy": lambda spark, td, b: vt.write_version(
        spark.range(5).selectExpr("id AS k", "id AS v"), td, b, base_version=2
    ),
    "delete_where_cow": lambda spark, td, b: vt.delete_where_cow(
        spark, td, F.col("k") < 3, backend=b
    ),
    "merge_into_version_cow": lambda spark, td, b: vt.merge_into_version_cow(
        spark, td, spark.createDataFrame([(1, 7), (99, 7)], "k long, v long"), ["k"], backend=b
    ),
    "delete_where_dv": lambda spark, td, b: vt.delete_where_dv(
        spark, td, F.col("k") == 3, backend=b
    ),
    "restore_version": lambda spark, td, b: vt.restore_version(spark, td, 1, backend=b),
    "rename_column": lambda spark, td, b: vt.rename_column(spark, td, "v", "w", backend=b),
    "cluster_version": lambda spark, td, b: vt.cluster_version(spark, td, 1, ["k"], backend=b),
}


def _head_table(spark, td):
    df = spark.range(40).selectExpr("id AS k", "id * 2 AS v").repartition(2)
    vt.write_version(df, td, manifest=True)
    vt.write_version(df, td, manifest=True)


@pytest.mark.parametrize("path", sorted(_COMMIT_PATHS))
def test_commit_path_aborts_on_a_commit_after_its_read(spark, tmp_path, path):
    """A commit landing between a path's read and its claim fails the
    path with ConcurrentWriteError. It publishes nothing and leaves no
    claim, staging dir or unreferenced ``_data`` prefix behind."""
    td = str(tmp_path / "t")
    _head_table(spark, td)
    racing = _RaceInjectingBackend(LocalFsBackend(), spark, td)
    with pytest.raises(ConcurrentWriteError, match="re-read and retry"):
        _COMMIT_PATHS[path](spark, td, racing)
    assert latest_version(td) == 3  # the racer's commit
    assert versions(td) == [1, 2, 3]
    left = [n for n in os.listdir(td) if n.startswith(("_claim_", "_staging_"))]
    assert not left, left
    backend = LocalFsBackend()
    referenced = {
        rel.split("/")[1]
        for mv in (1, 2)
        for rel in vt._manifest_all_rels(vt._manifest_body(td, mv, backend))
    }
    assert set(os.listdir(f"{td}/_data")) == referenced


@pytest.mark.parametrize("path", sorted(_COMMIT_PATHS))
def test_commit_path_leaves_a_reclaimed_claim_to_its_owner(spark, tmp_path, monkeypatch, path):
    """Another writer's lease lands on the claim right after
    ``_claim_slot`` hands it out (a reclaim while this writer stalled).
    The claim heartbeat must not write it back: the path raises,
    publishes nothing, and the marker keeps the other writer's lease."""
    td = str(tmp_path / "t")
    _head_table(spark, td)
    real_claim_slot = vt._claim_slot

    def reclaimed(table_dir, backend, base_version, **kw):
        v = real_claim_slot(table_dir, backend, base_version, **kw)
        backend.write_text_atomic(f"{table_dir}/_claim_v{v:05d}", vt._lease_line("intruder"))
        return v

    monkeypatch.setattr(vt, "_claim_slot", reclaimed)
    with pytest.raises(ConcurrentWriteError, match="no longer owned"):
        _COMMIT_PATHS[path](spark, td, None)
    assert latest_version(td) == 2
    assert versions(td) == [1, 2]
    assert not os.path.exists(f"{td}/_manifest_v00003.json")
    assert LocalFsBackend().read_text(f"{td}/_claim_v00003").startswith("intruder ")


@pytest.mark.parametrize("backend", [LocalFsBackend(), ConditionalPutBackend()], ids=["local", "condput"])
def test_claim_lease_refreshes_only_while_owned(tmp_path, backend):
    """A claim lease writes nothing on entry (``_claim_slot`` just wrote
    the marker), renews the marker while it names this writer, and
    stops once another writer's lease replaces it."""
    p = str(tmp_path / "_claim_v00001")
    first = f"w1 {time.time() - 30:.3f}"
    assert backend.create_exclusive(p, first)
    with _Lease(backend, p, "w1", interval_sec=0.05, claim=True):
        assert backend.read_text(p) == first
        deadline = time.time() + 10
        while backend.read_text(p) == first and time.time() < deadline:
            time.sleep(0.005)
        renewed = backend.read_text(p)
        assert renewed.startswith("w1 ") and _lease_age_sec(renewed, time.time()) < 5
        other = _lease_line("intruder")
        backend.write_text_atomic(p, other)
        time.sleep(0.3)
        assert backend.read_text(p) == other
