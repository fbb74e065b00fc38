"""Property-based tests (hypothesis) for the operators with the
subtlest semantics: the as-of join and streaming-batch sessionization
are checked against tiny obviously-correct Python models on randomized
inputs — the cases a fixed fixture never covers (duplicate timestamps,
empty sides, single-row groups, all-rows-one-key).

Examples are bounded (SMALL lists, max_examples capped) because each
example round-trips through Spark; the value is input diversity, not
volume.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from fp_data_lakehouse_spark.operators.asof import asof_join
from fp_data_lakehouse_spark.operators.rangejoin import range_join
from fp_data_lakehouse_spark.operators.skew import salted_join

_settings = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

# (key, ts, id) rows; ids globally unique per side by construction below
_rows = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 50)),
    min_size=0,
    max_size=25,
)


def _asof_model(left, right):
    """Obviously-correct O(n^2) model: latest right at-or-before, ties
    broken by highest id."""
    out = set()
    for lk, lt, lid in left:
        cands = [(rt, rid) for rk, rt, rid in right if rk == lk and rt <= lt]
        if cands:
            rt, rid = max(cands, key=lambda c: (c[0], c[1]))
            out.add((lk, lid, rid))
    return out


@given(l=_rows, r=_rows)
@_settings
def test_asof_join_matches_model(spark, l, r):
    left = [(k, t, i) for i, (k, t) in enumerate(l)]
    right = [(k, t, 1000 + i) for i, (k, t) in enumerate(r)]
    schema = "k INT, ts INT, event_id INT"
    ldf = spark.createDataFrame(left or [], schema)
    rdf = spark.createDataFrame(right or [], schema)
    got = {
        (row.k, row.l_event_id, row.r_event_id)
        for row in asof_join(ldf, rdf, "ts", ["k"], "event_id").collect()
    }
    assert got == _asof_model(left, right)


@given(l=_rows, r=_rows, w=st.integers(1, 20))
@_settings
def test_range_join_matches_model(spark, l, r, w):
    """Bucketed range join == brute-force |diff| <= W on random data,
    including boundary-exact diffs and hot keys."""
    left = [(k, t, i) for i, (k, t) in enumerate(l)]
    right = [(k, t, 1000 + i) for i, (k, t) in enumerate(r)]
    want = {
        (lk, lid, rid, rt - lt)
        for lk, lt, lid in left
        for rk, rt, rid in right
        if rk == lk and abs(rt - lt) <= w
    }
    # ints stand in for micros: wrap them as epoch-micro timestamps
    schema = "k INT, ts TIMESTAMP, event_id INT"
    to_df = lambda rows: spark.createDataFrame(
        [(k, __import__("datetime").datetime.utcfromtimestamp(t / 1e6), i) for k, t, i in rows] or [],
        schema,
    )
    got = {
        (row.k, row.l_event_id, row.r_event_id, row.diff_us)
        for row in range_join(to_df(left), to_df(right), "ts", ["k"], w).collect()
    }
    assert got == want


@given(rows=st.lists(st.tuples(st.integers(0, 5), st.integers(0, 30)), max_size=30))
@_settings
def test_salted_join_matches_plain_on_random_data(spark, rows):
    fact = spark.createDataFrame(
        [(k, i) for i, (k, _) in enumerate(rows)] or [], "k INT, payload INT"
    )
    dim = spark.createDataFrame([(k, k * 10) for k in range(4)], "k INT, attr INT")
    plain = {tuple(r) for r in fact.join(dim, "k").collect()}
    salted = {tuple(r) for r in salted_join(fact, dim, "k", n_salts=3).collect()}
    assert salted == plain


@given(
    split=st.integers(5, 35),
    overlap=st.integers(0, 10),
)
@settings(max_examples=4, deadline=None, suppress_health_check=list(HealthCheck))
def test_incremental_load_converges_for_any_split(spark, tmp_path_factory, split, overlap):
    """Any 2-batch split of the corpus (with any redelivery overlap)
    must converge to the full-rebuild warehouse on natural keys."""
    import shutil
    import tempfile

    from fp_data_lakehouse_spark.etl import build_star_schema
    from fp_data_lakehouse_spark.etl.incremental import incremental_load
    from .transcript_fixtures import make_documents

    docs = make_documents()
    b1 = docs[:split]
    b2 = docs[max(0, split - overlap):]

    wh = tempfile.mkdtemp(prefix="incr_prop_")
    try:
        for batch in (b1, b2):
            incremental_load(
                spark, spark.createDataFrame(batch, "doc_id STRING, text STRING"), wh
            )
        fact = spark.read.parquet(f"{wh}/fact_nilai_mk.parquet")
        dm = spark.read.parquet(f"{wh}/dim_mahasiswa.parquet")
        dk = spark.read.parquet(f"{wh}/dim_matakuliah.parquet")
        dn = spark.read.parquet(f"{wh}/dim_nilai.parquet")
        got = {
            tuple(r)
            for r in fact.join(dm.select("id_mahasiswa", "nrp"), "id_mahasiswa")
            .join(dk.select("id_mk", "kode_mk"), "id_mk")
            .join(dn.select("id_nilai", "huruf"), "id_nilai")
            .select("nrp", "kode_mk", "tahun", "semester", "huruf", "sks")
            .collect()
        }
        full = build_star_schema(
            spark, spark.createDataFrame(docs, "doc_id STRING, text STRING")
        )
        want = {
            tuple(r)
            for r in full["fact_nilai_mk"]
            .join(full["dim_mahasiswa"].select("id_mahasiswa", "nrp"), "id_mahasiswa")
            .join(full["dim_matakuliah"].select("id_mk", "kode_mk"), "id_mk")
            .join(full["dim_nilai"].select("id_nilai", "huruf"), "id_nilai")
            .select("nrp", "kode_mk", "tahun", "semester", "huruf", "sks")
            .collect()
        }
        assert got == want
    finally:
        shutil.rmtree(wh, ignore_errors=True)


@given(l=_rows, r=_rows)
@_settings
def test_asof_left_join_matches_model(spark, l, r):
    """how='left' keeps unmatched left rows with a null right id and
    agrees with the inner model on every matched row."""
    left = [(k, t, i) for i, (k, t) in enumerate(l)]
    right = [(k, t, 1000 + i) for i, (k, t) in enumerate(r)]
    schema = "k INT, ts INT, event_id INT"
    ldf = spark.createDataFrame(left or [], schema)
    rdf = spark.createDataFrame(right or [], schema)
    got = {
        (row.k, row.l_event_id, row.r_event_id)
        for row in asof_join(ldf, rdf, "ts", ["k"], "event_id", how="left").collect()
    }
    inner = _asof_model(left, right)
    matched_left_ids = {lid for _, lid, _ in inner}
    want = inner | {
        (lk, lid, None) for lk, _, lid in left if lid not in matched_left_ids
    }
    assert got == want


def test_scd2_history_is_consistent(spark):
    """vt02's versioned rows must tile each customer's timeline: version
    numbers consecutive from 1, exactly one open (is_current) interval,
    each closed interval ending exactly where the next begins, and
    adjacent versions always changing the tracked attribute."""
    from fp_data_lakehouse_spark.operators.versionquery import (
        vt02_scd2_priority_history,
    )

    from .conftest import SF_ORACLE

    rows = vt02_scd2_priority_history(spark, SF_ORACLE).collect()
    by_cust: dict = {}
    for r in rows:
        by_cust.setdefault(r.c_custkey, []).append(r)
    assert by_cust
    for cust, hist in by_cust.items():
        hist.sort(key=lambda r: r.version_no)
        assert [r.version_no for r in hist] == list(range(1, len(hist) + 1))
        assert sum(1 for r in hist if r.is_current) == 1
        assert hist[-1].is_current and hist[-1].valid_to_epoch is None
        for a, b in zip(hist, hist[1:]):
            assert a.valid_to_epoch == b.valid_from_epoch
            assert a.priority != b.priority


def test_mixture_allocation_matches_largest_remainder_model(spark):
    """sp07's per-source sample counts must equal the largest-remainder
    allocation recomputed independently in Python, and the total must
    hit the budget exactly whenever no source truncates."""
    from collections import Counter

    from fp_data_lakehouse_spark.operators.sampling import (
        _BUDGET_FRAC_DEN,
        _BUDGET_FRAC_NUM,
        _MIX_DEN,
        _MIX_W,
        sp07_mixture_allocation_sample,
    )
    from fp_data_lakehouse_spark.sources.catalog import load_table

    from .conftest import SF_ORACLE

    got = Counter(
        r.source for r in sp07_mixture_allocation_sample(spark, SF_ORACLE).collect()
    )
    avail = {
        r.source: r.n
        for r in load_table(spark, SF_ORACLE, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    budget = sum(avail.values()) * _BUDGET_FRAC_NUM // _BUDGET_FRAC_DEN
    base = {s: budget * _MIX_W.get(s, 0) // _MIX_DEN for s in avail}
    rem = {s: budget * _MIX_W.get(s, 0) % _MIX_DEN for s in avail}
    leftover = budget - sum(base.values())
    for s in sorted(avail, key=lambda s: (-rem[s], s))[:leftover]:
        base[s] += 1
    expected = {s: min(base[s], avail[s]) for s in avail}
    assert dict(got) == {s: n for s, n in expected.items() if n > 0}
    if all(base[s] <= avail[s] for s in avail):
        assert sum(got.values()) == budget


_touch_rows = st.lists(
    st.tuples(
        st.integers(0, 2),  # user
        st.integers(0, 12),  # ts (collisions likely -> tie-break paths)
        st.sampled_from(["view", "click", "error", "purchase"]),
    ),
    min_size=0,
    max_size=20,
)


def _touch_model(rows):
    """Obviously-correct model of touch_windows: for each event, the
    first and latest STRICTLY PRIOR non-purchase type of that user in
    (ts, event_id) order."""
    out = {}
    by_user = {}
    for eid, (u, t, ty) in enumerate(rows):
        by_user.setdefault(u, []).append((t, eid, ty))
    for u, evs in by_user.items():
        evs.sort()
        seen = []
        for t, eid, ty in evs:
            first = next((x for x in seen if x is not None), None)
            last = next((x for x in reversed(seen) if x is not None), None)
            out[eid] = (first, last)
            seen.append(ty if ty != "purchase" else None)
    return out


@given(rows=_touch_rows)
@_settings
def test_touch_windows_match_model(spark, rows):
    from fp_data_lakehouse_spark.operators.eventops import touch_windows

    data = [(u, t, eid, ty) for eid, (u, t, ty) in enumerate(rows)]
    df = spark.createDataFrame(
        data or [], "user_id INT, ts INT, event_id INT, event_type STRING"
    )
    got = {
        r.event_id: (r.first_touch, r.last_touch)
        for r in touch_windows(df).collect()
    }
    assert got == _touch_model(rows)


# Texts with whitespace pathologies: runs of mixed whitespace, leading/
# trailing space, repeated tokens (distinctness), short docs (< 3
# tokens => no shingles), empty strings.
_texts = st.lists(
    st.text(
        alphabet=st.sampled_from(list("ab XY\t\n  ")),
        min_size=0,
        max_size=40,
    ),
    min_size=1,
    max_size=8,
)


def _shingle_model(text: str) -> set[str]:
    """Obviously-correct model of the 3-gram shingle SET under the
    ACTUAL cross-engine tokenization semantics: SQL trim() strips
    SPACES only (not \n/\t — both Spark and DuckDB), and regex split
    keeps empty boundary pieces, so '\nX\n' tokenizes to
    ['', 'x', ''] and legitimately yields the shingle ' x '. The first
    draft of this model used Python strip()+empty-filtering and was
    refuted by hypothesis — the engines agree with EACH OTHER, which
    is what the oracle comparisons need."""
    import re

    t = text.strip(" ").lower()
    toks = re.split(r"\s+", t, flags=re.ASCII)
    return {
        " ".join(toks[i : i + 3]) for i in range(max(len(toks) - 2, 0))
    }


@given(texts=_texts)
@_settings
def test_shingle_rows_match_model(spark, texts, tmp_path_factory):
    """The round-4 lead-window shingle pipeline must produce EXACTLY
    the model's shingle set per document — the rework changed the
    execution strategy (posexplode + lead windows vs in-row HOF), and
    this pins that the semantics did not move, including the
    whitespace/short-doc/duplicate-token edges."""
    from fp_data_lakehouse_spark.operators.dedup import _shingle_rows

    d = tmp_path_factory.mktemp("shingle_prop")
    rows = [(i, t) for i, t in enumerate(texts)]
    spark.createDataFrame(rows, "doc_id LONG, text STRING").write.mode(
        "overwrite"
    ).parquet(f"{d}/documents.parquet")
    got: dict[int, set] = {}
    for r in _shingle_rows(spark, str(d)).collect():
        got.setdefault(r.doc_id, set()).add(r.shingle)
    want = {i: _shingle_model(t) for i, t in rows if _shingle_model(t)}
    assert got == want


_short_texts = st.lists(
    # 'e' and '1' are prescreen/band dimensions in dd18's round-6
    # multi-dimensional banding — including them drives pairs across
    # letter-count and digit-count band boundaries, not just length.
    st.text(alphabet=st.sampled_from(list("abe1")), min_size=0, max_size=20),
    min_size=1,
    max_size=10,
)


@given(texts=_short_texts)
@_settings
def test_edit_distance_pairs_match_bruteforce(spark, texts, tmp_path_factory):
    """dd18's banded + canonical-band + bag-screen pipeline must emit
    EXACTLY the brute-force qualifying pairs, each once — randomized
    lengths drive pairs across band boundaries (the case the canonical
    max(floor(la/B), floor(lb/B)) dedup argument has to survive)."""
    import itertools

    from fp_data_lakehouse_spark.operators.dedup import (
        _EDIT_D,
        dd18_edit_distance_pairs,
    )

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    d = tmp_path_factory.mktemp("dd18_prop")
    rows = [(i, t) for i, t in enumerate(texts)]
    spark.createDataFrame(rows, "doc_id LONG, text STRING").write.mode(
        "overwrite"
    ).parquet(f"{d}/documents.parquet")
    got = sorted(
        (r.doc_id_a, r.doc_id_b, r.edit_distance)
        for r in dd18_edit_distance_pairs(spark, str(d)).collect()
    )
    want = sorted(
        (i, j, lev(a, b))
        for (i, a), (j, b) in itertools.combinations(rows, 2)
        if lev(a, b) <= _EDIT_D
    )
    assert got == want


# ---------------------------------------------------------------------------
# run_overlapped (r14): concurrent pass with sequential fallback
# ---------------------------------------------------------------------------


def test_run_overlapped_concurrent_results_in_order():
    from fp_data_lakehouse_spark.operators.registry import run_overlapped

    assert run_overlapped(lambda x: x * x, [1, 2, 3, 4], 3) == [1, 4, 9, 16]


def test_run_overlapped_falls_back_sequentially_on_failure():
    import threading

    from fp_data_lakehouse_spark.operators.registry import run_overlapped

    calls = {"concurrent": 0, "sequential": 0}
    main = threading.main_thread()

    def fn(x):
        if threading.current_thread() is not main:
            calls["concurrent"] += 1
            raise RuntimeError("injected concurrency race")
        calls["sequential"] += 1
        return x + 10

    # Pool pass raises (simulated OptionalDataException race) -> one
    # clean sequential pass produces the full, ordered result.
    assert run_overlapped(fn, [1, 2, 3], 2) == [11, 12, 13]
    assert calls["concurrent"] >= 1
    assert calls["sequential"] == 3


def test_run_overlapped_sequential_item_gets_final_retry():
    import threading

    from fp_data_lakehouse_spark.operators.registry import run_overlapped

    main = threading.main_thread()
    state = {"seq_attempts": 0}

    def fn(x):
        if threading.current_thread() is not main:
            raise RuntimeError("injected concurrency race")
        if x == 2:
            state["seq_attempts"] += 1
            if state["seq_attempts"] == 1:
                # first sequential attempt of item 2 also fails (the
                # r15 dl04 finding: the race can straddle the fallback)
                raise RuntimeError("injected sequential race")
        return x + 10

    assert run_overlapped(fn, [1, 2, 3], 2) == [11, 12, 13]
    assert state["seq_attempts"] == 2


# ---------------------------------------------------------------------------
# _sized_state_partitions (r15): scale-adaptive streaming state width
# ---------------------------------------------------------------------------


def test_sized_state_partitions_sizes_caps_and_restores(spark, tmp_path):
    from fp_data_lakehouse_spark.operators.streamquery import (
        _sized_state_partitions,
    )

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    # ~3 MiB source -> 3 partitions at the 1 MiB/partition target
    src = tmp_path / "src"
    src.mkdir()
    (src / "a.parquet").write_bytes(b"x" * (3 * 2**20))
    with _sized_state_partitions(spark, str(src)):
        assert spark.conf.get(key) == "3"
    assert spark.conf.get(key) == before

    # a source larger than cap x 1 MiB leaves the session conf alone
    big = tmp_path / "big"
    big.mkdir()
    (big / "a.parquet").write_bytes(b"x" * (int(before) + 2) * 2**20)
    with _sized_state_partitions(spark, str(big)):
        assert spark.conf.get(key) == before

    # empty/unknown source: no-op
    with _sized_state_partitions(spark, str(tmp_path / "missing")):
        assert spark.conf.get(key) == before


def test_sized_state_partitions_env_override(spark, tmp_path, monkeypatch):
    from fp_data_lakehouse_spark.operators.streamquery import (
        _sized_state_partitions,
    )

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    src = tmp_path / "s"
    src.mkdir()
    (src / "a.parquet").write_bytes(b"x" * 2**20)
    monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "2")
    with _sized_state_partitions(spark, str(src)):
        assert spark.conf.get(key) == "2"
    assert spark.conf.get(key) == before


def test_sized_state_partitions_leaves_a_non_int_value_alone(tmp_path, monkeypatch):
    """A session value that is not an int is neither sized under nor
    replaced: the block used to restore a fallback "200" over it."""
    from fp_data_lakehouse_spark.operators.streamquery import (
        _sized_state_partitions,
    )

    class _Conf:
        def __init__(self, value):
            self.value = value
            self.sets = []

        def get(self, key):
            return self.value

        def set(self, key, value):
            self.sets.append(value)
            self.value = value

    class _Streams:
        active = []

    class _Session:
        def __init__(self, value):
            self.conf = _Conf(value)
            self.streams = _Streams()

    src = tmp_path / "s"
    src.mkdir()
    (src / "a.parquet").write_bytes(b"x" * 2**20)
    monkeypatch.delenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", raising=False)
    odd = _Session("not-a-number")
    with _sized_state_partitions(odd, str(src)):
        pass
    assert odd.conf.value == "not-a-number" and odd.conf.sets == []

    # an int value is sized under and restored to the exact string read
    padded = _Session(" 8")
    with _sized_state_partitions(padded, str(src)):
        assert padded.conf.value == "1"
    assert padded.conf.value == " 8"
