"""The benchmark's own code: every checker must reject a corrupted
result, and the percentile helper must follow the sample-count rule.
No Spark needed: ``python3 -m pytest lakebench/tests -q``."""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import datagen  # noqa: E402
from checks import check_feed, compare_frames, compare_keyed  # noqa: E402
from common import TAIL_MIN_SAMPLES, percentile, spread  # noqa: E402
from workloads.table_churn import Model, version_digest  # noqa: E402
from workloads.warehouse import check_ids_stable, check_rows_kept, split_batches  # noqa: E402


def _frame():
    return pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, 2.0], "s": ["a", "b", "c"]})


def test_compare_frames_accepts_reordered_rows_and_columns():
    got = _frame().iloc[::-1][["s", "v", "k"]]
    assert compare_frames("q", got, _frame()) == []


def test_compare_frames_rejects_dropped_row():
    assert compare_frames("q", _frame().iloc[:2], _frame())


def test_compare_frames_rejects_wrong_value():
    bad = _frame()
    bad.loc[1, "v"] = 1.26  # one wrong insight value
    assert compare_frames("q", bad, _frame())


def test_compare_frames_rejects_renamed_column():
    assert compare_frames("q", _frame().rename(columns={"v": "w"}), _frame())


def test_compare_keyed_rejects_dropped_row_and_changed_value():
    want = _frame()
    assert compare_keyed("t", want.iloc[::-1], want, "k") == []
    assert compare_keyed("t", want.iloc[1:], want, "k")
    changed = want.copy()
    changed.loc[0, "s"] = "z"
    assert compare_keyed("t", changed, want, "k")


def _history():
    return {1: (10, 45, 100), 2: (11, 55, 120), 3: (9, 40, 90)}


def test_check_feed_accepts_exactly_once_in_order():
    assert check_feed(_history(), _history(), [(None, 1), (1, 3)], 3) == []


def test_check_feed_rejects_repeated_version():
    fed = _history()
    fed[2] = tuple(2 * x for x in fed[2])  # version 2 delivered twice
    assert check_feed(fed, _history(), [(None, 1), (1, 3)], 3)


def test_check_feed_rejects_missing_version_and_bad_restart():
    fed = {v: d for v, d in _history().items() if v != 2}
    assert check_feed(fed, _history(), [(None, 1), (1, 3)], 3)
    assert check_feed(_history(), _history(), [(None, 1), (2, 3)], 3)
    assert check_feed(_history(), _history(), [(None, 1), (1, 2)], 3)


def test_check_ids_stable_rejects_moved_and_duplicate_ids():
    before = {
        "dim_mahasiswa": pd.DataFrame({"nrp": ["1", "2"], "id_mahasiswa": [1, 2]}),
        "dim_matakuliah": pd.DataFrame({"kode_mk": ["A"], "id_mk": [1]}),
        "dim_waktu": pd.DataFrame({"tahun": [2000], "semester": ["Gasal"], "id_waktu": [1]}),
    }
    grown = {k: v.copy() for k, v in before.items()}
    grown["dim_mahasiswa"] = pd.DataFrame({"nrp": ["1", "2", "3"], "id_mahasiswa": [1, 2, 3]})
    assert check_ids_stable(before, grown) == []
    moved = {k: v.copy() for k, v in grown.items()}
    moved["dim_mahasiswa"] = pd.DataFrame({"nrp": ["1", "2", "3"], "id_mahasiswa": [2, 1, 3]})
    assert check_ids_stable(before, moved)
    dup = {k: v.copy() for k, v in grown.items()}
    dup["dim_mahasiswa"] = pd.DataFrame({"nrp": ["1", "2", "3"], "id_mahasiswa": [1, 2, 2]})
    assert check_ids_stable(before, dup)


def test_model_merge_and_delete():
    base = pd.DataFrame({
        "o_orderkey": np.arange(1000), "o_custkey": np.zeros(1000, dtype=np.int64),
        "o_orderstatus": "F", "o_totalprice": np.full(1000, 10.0),
        "o_orderdate": pd.Timestamp("2000-01-01").date(), "o_orderpriority": "5-LOW",
    })
    model = Model(base)
    batch = model.merge_batch(np.random.default_rng(1))
    model.apply_merge(batch)
    assert len(model.frame) == 1000 + len(batch) - 200
    assert model.frame["o_orderkey"].is_unique
    assert model.apply_delete(0, 100) <= 100
    assert not ((model.frame["o_orderkey"] >= 0) & (model.frame["o_orderkey"] < 100)).any()
    assert version_digest(model.frame)[0] == len(model.frame)


def test_percentile_sample_count_rule():
    assert percentile([], 50) is None
    assert percentile([3.0], 50) == 3.0
    assert percentile(range(TAIL_MIN_SAMPLES - 1), 90) is None
    assert percentile(range(1, TAIL_MIN_SAMPLES + 1), 90) == 90
    assert percentile(range(1, 102), 90) == 91


def test_spread():
    s = spread([1.0, 2.0, 3.0, 4.0, 100.0])
    assert s["median"] == 3.0 and s["q1"] <= s["median"] <= s["q3"]
    assert s["range_rel"] == pytest.approx(99 / 3)


def test_split_batches_is_seeded_and_equal_sized():
    names = [f"cust-{i}.pdf" for i in range(35)]
    a, b = split_batches(names, 1, 10), split_batches(names, 1, 10)
    assert a == b and len(a) == 3 and {len(x) for x in a} == {10}
    assert split_batches(names, 2, 10) != a


def test_datagen_is_seeded():
    a = datagen.make_tables(5, 0.001, ("orders", "events"))
    b = datagen.make_tables(5, 0.001, ("events",))
    assert a["events"].equals(b["events"])
    assert not datagen.make_tables(6, 0.001, ("orders",))["orders"].equals(a["orders"])


def test_check_rows_kept_rejects_lost_or_changed_rows():
    key = {"id_mahasiswa": [1, 2], "id_mk": [1, 1], "id_waktu": [1, 1], "id_nilai": [1, 2]}
    before = {"fact_nilai_mk": pd.DataFrame({**key, "sks": [3, 2]})}
    grown = pd.DataFrame({k: v + [3] for k, v in key.items()} | {"sks": [3, 2, 4]})
    assert check_rows_kept(before, {"fact_nilai_mk": grown}) == []
    assert check_rows_kept(before, {"fact_nilai_mk": grown.iloc[1:]})
    changed = grown.copy()
    changed.loc[0, "sks"] = 6
    assert check_rows_kept(before, {"fact_nilai_mk": changed})
