"""Independent correctness checks. Each returns a list of problems
(empty = pass); the runner fails the run on any problem. Nothing here
compares against stored output: every expectation is computed apart
from the engine (DuckDB SQL over the inputs, an in-memory model) or
is a property the method must have (idempotent re-delivery, stable
ids, exactly-once feed versions)."""

from __future__ import annotations

import math
from datetime import date, datetime
from decimal import Decimal


def _norm_value(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6f}"
    if hasattr(v, "item") and not isinstance(v, (list, tuple, str, bytes)):
        try:
            return _norm_value(v.item())  # numpy scalar
        except (ValueError, AttributeError):
            pass
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_value(x) for x in v) + "]"
    return str(v)


def normalize(frame) -> tuple[list[str], list[tuple]]:
    """pandas frame -> (sorted column names, sorted normalized rows):
    the order-insensitive value multiset the oracle gate compares."""
    cols = sorted(frame.columns)
    rows = sorted(
        tuple(_norm_value(v) for v in row)
        for row in frame[cols].itertuples(index=False, name=None)
    )
    return cols, rows


def compare_frames(name: str, got, want) -> list[str]:
    """Order-insensitive equality of two pandas frames (columns by name,
    rows as a multiset, floats to 6 decimals)."""
    gcols, grows = normalize(got)
    wcols, wrows = normalize(want)
    if gcols != wcols:
        return [f"{name}: columns {gcols} != expected {wcols}"]
    if len(grows) != len(wrows):
        return [f"{name}: {len(grows)} rows != expected {len(wrows)}"]
    if grows != wrows:
        wset, gset = set(wrows), set(grows)
        extra = [r for r in grows if r not in wset][:3]
        missing = [r for r in wrows if r not in gset][:3]
        return [f"{name}: values differ; unexpected={extra} missing={missing}"]
    return []


def duck_views(con, tables_dir: str, names) -> None:
    for name in names:
        con.sql(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM '{tables_dir}/{name}.parquet'")


def compare_keyed(name: str, got, want, key: str) -> list[str]:
    """Exact equality of two pandas frames holding one row per ``key``
    (columns by name, rows matched by key)."""
    import pandas as pd

    if sorted(got.columns) != sorted(want.columns):
        return [f"{name}: columns {sorted(got.columns)} != expected {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows != expected {len(want)}"]
    cols = sorted(want.columns)
    g = got[cols].sort_values(key).reset_index(drop=True)
    w = want[cols].sort_values(key).reset_index(drop=True)
    try:
        pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)
    except AssertionError as exc:
        return [f"{name}: values differ: {str(exc).splitlines()[0:4]}"]
    return []


def check_feed(fed: dict, expected: dict, drains: list, latest: int) -> list[str]:
    """A change-feed consumer's output against the committed history.

    ``fed`` and ``expected`` map version -> (rows, key sum, value sum);
    every committed version must appear in ``fed`` exactly once (a
    version delivered twice doubles its rows). ``drains`` holds each
    consumer run's (start, end) version offsets: each cold restart must
    resume where the previous run ended, and the last must end at the
    latest committed version."""
    problems = []
    missing = sorted(set(expected) - set(fed))
    extra = sorted(set(fed) - set(expected))
    if missing:
        problems.append(f"feed: versions never delivered: {missing[:10]}")
    if extra:
        problems.append(f"feed: versions delivered that were never committed: {extra[:10]}")
    wrong = [v for v in sorted(set(fed) & set(expected)) if fed[v] != expected[v]]
    if wrong:
        v = wrong[0]
        problems.append(f"feed: {len(wrong)} versions differ from the commit, e.g. v{v} "
                        f"{fed[v]} != {expected[v]}")
    for (_, prev_end), (start, end) in zip(drains, drains[1:]):
        if start != prev_end or end <= start:
            problems.append(f"feed: restart resumed at {start} after a run that ended at {prev_end}")
            break
    if not drains or drains[-1][1] != latest:
        problems.append(f"feed: last run ended at {drains[-1][1] if drains else None}, latest is {latest}")
    return problems
