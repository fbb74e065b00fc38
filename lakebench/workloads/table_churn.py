"""table_churn: a versioned table under a closed loop of commits, reads
and a cold-restarting change-feed consumer.

Set-up seeds the table from ``orders`` with a manifest commit and runs
every operation once, untimed. Each timed round is two cycles; a cycle
runs, in a seed-shuffled order, two MERGEs of a few hundred updated or inserted
rows (``merge_into_version``), one key-range DELETE
(``delete_from_version``), six filtered aggregates on the latest
snapshot and three on retained older versions (``read_table``); then
``compact_version``, one ``availableNow`` drain of ``fp_versioned_feed``
into a parquet sink under a persistent checkpoint (a cold restart every
cycle), and ``vacuum``, which only ever runs after a drain, so no
version is dropped before the consumer has it.

An in-memory model applies the same seeded MERGE and DELETE batches; at
the end the latest snapshot and one retained older version must equal
it, and the sink must hold every committed version exactly once."""

from __future__ import annotations

import json
import os
import random
import time
from datetime import datetime

import numpy as np
import pandas as pd

import datagen
from checks import check_feed, compare_keyed
from common import median

SCALE = 0.1  # 150,000 orders rows
MERGE_UPDATES, MERGE_INSERTS = 200, 100
DELETE_SPAN = 250
CYCLE = ("merge", "merge", "delete") + ("read",) * 6 + ("time_travel",) * 3
CYCLES_PER_ROUND = 2
NOMINAL_ROUND_S = 10.0  # one round on a calm reference host
KEEP_LAST = 3
COMPACT_FILES = 2
KEY = "o_orderkey"
SCHEMA = ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE, "
          "o_orderdate DATE, o_orderpriority STRING")
PHASES = ("latestOffset", "queryPlanning", "getBatch", "addBatch", "walCommit", "commitOffsets")


def version_digest(frame: pd.DataFrame) -> tuple[int, int, int]:
    """(rows, sum of keys, sum of prices in cents) of one version."""
    cents = np.round(frame["o_totalprice"].to_numpy() * 100).astype(np.int64)
    return len(frame), int(frame[KEY].sum()), int(cents.sum())


class Model:
    """The table as it should be, version by version."""

    def __init__(self, frame: pd.DataFrame):
        self.frame = frame.sort_values(KEY).reset_index(drop=True)
        self.digests: dict[int, tuple[int, int, int]] = {}
        self.frames: dict[int, pd.DataFrame] = {}
        self.next_key = int(self.frame[KEY].max()) + 1

    def commit(self, version: int, retained: list[int]) -> None:
        self.digests[version] = version_digest(self.frame)
        self.frames[version] = self.frame
        self.frames = {v: f for v, f in self.frames.items() if v in retained or v == version}

    def merge_batch(self, rng: np.random.Generator) -> pd.DataFrame:
        old = self.frame.iloc[rng.choice(len(self.frame), MERGE_UPDATES, replace=False)].copy()
        old["o_totalprice"] = np.round(rng.uniform(1000, 500_000, len(old)), 2)
        old["o_orderstatus"] = rng.choice(datagen.ORDER_STATUS, len(old))
        keys = np.arange(self.next_key, self.next_key + MERGE_INSERTS)
        self.next_key += MERGE_INSERTS
        new = pd.DataFrame({
            KEY: keys,
            "o_custkey": rng.integers(0, 15_000, len(keys)),
            "o_orderstatus": rng.choice(datagen.ORDER_STATUS, len(keys)),
            "o_totalprice": np.round(rng.uniform(1000, 500_000, len(keys)), 2),
            "o_orderdate": [datetime(1995 + int(y), 1 + int(m), 1).date()
                            for y, m in zip(rng.integers(0, 6, len(keys)), rng.integers(0, 12, len(keys)))],
            "o_orderpriority": rng.choice(datagen.PRIORITIES, len(keys)),
        })
        return pd.concat([old, new], ignore_index=True)

    def apply_merge(self, batch: pd.DataFrame) -> None:
        kept = self.frame[~self.frame[KEY].isin(batch[KEY])]
        self.frame = pd.concat([kept, batch], ignore_index=True).sort_values(KEY).reset_index(drop=True)

    def apply_delete(self, lo: int, hi: int) -> int:
        hit = (self.frame[KEY] >= lo) & (self.frame[KEY] < hi)
        self.frame = self.frame[~hit].reset_index(drop=True)
        return int(hit.sum())


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def _offset_version(off) -> int | None:
    if off is None:
        return None
    if isinstance(off, str):
        off = json.loads(off)
    return int(off["version"])


def run(ctx) -> dict:
    import duckdb
    from pyspark.sql import functions as F
    from fp_data_lakehouse_spark.sources import versioned as vt
    from fp_data_lakehouse_spark.sources.pyds import register_python_sources

    spark = ctx.spark
    data, td = ctx.path("inputs"), ctx.path("table")
    sink, ck = ctx.path("feed_sink"), ctx.path("feed_checkpoint")
    ctx.repeat_setup(lambda: datagen.write_tables(data, datagen.DATA_SEED, SCALE, ("orders",)))
    rng = np.random.default_rng([ctx.seed, 7])
    order_rng = random.Random(ctx.seed)
    base = pd.read_parquet(f"{data}/orders.parquet")
    base["o_orderdate"] = base["o_orderdate"].dt.date
    model = Model(base)
    register_python_sources(spark)
    ctx.phase("inputs")

    v = vt.write_version(spark.createDataFrame(model.frame, SCHEMA), td, manifest=True)
    model.commit(v, [v])
    stats = {k: [] for k in ("merge", "delete", "read", "time_travel", "compact", "vacuum",
                              "drain", "bytes_per_commit", "files_per_version", "drain_start",
                              "drain_batches", *PHASES)}
    drains: list[tuple[int | None, int]] = []
    rows_changed = 0

    def aggregate(df):
        return (df.filter(F.col("o_orderstatus") == "F").groupBy("o_orderpriority")
                .agg(F.sum("o_totalprice").alias("total"), F.count(F.lit(1)).alias("n")))

    def commit(kind: str, fn) -> int:
        before = _dir_bytes(td) if ctx.trace else 0
        t0 = time.perf_counter()
        with ctx.windows.op(kind), ctx.tracer.span(f"sources.versioned.{kind}"):
            version = fn()
        stats[kind].append((time.perf_counter() - t0) * 1000.0)
        if ctx.trace:
            stats["bytes_per_commit"].append(_dir_bytes(td) - before)
            stats["files_per_version"].append(vt.data_file_count(td, version))
        return version

    def do(op: str) -> int:
        """Run one operation; returns rows merged or deleted."""
        if op == "merge":
            batch = model.merge_batch(rng)
            version = commit("merge", lambda: vt.merge_into_version(
                spark, td, spark.createDataFrame(batch, SCHEMA), [KEY], manifest=True))
            model.apply_merge(batch)
            model.commit(version, vt.versions(td))
            return len(batch)
        if op == "delete":
            lo = int(rng.integers(0, model.next_key))
            version = commit("delete", lambda: vt.delete_from_version(
                spark, td, (F.col(KEY) >= lo) & (F.col(KEY) < lo + DELETE_SPAN), manifest=True))
            n = model.apply_delete(lo, lo + DELETE_SPAN)
            model.commit(version, vt.versions(td))
            return n
        if op == "read":
            stats["read"].append(ctx.read("sources.versioned", lambda: aggregate(vt.read_table(spark, td)), op))
            return 0
        if op == "time_travel":
            older = vt.versions(td)[:-1]
            target = older[int(rng.integers(0, len(older)))]
            stats["time_travel"].append(ctx.read(
                "sources.versioned", lambda: aggregate(vt.read_table(spark, td, version=target)), op))
            return 0
        if op == "compact":
            version = commit("compact", lambda: vt.compact_version(spark, td, COMPACT_FILES, manifest=True))
            model.commit(version, vt.versions(td))
            return 0
        if op == "drain":
            drain()
            return 0
        if op == "vacuum":
            t0 = time.perf_counter()
            with ctx.windows.op("vacuum"), ctx.tracer.span("sources.versioned.vacuum"):
                vt.vacuum(td, keep_last=KEEP_LAST)
            stats["vacuum"].append((time.perf_counter() - t0) * 1000.0)
            return 0
        raise ValueError(op)

    def drain() -> None:
        w0, t0 = time.time(), time.perf_counter()
        with ctx.windows.op("drain"), ctx.tracer.span("sources.pyds.drain"):
            q = (spark.readStream.format("fp_versioned_feed").option("path", td).load()
                 .writeStream.format("parquet").option("path", sink)
                 .option("checkpointLocation", ck).trigger(availableNow=True).start())
            q.awaitTermination()
        stats["drain"].append((time.perf_counter() - t0) * 1000.0)
        if q.exception() is not None:
            raise RuntimeError(f"feed drain failed: {q.exception()}")
        progress = [json.loads(p.json) for p in q.recentProgress]
        with_data = [p for p in progress if p.get("numInputRows", 0) > 0]
        drains.append((_offset_version(with_data[0]["sources"][0]["startOffset"]),
                       _offset_version(with_data[-1]["sources"][0]["endOffset"])))
        stats["drain_batches"].append(len(progress))
        for phase in PHASES:
            stats[phase].append(sum(p["durationMs"].get(phase, 0) for p in progress))
        first = progress[0]
        first_end = (datetime.fromisoformat(first["timestamp"].replace("Z", "+00:00")).timestamp()
                     + first["durationMs"].get("triggerExecution", 0) / 1000.0)
        stats["drain_start"].append((first_end - w0) * 1000.0)

    warmup = ("merge", "delete", "read", "time_travel", "compact", "drain", "vacuum")
    ctx.phase("seed_table")
    for op in warmup:  # untimed: every operation once
        do(op)
    ctx.phase("first_pass")
    for values in stats.values():
        values.clear()

    attempted = failed = 0
    errors = []
    for _ in ctx.timed_rounds(NOMINAL_ROUND_S):
        for _ in range(CYCLES_PER_ROUND):
            ops = list(CYCLE)
            order_rng.shuffle(ops)
            for op in ops + ["compact", "drain", "vacuum"]:
                attempted += 1
                try:
                    rows_changed += do(op)
                except Exception as exc:
                    failed += 1
                    errors.append(f"{op}: {exc!r}"[:300])
    wall = time.perf_counter() - ctx.t_timed

    # end checks: the model, one retained older version, the feed
    problems = []
    latest = vt.latest_version(td)
    problems += compare_keyed(f"latest v{latest}", vt.read_table(spark, td).toPandas(), model.frame, KEY)
    older = [x for x in vt.versions(td)[:-1] if x in model.frames]
    if older:
        old_v = older[int(rng.integers(0, len(older)))]
        problems += compare_keyed(f"retained v{old_v}", vt.read_table(spark, td, version=old_v).toPandas(),
                                  model.frames[old_v], KEY)
    else:
        problems.append("no older version retained for the time-travel check")
    con = duckdb.connect()
    with ctx.duck():
        rows = con.sql(
            f"SELECT _version, COUNT(*), SUM({KEY}), SUM(CAST(round(o_totalprice * 100) AS BIGINT)) "
            f"FROM read_parquet('{sink}/*.parquet') GROUP BY 1").fetchall()
    con.close()
    fed = {int(r[0]): (int(r[1]), int(r[2]), int(r[3])) for r in rows}
    problems += check_feed(fed, model.digests, drains, latest)

    fresh = ctx.path("fresh_copy")
    vt.write_version(vt.read_table(spark, td), fresh, manifest=True)
    space_amp = _dir_bytes(td) / _dir_bytes(fresh)

    commits = stats["merge"] + stats["delete"]
    reads = stats["read"] + stats["time_travel"]
    return {
        "attempted": attempted,
        "failed": failed,
        "problems": problems,
        "e2e": {"query_p50_ms": median(reads), "items_per_s": rows_changed / wall},
        "details": {
            "rounds": ctx.rounds,
            "commit_p50_ms": median(commits),
            "read_p50_ms": median(reads),
            "drain_p50_ms": median(stats["drain"]),
            "rows_per_s": rows_changed / wall,
            "space_amp": space_amp,
            "versions_committed": latest,
            "errors": errors[:5],
        },
        "trace": stats,
    }


def layers(ctx, res, windows) -> dict:
    s = res["trace"]
    drains = windows.get("drain", [])
    out = {
        "sources.versioned.merge_ms": median(s["merge"]),
        "sources.versioned.delete_ms": median(s["delete"]),
        "sources.versioned.bytes_written_per_commit": median(s["bytes_per_commit"]),
        "sources.versioned.compact_ms": median(s["compact"]),
        "sources.versioned.vacuum_ms": median(s["vacuum"]),
        "sources.versioned.files_per_version": median(s["files_per_version"]),
        "sources.versioned.read_ms": median(s["read"]),
        "sources.versioned.time_travel_ms": median(s["time_travel"]),
        "sources.pyds.drain_ms": median(s["drain"]),
        "sources.pyds.start_ms": median(s["drain_start"]),
        "sources.pyds.batches_per_drain": median(s["drain_batches"]),
        "sources.pyds.jobs": sum(w["jobs"] for w in drains) / max(1, len(drains)),
    }
    for phase in PHASES:
        out[f"sources.pyds.{phase}_ms"] = median(s[phase])
    return out
