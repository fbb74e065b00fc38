"""Traced mode: spans around the engine's public calls, plus Spark's own
counters read from its status stores and attributed to an operation by
submission-time window (streaming micro-batch jobs run on the stream
thread and carry no caller job group, so groups would miss them).

Untraced runs never construct a SparkCounters and their Tracer records
nothing, so the end-to-end figures carry none of this work."""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur_ms"] = (time.perf_counter() - t0) * 1000.0
            rec["end"] = rec["start"] + rec["dur_ms"] / 1000.0
            self._stack.pop()

    def durations(self, name: str) -> list[float]:
        return [s["dur_ms"] for s in self.spans if s["name"] == name]

    def self_ms_by_layer(self) -> dict[str, float]:
        """Span time minus the time of its child spans, summed per span
        name's layer prefix (``operators.build`` -> ``operators``)."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["dur_ms"]
        out: dict[str, float] = {}
        for s in self.spans:
            layer = s["name"].rsplit(".", 1)[0] if "." in s["name"] else s["name"]
            out[layer] = out.get(layer, 0.0) + s["dur_ms"] - child.get(s["id"], 0.0)
        return out

    def write(self, path: str, summary: dict) -> None:
        with open(path, "w") as f:
            json.dump({"summary": summary, "self_ms_by_layer": self.self_ms_by_layer(),
                       "spans": self.spans}, f, indent=1)


def _opt_ms(opt) -> int | None:
    return opt.get().getTime() if opt.isDefined() else None


def _seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


class SparkCounters:
    """Reads the JVM AppStatusStore (jobs, stages); works with
    spark.ui.enabled=false. Resolve windows only after
    the work in them is done: the listener bus is drained first."""

    def __init__(self, spark):
        self.spark = spark
        self._sc = spark.sparkContext._jsc.sc()
        self.store = self._sc.statusStore()

    def drain_listener_bus(self) -> None:
        self._sc.listenerBus().waitUntilEmpty(30_000)

    def job_index(self) -> list[tuple[int, object]]:
        """(submission epoch ms, JobData) for every retained job."""
        out = []
        for job in _seq(self.store.jobsList(None)):
            sub = _opt_ms(job.submissionTime())
            if sub is not None:
                out.append((sub, job))
        return out

    def window(self, t0: float, t1: float, index: list | None = None) -> dict:
        """Jobs, stages, tasks, executor time, shuffle bytes and GC of the
        jobs submitted inside the wall-clock window [t0, t1] (seconds),
        plus idle_ms: window wall time not covered by any stage's running
        span (first task launch to stage completion)."""
        lo, hi = int(t0 * 1000), int(t1 * 1000) + 1
        jobs = [j for sub, j in (index if index is not None else self.job_index()) if lo <= sub <= hi]
        acc = {"jobs": len(jobs), "stages": 0, "tasks": 0, "executor_run_ms": 0.0,
               "executor_cpu_ms": 0.0, "shuffle_bytes": 0.0, "gc_ms": 0.0}
        spans = []
        seen = set()
        for job in jobs:
            for sid in _seq(job.stageIds()):
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = self.store.lastStageAttempt(sid)
                except Exception:
                    continue  # evicted or never materialized
                if str(st.status()) == "SKIPPED":
                    continue
                acc["stages"] += 1
                acc["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                acc["executor_run_ms"] += st.executorRunTime()
                acc["executor_cpu_ms"] += st.executorCpuTime() / 1e6
                acc["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
                acc["gc_ms"] += st.jvmGcTime()
                first, done = _opt_ms(st.firstTaskLaunchedTime()), _opt_ms(st.completionTime())
                if first is not None:
                    spans.append((first / 1000.0, (done or first) / 1000.0))
        acc["idle_ms"] = max(0.0, (t1 - t0) - _covered(spans, t0, t1)) * 1000.0
        return acc


def counted(spark, df):
    """``df`` passed through an Arrow pass-through that counts its rows
    into an accumulator, returned with it. Placed under an operator, the
    count says how many times that operator consumed its input: the
    pass-through is recomputed exactly when its consumer is. Spark's own
    SQL metrics cannot say this for a lazily checkpointed subplan,
    because it runs inside other executions' jobs under a plan copy whose
    metrics no execution records."""
    acc = spark.sparkContext.accumulator(0)

    def count(batches):
        for batch in batches:
            acc.add(batch.num_rows)
            yield batch

    return df.mapInArrow(count, df.schema), acc


def _covered(spans: list[tuple[float, float]], t0: float, t1: float) -> float:
    """Length of the union of intervals, clipped to [t0, t1]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, t0), min(e, t1)) for s, e in spans):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Windows:
    """Operation windows recorded during the run, resolved against the
    status store in traced mode."""

    def __init__(self, counters: SparkCounters | None):
        self.counters = counters
        self.items: list[tuple[str, float, float, str | None]] = []

    @contextmanager
    def op(self, kind: str, layer: str | None = None):
        t0 = time.time()
        try:
            yield
        finally:
            if self.counters is not None:
                self.items.append((kind, t0, time.time(), layer))

    def resolve(self) -> dict[str, list[dict]]:
        out: dict[str, list[dict]] = {}
        if self.counters is None:
            return out
        self.counters.drain_listener_bus()
        index = self.counters.job_index()
        for kind, t0, t1, layer in self.items:
            w = self.counters.window(t0, t1, index)
            w.update(t0=t0, wall_ms=(t1 - t0) * 1000.0, layer=layer)
            out.setdefault(kind, []).append(w)
        return out
