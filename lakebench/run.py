"""Run one benchmark workload against the engine in this checkout.

    python3 lakebench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Every run is a fresh process with one Spark session. The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics untraced, the per-layer metrics with
``--trace 1``). The line before it, prefixed ``# details``, carries the
workload's own figures and the host CPU canary. Traced runs also write
their span file under ``.lakebench_out/`` at the checkout root.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import time
import traceback
from contextlib import contextmanager

T_PROCESS = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from common import cpu_canary_ms, cpu_steal_ticks, median, peak_rss_mb  # noqa: E402
from tracing import SparkCounters, Tracer, Windows  # noqa: E402

WORKLOADS = ("query_mix", "table_churn")
# Set-up steps that can repeat inside one process run this many times;
# the median repetition counts toward setup_s.
SETUP_REPEATS = 3


def _program_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "fp_data_lakehouse_spark", "session.py")) and (
        os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
    )


def session_sizing() -> tuple[int, str]:
    """Task slots at half the cores (the other half absorbs the driver,
    the Python workers and host noise; measured steadier than all cores
    on a 4-core host), and a heap sized to the host: a sixth of RAM,
    clamped to 1-4 GiB."""
    cpus = max(1, (os.cpu_count() or 2) // 2)
    try:
        with open("/proc/meminfo") as f:
            total_gb = int(f.readline().split()[1]) / 1024**2
    except OSError:
        total_gb = 8.0
    return cpus, f"{max(1, min(4, int(total_gb // 6)))}g"


def _configure_env(tmp: str, cpus: int, heap: str) -> None:
    """Keep every byte the run writes under its own temp root: Spark
    local dirs, JVM and Python temp files, the SQL warehouse, the
    engine's scratch root and Derby's home."""
    for sub in ("local", "tmp", "warehouse", "scratch"):
        os.makedirs(os.path.join(tmp, sub), exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["TMPDIR"] = os.path.join(tmp, "tmp")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = heap
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's launcher JVM
    confs = {
        # -XX:-UsePerfData: no hsperfdata file under the system /tmp
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp}/tmp -Dderby.system.home={tmp} -XX:-UsePerfData"
        ),
        "spark.sql.warehouse.dir": f"{tmp}/warehouse",
        "spark.fp_lakehouse.scratch_dir": f"{tmp}/scratch",
        "spark.ui.showConsoleProgress": "false",
        # the traced mode resolves every job of the run at the end
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }
    args = [a for k, v in confs.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in args) + " pyspark-shell"


class Ctx:
    """What a workload gets: the session, its inputs' seed, the loop
    length, the tracing hooks, and the set-up clock."""

    def __init__(self, spark, seed: int, seconds: float, trace: bool, tmp: str,
                 excluded_s: float):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.tmp = tmp
        self.tracer = Tracer(trace)
        self.read_layers: set[str] = set()
        self.counters = SparkCounters(spark) if trace else None
        self.windows = Windows(self.counters)
        self.duck_s = 0.0
        self.excluded_s = excluded_s
        self.t_timed = self.t_timed_wall = None
        self.rounds = 0
        self.phases: dict[str, float] = {}
        self._t_phase = time.perf_counter()

    def phase(self, name: str) -> None:
        """Close a named set-up phase (seconds since the previous one)."""
        now = time.perf_counter()
        self.phases[name] = round(now - self._t_phase, 3)
        self._t_phase = now

    def path(self, *parts: str) -> str:
        return os.path.join(self.tmp, *parts)

    @contextmanager
    def duck(self):
        """DuckDB oracle work: excluded from set-up time."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.duck_s += time.perf_counter() - t0

    def repeat_setup(self, fn):
        """Run a repeatable set-up step SETUP_REPEATS times; only the
        median repetition counts toward set-up time. Returns the last
        result."""
        took, out = [], None
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            out = fn()
            took.append(time.perf_counter() - t0)
        self.excluded_s += sum(took) - median(took)
        return out

    def timed_rounds(self, nominal_round_s: float) -> range:
        """Start the timed loop and return its rounds: ``--seconds`` over
        the workload's nominal round time (measured once on a calm
        reference host), at least one. The count depends on ``--seconds``
        alone, never on how fast the program runs, so every run times
        the same passes with the same warm-up state."""
        self.rounds = max(1, round(self.seconds / nominal_round_s))
        self.phase("setup_rest")
        self.t_timed = time.perf_counter()
        self.t_timed_wall = time.time()
        return range(self.rounds)

    def setup_s(self) -> float:
        return self.t_timed - T_PROCESS - self.duck_s - self.excluded_s

    def read(self, layer: str, build, op: str) -> float:
        """One timed read query: build the plan, (traced: force the
        executed plan), materialize it to the noop sink. Returns ms."""
        self.read_layers.add(layer)
        with self.windows.op("read", layer=layer):
            t0 = time.perf_counter()
            with self.tracer.span(f"{layer}.build", op):
                df = build()
            if self.trace:
                with self.tracer.span(f"{layer}.plan", op):
                    df._jdf.queryExecution().executedPlan()
            with self.tracer.span(f"{layer}.exec", op):
                df.write.format("noop").mode("overwrite").save()
            return (time.perf_counter() - t0) * 1000.0


def generic_layers(ctx: Ctx, windows: dict[str, list[dict]]) -> dict:
    """Per-layer figures every workload has: the phases of its timed
    read queries, and Spark's counters averaged over every operation of
    its timed loop."""
    spans = [s for s in ctx.tracer.spans if s["start"] >= ctx.t_timed_wall]
    out = {
        f"read.{phase}_ms": median(s["dur_ms"] for s in spans if s["name"].endswith(f".{phase}")
                                   and s["name"].rsplit(".", 1)[0] in ctx.read_layers)
        for phase in ("build", "plan", "exec")
    }
    ops = [w for ws in windows.values() for w in ws if w["t0"] >= ctx.t_timed_wall]
    n = max(1, len(ops))
    for key in ("jobs", "tasks", "executor_cpu_ms", "executor_run_ms", "idle_ms",
                "shuffle_bytes", "gc_ms"):
        out[f"spark.{key}_per_op"] = sum(w[key] for w in ops) / n
    return out


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM
    (and with it every Python worker it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception as exc:
                print(f"# gateway shutdown: {exc!r}", file=sys.stderr)
        if proc is not None:
            try:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


def _metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not _program_present():
        print(f"engine sources not found under {ROOT}", file=sys.stderr)
        return 2

    tmp = os.path.join(ROOT, ".lakebench_tmp", f"{args.workload}-s{args.seed}-{os.getpid()}")
    cpus, heap = session_sizing()
    _configure_env(tmp, cpus, heap)
    steal_start = cpu_steal_ticks()
    canary_start = cpu_canary_ms()
    spark = None
    try:
        sys.path.insert(0, ROOT)
        import importlib

        workload = importlib.import_module(f"workloads.{args.workload}")
        from fp_data_lakehouse_spark.session import get_session

        t0 = time.perf_counter()
        spark = get_session("lakebench", cpus=cpus)
        session_ms = (time.perf_counter() - t0) * 1000.0
        # the canary is the benchmark's own work: kept out of setup_s
        ctx = Ctx(spark, args.seed, args.seconds, bool(args.trace), tmp, canary_start / 1000.0)
        res = workload.run(ctx)
        windows = ctx.windows.resolve()
        layers = workload.layers(ctx, res, windows) if args.trace else {}
        rss_mb = peak_rss_mb()
        _stop_spark(spark)
        spark = None
        canary_end = cpu_canary_ms()
        steal_end = cpu_steal_ticks()
        steal_total = steal_end[1] - steal_start[1]
        problems = res["problems"]
        if args.trace:
            layers = {"session.start_ms": session_ms, **generic_layers(ctx, windows), **layers}
            os.makedirs(os.path.join(ROOT, ".lakebench_out"), exist_ok=True)
            span_file = os.path.join(ROOT, ".lakebench_out", f"{args.workload}-s{args.seed}-spans.json")
            ctx.tracer.write(span_file, {"workload": args.workload, "seed": args.seed, "layers": layers})
            metrics = {name: _metric(layers[name], unit) for name, unit in workload_units("per_layer")}
        else:
            e2e = {"setup_s": ctx.setup_s(), **res["e2e"]}
            metrics = {name: _metric(e2e[name], unit) for name, unit in workload_units("end_to_end")}
        details = {
            "workload": args.workload, "seed": args.seed, "slots": cpus, "heap": heap,
            "canary_ms": [round(canary_start, 2), round(canary_end, 2)],
            "steal_pct": round(100.0 * (steal_end[0] - steal_start[0]) / steal_total, 2) if steal_total else None,
            "problems": problems[:20], "session_ms": round(session_ms, 1),
            "setup_phases_s": ctx.phases, "peak_rss_mb": round(rss_mb, 1), **res["details"],
        }
        if args.trace:
            details["layers"] = layers
        print("# details " + json.dumps(details, default=str))
        print(json.dumps({
            "correct": not problems,
            "attempted": int(res["attempted"]),
            "failed": int(res["failed"]),
            "metrics": metrics,
        }))
        return 0 if not problems else 1
    except Exception:
        traceback.print_exc()
        return 3
    finally:
        if spark is not None:
            try:
                _stop_spark(spark)
            except Exception:
                traceback.print_exc()
        shutil.rmtree(tmp, ignore_errors=True)
        base = os.path.dirname(tmp)
        if os.path.isdir(base) and not os.listdir(base):
            os.rmdir(base)


def workload_units(section: str) -> list[tuple[str, str]]:
    """(name, unit) of every metric in one section of BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [(m["name"], m["unit"]) for m in spec[section]]


if __name__ == "__main__":
    sys.exit(main())
