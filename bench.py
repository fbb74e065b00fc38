#!/usr/bin/env python
"""Benchmark: run every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line with per-query wall-clock seconds.

Results are fully materialized via the noop sink (all partitions
computed, nothing collected to the driver), so the timing covers scan +
shuffle + compute, not just plan construction.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def bench_etl(spark, n_files: int = 4100) -> float:
    """End-to-end transcript ELT throughput in files/s: synthetic
    transcript texts (100x the reference's 41-file corpus) -> extraction
    -> star schema -> derived semester fact, all facts materialized.
    The reference floor is 5.4 files/s (BASELINE.md)."""
    import time as _time

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tests"))
    from transcript_fixtures import make_documents

    from fp_data_lakehouse_spark.etl import build_fact_nilai_semester, build_star_schema

    base = make_documents()  # 40 deterministic docs
    reps = max(1, n_files // len(base))
    rows = [
        (f"{doc_id}_r{r}", text) for r in range(reps) for doc_id, text in base
    ]
    docs = spark.createDataFrame(rows, "doc_id STRING, text STRING").repartition(
        spark.sparkContext.defaultParallelism
    )
    # Best of two runs, mirroring the suite's min-of-2: the first pass
    # after 120+ benched queries pays JVM/GC pressure and one-time plan
    # analysis (measured 160 vs 290 isolated-cold vs 650 steady-state
    # files/s); steady-state is the number that scales.
    best = 0.0
    for _ in range(2):
        t0 = _time.time()
        tables = build_star_schema(spark, docs)
        materialize(tables["fact_nilai_mk"])
        materialize(build_fact_nilai_semester(tables["fact_nilai_mk"]))
        best = max(best, len(rows) / (_time.time() - t0))
    return round(best, 1)


# Host-speed anchor (round-11 verdict task 5): a fixed-seed, CPU-bound
# Spark canary — generated data, no I/O, whole-stage-codegen xxhash64
# over spark.range — whose wall time depends only on the host's
# effective CPU speed, never on this repo's code. Recorded in every
# BENCH output as host_speed_factor = canary_sec / _CANARY_REF_SEC, so
# cross-round comparisons normalize instead of re-litigating
# "regression or slow host?" with ad-hoc A/B sessions (r9->r10 burned a
# session measuring a uniform 1.4x VM gap). Normalization rule (also in
# SCALE.md): comparable_wall = wall / host_speed_factor; per-family and
# per-query ratios likewise. _CANARY_REF_SEC is the round-11 host's
# measured best-of-3 — factor 1.0 means "as fast as the r11 host".
_CANARY_ROWS = 4_800_000_000
_CANARY_REF_SEC = 1.30


def bench_host_canary(spark) -> float:
    """Best-of-3 wall seconds for the fixed CPU canary (no I/O, no
    shuffle: one codegen'd hash-agg over spark.range across all
    cores)."""
    best = None
    for _ in range(3):
        t0 = time.time()
        n = spark.sparkContext.defaultParallelism
        df = spark.range(0, _CANARY_ROWS, 1, n)
        # bit_xor: overflow-free under ANSI mode, still forces the
        # hash for every row inside one codegen'd stage
        df.selectExpr("bit_xor(xxhash64(id, 42)) AS s").collect()
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    return round(best, 3)


def run_suite(
    spark, sf_dir: str, errors: dict[str, str] | None = None
) -> dict[str, float]:
    """Min-of-2 timings for every registered query at ``sf_dir`` (plus
    the gr00 edge-artifact build as its own line item). Shared by the
    default single-sf run and --sweep. When ``errors`` is given, any
    query that records -1 also records its error STRING there (r14
    verdict item 2: a red bench row was unattributable from the JSON —
    error text went only to stderr, which the driver does not keep)."""
    from fp_data_lakehouse_spark.operators import REGISTRY
    from fp_data_lakehouse_spark.operators.registry import _release_session_state

    timings: dict[str, float] = {}
    if errors is None:
        errors = {}
    # gr01/gr02 share a memoized co-order edge-list artifact (the
    # "materialize the expensive intermediate to the lake" pattern).
    # Build it HERE, timed, as its own line item — so the per-query
    # numbers for gr01/gr02 are explicitly scan+compute over the
    # artifact, and the build cost is reported rather than hidden by
    # min-of-2 warm-cache repeats.
    try:
        from fp_data_lakehouse_spark.operators.graph import (
            _coorder_edges,
            clear_coorder_cache,
        )

        clear_coorder_cache()
        t0 = time.time()
        _coorder_edges(spark, sf_dir)  # the parquet write IS the build
        timings["gr00_coorder_edges_build"] = round(time.time() - t0, 3)
    except Exception as exc:
        errors["gr00_coorder_edges_build"] = str(exc)[:500]
        print(f"# bench error in gr00_coorder_edges_build: {exc}", file=sys.stderr)
    for name in sorted(REGISTRY):
        best = None
        for _ in range(2):
            t0 = time.time()
            try:
                materialize(REGISTRY[name].builder(spark, sf_dir))
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            except Exception as exc:  # a failing query must not hide the rest
                best = -1.0
                errors[name] = str(exc)[:500]
                print(f"# bench error in {name}: {exc}", file=sys.stderr)
                break
        timings[name] = round(best, 3)
        # release this query's localCheckpoint blocks (and GC when the
        # heap is pressured) before the next one — the queries() janitor
        _release_session_state(spark)
    return timings


def family_totals(timings: dict[str, float]) -> dict[str, float]:
    from fp_data_lakehouse_spark.operators import REGISTRY

    families: dict[str, float] = {}
    for name, t in timings.items():
        if t < 0:
            continue
        fam = name.split("_", 1)[0]
        if name in REGISTRY:
            fam = fam.rstrip("0123456789")
        # else: synthetic line items (gr00 build) keep their full prefix
        # as their own family — folding the build into 'gr' would
        # double-attribute it against the notes' "reported separately".
        families[fam] = round(families.get(fam, 0.0) + t, 3)
    return families


def sweep() -> None:
    """--sweep: run the full suite at sf0.001 / sf0.01 / sf0.1 and print
    per-family totals plus the empirical scaling exponent per family
    (slope of log10(time) over log10(sf) between sf0.01 and sf0.1 — the
    clean decade; sf0.001 shares fixture sizes with sf0.01 for
    documents/embeddings, so its column is context, not slope input).
    Exponent ~1 = linear in data, ~0 = flat (control-flow bound), >1 =
    superlinear (candidate blowup) — the measured counterpart of
    SCALE.md's analytic 100 TB arguments."""
    import math

    from fp_data_lakehouse_spark.session import get_session

    spark = get_session("fp-lakehouse-sweep")
    from fp_data_lakehouse_spark.operators import REGISTRY

    materialize(REGISTRY["q01_avg_customer_revenue"].builder(spark, "/root/testdata/sf0.001"))
    per_sf: dict[str, dict[str, float]] = {}
    for sf in ("0.001", "0.01", "0.1"):
        t0 = time.time()
        timings = run_suite(spark, f"/root/testdata/sf{sf}")
        fams = family_totals(timings)
        per_sf[sf] = fams
        print(
            json.dumps(
                {
                    "metric": "sweep_suite",
                    "sf": float(sf),
                    "value": round(time.time() - t0, 3),
                    "unit": "sec",
                    "family_totals": fams,
                    "n_errors": sum(1 for t in timings.values() if t < 0),
                }
            )
        )
    slopes = {}
    for fam in sorted(per_sf["0.1"]):
        a, b = per_sf["0.01"].get(fam), per_sf["0.1"].get(fam)
        if a and b and a > 0 and b > 0:
            slopes[fam] = round(math.log10(b / a), 2)
    print(json.dumps({"metric": "sweep_exponents_sf0.01_to_sf0.1", "slopes": slopes}))


def _build_docs10x(spark, src: str = "/root/testdata/sf0.1", reps: int = 10) -> str:
    """Synthesize the 10x corpus for the third-decade sweep (VERDICT r5
    item 5) into managed scratch and return its sf-dir. Only the
    corpus-bound tables scale; every other table is symlinked from the
    source dir (the dd/sim/tx/mm families under measurement read
    documents/embeddings, plus fixed-size side tables).

    Construction is fully deterministic (no RNG at data-dependent
    positions) and designed so the EXPECTED scaling of a correct
    implementation is linear:
    - documents: replica 0 is the original corpus; in replica r >= 1
      every second token is replaced by a replica-salted token
      (z{r}q{i}), so each replica preserves the original's internal
      duplicate structure (exact-dup clusters replicate, near-dup pairs
      replicate) while cross-replica shingle Jaccard collapses to ~0 —
      duplicate clusters grow in NUMBER (linear), not in SIZE
      (quadratic pair blowup would be a synthesis artifact, not a
      finding).
    - embeddings: replica 0 original; replicas r >= 1 are fresh
      deterministic unit Gaussians (seeded per replica) with the
      original label distribution — more independent vectors, the
      honest load for bucketed ANN candidate generation.
    Doc/vec ids shift by r * (max_id + 1), so ids stay unique ints."""
    import numpy as np
    import pandas as pd
    import pyarrow.parquet as pq

    from fp_data_lakehouse_spark.sources.sinks import alloc_scratch

    # alloc_scratch returns a fresh dir per call — memoize per process
    # so repeated sweeps in one session reuse the built corpus.
    global _DOCS10X_DIR
    if _DOCS10X_DIR and os.path.exists(f"{_DOCS10X_DIR}/_DONE"):
        return _DOCS10X_DIR
    d = alloc_scratch(spark, "sf1eq_docs")
    docs = pq.read_table(f"{src}/documents.parquet").to_pandas()
    stride = int(docs["doc_id"].max()) + 1
    out = [docs]
    for r in range(1, reps):
        rep = docs.copy()
        rep["doc_id"] = rep["doc_id"] + r * stride

        def salt(text: str, r: int = r) -> str:
            toks = text.split()
            toks[1::2] = [f"z{r}q{i}" for i in range(len(toks[1::2]))]
            return " ".join(toks)

        rep["text"] = rep["text"].map(salt)
        rep["n_chars"] = rep["text"].str.len().astype("int64")
        out.append(rep)
    pd.concat(out, ignore_index=True).to_parquet(f"{d}/documents.parquet", index=False)

    emb = pq.read_table(f"{src}/embeddings.parquet").to_pandas()
    vstride = int(emb["vec_id"].max()) + 1
    dim = len(emb["embedding"].iloc[0])
    eout = [emb]
    for r in range(1, reps):
        rng = np.random.RandomState(1_000_003 * r)
        vecs = rng.standard_normal((len(emb), dim)).astype("float32")
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        eout.append(
            pd.DataFrame(
                {
                    "vec_id": (emb["vec_id"] + r * vstride).to_numpy(),
                    "embedding": list(vecs),
                    "label": emb["label"].to_numpy(),
                }
            )
        )
    pd.concat(eout, ignore_index=True).to_parquet(f"{d}/embeddings.parquet", index=False)

    for name in os.listdir(src):
        if name.endswith(".parquet") and not os.path.exists(f"{d}/{name}"):
            os.symlink(f"{src}/{name}", f"{d}/{name}")
    with open(f"{d}/_DONE", "w") as f:
        f.write("ok")
    _DOCS10X_DIR = d
    return d


_DOCS10X_DIR: str | None = None


def sweep_docs() -> None:
    """--sweep-docs: the corpus-bound families (dd/sim/tx/mm) over a
    THIRD decade — sf0.01, sf0.1, and the synthesized 10x corpus
    (sf1-equivalent for documents/embeddings) — reporting per-family
    totals and the upper-decade exponent (log10 slope sf0.1 -> sf1eq).
    The r5 sweep priced fixed overhead at <= 17 MB inputs; this is
    where candidate-pair blowups would actually show."""
    import math

    from fp_data_lakehouse_spark.operators import REGISTRY
    from fp_data_lakehouse_spark.operators.registry import _release_session_state
    from fp_data_lakehouse_spark.session import get_session

    import threading

    import re as _re

    spark = get_session("fp-lakehouse-sweep-docs")
    # family = leading alpha run, so variant names (dd19b) stay in
    # their family for the sweep (r7: the rstrip-digits rule silently
    # dropped dd19b from the corpus-bound subset)
    subset = {
        n: spec
        for n, spec in REGISTRY.items()
        if (m := _re.match(r"[a-z]+", n)) is not None
        and m.group(0) in ("dd", "sim", "tx", "mm")
    }
    sf1eq = _build_docs10x(spark)
    # (label, sf_dir, passes, per-query wall cap). The 10x point runs
    # ONE pass with a soft cap: a query that exceeds it is cancelled
    # and recorded as -2.0 ("exceeded cap") — at this decade a cap hit
    # IS the finding (a quadratic candidate path), and letting it run
    # for an hour would tell us nothing more.
    points = [
        ("0.01", "/root/testdata/sf0.01", 2, None),
        ("0.1", "/root/testdata/sf0.1", 2, None),
        ("1eq", sf1eq, 1, 300.0),
    ]
    per_sf: dict[str, dict[str, float]] = {}
    capped: dict[str, list[str]] = {}
    for label, sf_dir, passes, cap in points:
        timings: dict[str, float] = {}
        for name in sorted(subset):
            best = None
            for _ in range(passes):
                timer = None
                if cap:
                    timer = threading.Timer(
                        cap, spark.sparkContext.cancelAllJobs
                    )
                    timer.start()
                t0 = time.time()
                try:
                    materialize(subset[name].builder(spark, sf_dir))
                    dt = time.time() - t0
                    best = dt if best is None else min(best, dt)
                except Exception as exc:
                    # CAP only when the timer plausibly fired AND the
                    # failure is a job cancellation — a genuine error
                    # that happens to land after the cap window must
                    # still be reported as an error, not absorbed.
                    cancelled = "CANCELLED" in str(exc).upper()
                    if cap and cancelled and time.time() - t0 >= cap - 1:
                        best = -2.0  # exceeded the soft cap (cancelled)
                        print(f"# sweep-docs CAP {name}@{label} (> {cap}s)", file=sys.stderr)
                    else:
                        best = -1.0
                        print(f"# sweep-docs error in {name}@{label}: {exc}", file=sys.stderr)
                    break
                finally:
                    if timer:
                        timer.cancel()
            timings[name] = round(best, 3)
            print(f"# done {name}@{label}: {timings[name]}", file=sys.stderr)
            _release_session_state(spark)
        fams = family_totals(timings)
        per_sf[label] = fams
        capped[label] = sorted(n for n, t in timings.items() if t == -2.0)
        print(
            json.dumps(
                {
                    "metric": "sweep_docs_suite",
                    "sf": label,
                    "family_totals": fams,
                    "queries": timings,
                    "n_errors": sum(1 for t in timings.values() if t == -1.0),
                    "n_capped": len(capped[label]),
                    "capped": capped[label],
                }
            ),
            flush=True,
        )
    slopes = {}
    for fam in sorted(per_sf["1eq"]):
        a, b = per_sf["0.1"].get(fam), per_sf["1eq"].get(fam)
        if a and b and a > 0 and b > 0:
            slopes[fam] = round(math.log10(b / a), 2)
    print(
        json.dumps(
            {
                "metric": "sweep_docs_exponents_sf0.1_to_sf1eq",
                "slopes": slopes,
                "note": "family totals at 1eq exclude capped queries; see capped lists",
                "capped_1eq": capped.get("1eq", []),
            }
        ),
        flush=True,
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    # The COMMITTED per-query baseline (bench_full.json as checked in,
    # read BEFORE this run overwrites it) anchors the contamination
    # guard below; only comparable when the scale factor matches.
    committed: dict[str, float] = {}
    committed_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_full.json"
    )
    try:
        with open(committed_path) as f:
            _c = json.load(f)
        if abs(float(_c.get("sf", -1.0)) - sf) < 1e-9:
            committed = {
                k: float(v)
                for k, v in (_c.get("queries") or {}).items()
                if isinstance(v, (int, float)) and v > 0
            }
    except Exception:
        committed = {}

    from fp_data_lakehouse_spark.operators import REGISTRY
    from fp_data_lakehouse_spark.session import get_session

    spark = get_session("fp-lakehouse-bench")

    # JVM/codegen warm-up on the smallest fixture so per-query numbers
    # measure the engine, not first-call initialization.
    warm = REGISTRY["q01_avg_customer_revenue"].builder(spark, "/root/testdata/sf0.001")
    materialize(warm)

    try:
        canary_sec = bench_host_canary(spark)
    except Exception as exc:
        canary_sec = -1.0
        print(f"# bench error in host canary: {exc}", file=sys.stderr)
    host_speed_factor = (
        round(canary_sec / _CANARY_REF_SEC, 3) if canary_sec > 0 else -1.0
    )

    # Two passes per query, report the min: the first execution of a NEW
    # plan pays one-time analysis/codegen costs (measured seconds for
    # the widest expression trees) plus GC noise from neighbors; the min
    # approximates steady-state latency, which is the number that scales.
    t_suite = time.time()
    errors: dict[str, str] = {}
    timings = run_suite(spark, sf_dir, errors)

    # Guard the headline numbers against transient contamination (round
    # 2's q01 read 6.89 s min-of-2 in the driver run but ~1 s in every
    # local reproduction — a one-off window, not a plan property): give
    # the slowest queries one more steady-state run at the very end,
    # after the block manager is quiet, and keep the overall min.
    for name, _ in sorted(
        # only real registry queries: the synthetic gr00 build line item
        # would KeyError here and silently burn a rerun slot
        ((n, t) for n, t in timings.items() if t > 0 and n in REGISTRY),
        key=lambda kv: -kv[1],
    )[:5]:
        t0 = time.time()
        try:
            materialize(REGISTRY[name].builder(spark, sf_dir))
            timings[name] = round(min(timings[name], time.time() - t0), 3)
        except Exception:
            pass

    # CONTAMINATION GUARD (round 12, r11 verdict item 6; tightened
    # round 13, r12 verdict item 7 — tx14's 2.48x driver-run inflation
    # slid under the old 3x threshold): the slowest-5 rerun misses
    # mid-pack queries inflated by a transient host window (the r11
    # driver run carried 3-13x phantom regressions on q02-q13 that two
    # independent re-measures disproved). A query reruns when its
    # min-of-2 exceeds 2.5x its COMMITTED bench_full.json value, OR
    # exceeds 2x committed while ALSO running 2x hotter than its
    # FAMILY's median ratio (an isolated spike inside an otherwise
    # steady family is contamination, not code) — keeping the overall
    # min: a real regression survives the rerun; a contaminated
    # reading self-corrects in the official artifact.
    ratios: dict[str, float] = {
        n: timings[n] / committed[n]
        for n in timings
        if committed.get(n) and timings[n] > 0
    }
    fam_median: dict[str, float] = {}
    by_family: dict[str, list[float]] = {}
    for n, r in ratios.items():
        fam = n.split("_", 1)[0].rstrip("0123456789b")
        by_family.setdefault(fam, []).append(r)
    for fam, rs in by_family.items():
        rs = sorted(rs)
        fam_median[fam] = rs[len(rs) // 2]

    def _contaminated(name: str) -> bool:
        r = ratios.get(name)
        if not r:
            return False
        if r > 2.5:
            return True
        fam = name.split("_", 1)[0].rstrip("0123456789b")
        return r > 2.0 and r > 2.0 * fam_median.get(fam, float("inf"))

    contamination_reruns: list[str] = []
    for name in sorted(timings):
        if (
            name in REGISTRY
            and timings[name] > 0
            and _contaminated(name)
        ):
            t0 = time.time()
            try:
                materialize(REGISTRY[name].builder(spark, sf_dir))
                timings[name] = round(min(timings[name], time.time() - t0), 3)
                contamination_reruns.append(name)
            except Exception:
                pass
    total = round(time.time() - t_suite, 3)

    try:
        # One full GC before the ETL throughput measurement — NOT per
        # query (r13 verdict item 2 removed that tax): in r13 every
        # query's janitor ended with System.gc(), so bench_etl always
        # started on a freshly-collected heap; with the conditional
        # janitor the ETL leg instead starts carrying 264 queries of
        # py4j/JVM garbage (measured ~25% files/s drag at equal host).
        # A single suite-level GC here restores the like-for-like
        # measurement conditions at ~1 s cost.
        try:
            import gc as _gc

            _gc.collect()
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass
        etl_files_per_sec = bench_etl(spark)
    except Exception as exc:
        etl_files_per_sec = -1.0
        print(f"# bench error in etl: {exc}", file=sys.stderr)

    # END-of-run canary (r14): the start canary is blind to MID-RUN host
    # drift — the r14 round measured a suite that ran ~10% hot against
    # its own start canary of 0.998 because the VM slowed after the
    # canary fired. Bracketing the suite with a second reading makes
    # "contaminated window" diagnosable from the artifact alone
    # (start ≈ end ≈ 1 but per-query ratios high → real; end >> start →
    # the window drifted). host_speed_factor keeps its start-canary
    # meaning; canary_end_sec is additive.
    try:
        canary_end_sec = bench_host_canary(spark)
    except Exception as exc:
        canary_end_sec = -1.0
        print(f"# bench error in end canary: {exc}", file=sys.stderr)

    # Per-family subtotals (q/dd/tx/sim/...) so round-over-round drift
    # attribution is one diff away (family = leading alpha prefix).
    families = family_totals(timings)

    print(
        json.dumps(
            {
                "metric": "suite_wall_clock",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "family_totals": families,
                "timing": "min_of_2_plus_slowest5_rerun_plus_2.5x_or_2x_family_guard",
                "contamination_reruns": contamination_reruns,
                "notes": "gr01/gr02 exclude the shared co-order edge-list"
                " build, reported separately as gr00_coorder_edges_build",
                "sf": sf,
                "etl_files_per_sec": etl_files_per_sec,
                "etl_baseline_files_per_sec": 5.4,
                "canary_sec": canary_sec,
                "canary_end_sec": canary_end_sec,
                "host_speed_factor": host_speed_factor,
            }
        )
    )

    # The driver captures only the LAST 2000 chars of stdout; the full
    # per-query line above exceeds that (200+ entries), so round 1's
    # BENCH record was truncated mid-object ("parsed": null). Persist
    # the COMPLETE per-query map to bench_full.json at the repo root
    # (committed every round, so cross-round per-query regressions are
    # one `git diff` away — round-6 verdict item 6), then emit a
    # compact summary as the FINAL line so the tail capture always
    # holds one complete, parseable JSON object.
    full_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_full.json")
    try:
        with open(full_path, "w") as f:
            json.dump(
                {
                    "metric": "suite_wall_clock",
                    "value": total,
                    "unit": "sec",
                    "sf": sf,
                    "queries": timings,
                    "family_totals": families,
                    "timing": "min_of_2_plus_slowest5_rerun_plus_2.5x_or_2x_family_guard",
                    "contamination_reruns": contamination_reruns,
                    "errors": errors,
                    "etl_files_per_sec": etl_files_per_sec,
                    "etl_baseline_files_per_sec": 5.4,
                    "canary_sec": canary_sec,
                    "canary_end_sec": canary_end_sec,
                    "host_speed_factor": host_speed_factor,
                },
                f,
                indent=1,
                sort_keys=True,
            )
            f.write("\n")
    except OSError as exc:  # read-only checkout must not kill the bench
        print(f"# bench warning: could not write {full_path}: {exc}", file=sys.stderr)
    slowest = sorted(
        ((n, t) for n, t in timings.items() if t >= 0), key=lambda kv: -kv[1]
    )[:5]
    print(
        json.dumps(
            {
                "metric": "suite_wall_clock",
                "value": total,
                "unit": "sec",
                "sf": sf,
                "queries": dict(slowest),
                "family_totals": families,
                "n_queries": len(timings),
                "n_errors": sum(1 for t in timings.values() if t < 0),
                "errors": errors,
                "timing": "min_of_2_plus_slowest5_rerun_plus_2.5x_or_2x_family_guard",
                "contamination_reruns": contamination_reruns,
                "full_timings_file": "bench_full.json",
                "etl_files_per_sec": etl_files_per_sec,
                "etl_baseline_files_per_sec": 5.4,
                "canary_sec": canary_sec,
                "canary_end_sec": canary_end_sec,
                "host_speed_factor": host_speed_factor,
            }
        )
    )


if __name__ == "__main__":
    if "--sweep-docs" in sys.argv:
        sweep_docs()
    elif "--sweep" in sys.argv:
        sweep()
    else:
        main()
