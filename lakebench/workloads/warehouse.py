"""The transcript warehouse the 29 insights run on, built the way the
reference pipeline builds it: PDF transcripts -> star schema -> gold.

Two batches of transcript PDFs are rendered (the text of
``operators.etlquery.synth_transcript_docs``, written with the
``etl.pdf`` writer), their files picked from every customer by a seeded
hash. Batch 0 is the backfill (the first-load path); the second load
hands ``decode_pdf_docs`` the scan of batch 0 AND batch 1 to
``incremental_load(..., with_gold=True)``, so it both adds new students
and re-delivers every earlier document. Checks: the re-delivered rows
and their surrogate ids are unchanged, and the star census equals the
et01/et08 oracle formulas run by DuckDB directly on ``customer`` and
``orders`` for exactly the loaded customers (a re-delivered document
that was loaded twice would show up in its row counts)."""

from __future__ import annotations

import hashlib
import os
import time

from checks import compare_frames, duck_views
from tracing import counted

BATCH_DOCS = 100
TABLES = ("dim_mahasiswa", "dim_matakuliah", "dim_waktu", "dim_nilai",
          "fact_nilai_mk", "fact_nilai_semester")
ID_KEYS = {"dim_mahasiswa": (["nrp"], "id_mahasiswa"),
           "dim_matakuliah": (["kode_mk"], "id_mk"),
           "dim_waktu": (["tahun", "semester"], "id_waktu")}

# The et01/et08 oracle formulas, restricted to the customers loaded so far.
CENSUS_SQL = """
WITH course AS (
    SELECT o_custkey,
           CAST(o_orderkey % 6 + 1 AS INT) AS sks,
           ['A','AB','B','BC','C','D','E'][CAST(o_orderkey % 7 AS INT) + 1] AS huruf
    FROM orders WHERE o_custkey IN (SELECT k FROM loaded)
), per_grade AS (
    SELECT huruf, COUNT(*) AS n_rows, CAST(SUM(sks) AS BIGINT) AS sum_sks,
           COUNT(DISTINCT o_custkey) AS n_students
    FROM course GROUP BY huruf
), census AS (
    SELECT '_students' AS huruf, COUNT(*) AS n_rows,
           CAST(SUM(c_custkey % 50 + 100) AS BIGINT) AS sum_sks,
           COUNT(DISTINCT c_custkey) AS n_students
    FROM customer WHERE c_custkey IN (SELECT k FROM loaded)
)
SELECT * FROM per_grade UNION ALL SELECT * FROM census
"""


def split_batches(names: list[str], seed: int, size: int) -> list[list[str]]:
    """Equal-size batches, files ordered by a seeded hash of their name."""
    key = lambda n: hashlib.sha1(f"{seed}:{n}".encode()).hexdigest()  # noqa: E731
    ordered = sorted(names, key=key)
    return [ordered[i:i + size] for i in range(0, len(ordered) - size + 1, size)]


def _scan(spark, paths: list[str]):
    return spark.read.format("binaryFile").option("pathGlobFilter", "*.pdf").load(paths)


def tables(spark, wh: str) -> dict:
    return {n: spark.read.parquet(f"{wh}/{n}.parquet") for n in TABLES}


def _snapshot(spark, wh: str) -> dict:
    return {n: df.toPandas() for n, df in tables(spark, wh).items()}


def _star_census(spark, wh: str):
    from pyspark.sql import functions as F

    t = tables(spark, wh)
    per_grade = (
        t["fact_nilai_mk"].join(t["dim_nilai"].select("id_nilai", "huruf"), "id_nilai")
        .groupBy("huruf")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("sks").cast("bigint").alias("sum_sks"),
             F.countDistinct("id_mahasiswa").alias("n_students"))
    )
    students = t["dim_mahasiswa"].agg(
        F.count(F.lit(1)).alias("n_rows"), F.sum("sks_tempuh").cast("bigint").alias("sum_sks"),
        F.countDistinct("nrp").alias("n_students"),
    ).select(F.lit("_students").alias("huruf"), "n_rows", "sum_sks", "n_students")
    return per_grade.unionByName(students).toPandas()


def check_ids_stable(before: dict, after: dict) -> list[str]:
    """Every (natural key -> surrogate id) pair seen earlier survives
    unchanged, and ids stay unique within each dimension."""
    problems = []
    for table, (keys, id_col) in ID_KEYS.items():
        old = {tuple(r[:-1]): r[-1] for r in before[table][keys + [id_col]].itertuples(index=False)}
        new = {}
        for r in after[table][keys + [id_col]].itertuples(index=False):
            if tuple(r[:-1]) in new:
                problems.append(f"{table}: natural key {tuple(r[:-1])} appears twice")
            new[tuple(r[:-1])] = r[-1]
        moved = [k for k, v in old.items() if new.get(k) != v]
        if moved:
            problems.append(f"{table}: {len(moved)} surrogate ids changed or vanished, e.g. {moved[:3]}")
        if len(set(new.values())) != len(new):
            problems.append(f"{table}: surrogate ids are not unique")
    return problems


def build(ctx, data: str) -> dict:
    """Render, load and check the warehouse under ``ctx.path("star")``.
    Returns its path, the check problems and the two loads' figures."""
    import duckdb
    from fp_data_lakehouse_spark.etl.incremental import incremental_load
    from fp_data_lakehouse_spark.etl.pdf import build_pdf, decode_pdf_docs, paginate
    from fp_data_lakehouse_spark.operators.etlquery import synth_transcript_docs

    spark = ctx.spark
    wh = ctx.path("star")  # not "warehouse": that is the SQL warehouse dir
    docs = synth_transcript_docs(spark, data).toPandas()
    text = dict(zip(docs["doc_id"], docs["text"]))
    batches = split_batches(sorted(f"{d}.pdf" for d in text), ctx.seed, BATCH_DOCS)[:2]
    dirs = []
    for i, files in enumerate(batches):
        dirs.append(ctx.path("transcripts", f"b{i}"))
        os.makedirs(dirs[-1])
        for name in files:
            with open(os.path.join(dirs[-1], name), "wb") as f:
                f.write(build_pdf(paginate(text[name[:-len(".pdf")]])))

    info = {"load_ms": [], "decodes_per_doc": [], "warehouse_files": []}

    def load(paths: list[str], n_docs: int, op: str) -> None:
        scan = _scan(spark, paths)
        if ctx.trace:
            scan, decoded = counted(spark, scan)
        t0 = time.perf_counter()
        with ctx.windows.op("load"), ctx.tracer.span("etl.incremental.load", op):
            incremental_load(spark, decode_pdf_docs(scan), wh, with_gold=True)
        info["load_ms"].append((time.perf_counter() - t0) * 1000.0)
        if ctx.trace:
            info["decodes_per_doc"].append(decoded.value / n_docs)
            info["warehouse_files"].append(
                sum(f.endswith(".parquet") for _, _, fs in os.walk(wh) for f in fs))

    problems = []
    load(dirs[:1], len(batches[0]), "backfill")
    before = _snapshot(spark, wh)
    load(dirs, len(batches[0]) + len(batches[1]), "batch+redelivery")
    after = _snapshot(spark, wh)
    problems += check_ids_stable(before, after)
    problems += check_rows_kept(before, after)

    loaded = sorted(int(f[len("cust-"):-len(".pdf")]) for b in batches for f in b)
    got = _star_census(spark, wh)
    con = duckdb.connect()
    with ctx.duck():
        duck_views(con, data, ("customer", "orders"))
        con.sql("CREATE TABLE loaded(k BIGINT)")
        con.executemany("INSERT INTO loaded VALUES (?)", [(k,) for k in loaded])
        want = con.sql(CENSUS_SQL).df()
        for name in TABLES:
            con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{wh}/{name}.parquet/*.parquet'")
    problems += compare_frames("star census", got, want)
    info["docs"] = len(loaded)
    return {"path": wh, "problems": problems, "info": info, "duck": con}


def check_rows_kept(before: dict, after: dict) -> list[str]:
    """Re-delivery changes nothing: every enrollment row present before
    the second load is still there, unchanged."""
    key = ["id_mahasiswa", "id_mk", "id_waktu", "id_nilai"]
    old, new = before["fact_nilai_mk"], after["fact_nilai_mk"]
    merged = old.merge(new, on=key, how="left", suffixes=("", "_new"), indicator=True)
    lost = int((merged["_merge"] != "both").sum())
    changed = sum(int((merged[c] != merged[f"{c}_new"]).sum())
                  for c in old.columns if c not in key)
    return [f"fact_nilai_mk: {lost} rows lost and {changed} values changed by re-delivery"] if lost or changed else []
