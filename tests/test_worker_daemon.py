"""The Python worker daemon (fp_data_lakehouse_spark/worker_daemon.py):
its unchanged-archive guard on ``zipimporter.invalidate_caches``,
checked without Spark, and a ``get_session`` started outside the repo
whose Python tasks run under it."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from fp_data_lakehouse_spark import worker_daemon

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture()
def guarded_archive(tmp_path, monkeypatch):
    """A zip holding module ``wd_mod_a`` on sys.path, the guard
    installed (undone at teardown), and a list of the archive paths
    ``zipimport._read_directory`` parses."""
    archive = tmp_path / "pkg.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("wd_mod_a.py", "VALUE = 'a'\n")
    monkeypatch.syspath_prepend(str(archive))
    for name in ("wd_mod_a", "wd_mod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    reads: list[str] = []
    real = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    assert importlib.import_module("wd_mod_a").VALUE == "a"
    worker_daemon.install()
    reads.clear()  # the import itself read the archive
    yield str(archive), reads
    sys.path_importer_cache.pop(str(archive), None)


def test_unchanged_archive_is_not_reparsed(guarded_archive):
    archive, reads = guarded_archive
    importlib.invalidate_caches()  # no read recorded yet: reads once
    assert reads.count(archive) == 1
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads.count(archive) == 1


def test_rewritten_archive_is_reread(guarded_archive):
    archive, reads = guarded_archive
    importlib.invalidate_caches()
    before = reads.count(archive)
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("wd_mod_a.py", "VALUE = 'a'\n")
        z.writestr("wd_mod_b.py", "VALUE = 'b'\n")
    importlib.invalidate_caches()
    assert reads.count(archive) == before + 1
    assert importlib.import_module("wd_mod_b").VALUE == "b"


def test_install_changes_nothing_without_the_method(monkeypatch):
    monkeypatch.delattr(zipimport.zipimporter, "invalidate_caches")
    worker_daemon.install()
    assert not hasattr(zipimport.zipimporter, "invalidate_caches")


_OUTSIDE_REPO_SCRIPT = """
import json, sys
sys.path.insert(0, {repo!r})
from fp_data_lakehouse_spark.session import get_session

spark = get_session("worker-daemon-test", cpus=1)

def probe(batches):
    import zipimport
    import pyarrow as pa
    name = zipimport.zipimporter.invalidate_caches.__qualname__
    for b in batches:
        yield pa.RecordBatch.from_pydict({{"hook": [name] * b.num_rows}})

rows = spark.range(0, 6, 1, 3).mapInArrow(probe, "hook string").collect()
print(json.dumps(sorted({{r.hook for r in rows}}) + [len(rows)]))
spark.stop()
"""


def test_get_session_outside_repo_runs_python_tasks(tmp_path):
    """Workers import the daemon from the package's own directory, not
    from the driver's working directory or PYTHONPATH."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", _OUTSIDE_REPO_SCRIPT.format(repo=REPO_ROOT)],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result == ["install.<locals>.invalidate_caches", 6], result
