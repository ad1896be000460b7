"""The package's Python-worker init hook (json_to_parquet_spark/__init__.py):
it runs once in every PySpark worker process and never on the driver, and
its zipimport guard re-reads an archive only when the file changed."""

import gc
import os
import subprocess
import sys
import zipimport

import pyarrow as pa

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_worker_init_hook_runs_in_every_worker(spark):
    # importing engine modules on the driver must leave its process state
    # (zipimport, gc, Arrow pools) alone
    import json_to_parquet_spark.operators.encode  # noqa: F401

    def probe(batches):
        import gc
        import os
        import zipimport

        import pyarrow as pa

        import json_to_parquet_spark  # noqa: F401  (as an engine task does)
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({
            "pid": [os.getpid()],
            "frozen": [gc.get_freeze_count()],
            "guard": [zipimport.zipimporter.invalidate_caches.__module__],
            "cpus": [pa.cpu_count()],
            "io": [pa.io_thread_count()],
        })

    n = 4 * spark.sparkContext.defaultParallelism
    rows = (spark.range(0, n, numPartitions=n)
            .mapInArrow(probe, "pid long, frozen long, guard string, "
                               "cpus long, io long")
            .collect())
    assert len(rows) == n
    for r in rows:
        assert r.frozen > 0, r
        assert r.guard == "json_to_parquet_spark", r
        assert (r.cpus, r.io) == (1, 1), r

    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
    assert gc.get_freeze_count() == 0
    default = subprocess.run(
        [sys.executable, "-c",
         "import pyarrow as pa; print(pa.cpu_count(), pa.io_thread_count())"],
        capture_output=True, text=True, check=True).stdout.split()
    assert [pa.cpu_count(), pa.io_thread_count()] == [int(x) for x in default]


_ZIP_GUARD_SCRIPT = r"""
import importlib, os, sys, zipfile, zipimport
import json_to_parquet_spark  # worker env: installs the hook
assert zipimport.zipimporter.invalidate_caches.__module__ == \
    "json_to_parquet_spark"

zpath = sys.argv[1]


def write(*mods):
    tmp = zpath + ".tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for m in mods:
            z.writestr(m + ".py", "NAME = %r\n" % m)
    os.replace(tmp, zpath)


reads = []
read_directory = zipimport._read_directory


def counting(path):
    reads.append(path)
    return read_directory(path)


zipimport._read_directory = counting
write("a")
sys.path.insert(0, zpath)
import a
assert a.NAME == "a"
importlib.invalidate_caches()  # first call per importer reads once
del reads[:]
for _ in range(3):
    importlib.invalidate_caches()
assert reads == [], reads

write("a", "b")
importlib.invalidate_caches()
assert reads.count(zpath) == 1, reads
import b
assert b.NAME == "b"

del reads[:]
os.remove(zpath)
importlib.invalidate_caches()  # stat fails: defer to zipimport
assert reads.count(zpath) == 1, reads
print("ok")
"""


def test_zipimport_guard_rereads_only_changed_archive(tmp_path):
    env = dict(os.environ, PYTHON_WORKER_FACTORY_SECRET="test",
               PYTHONPATH=REPO)
    out = subprocess.run(
        [sys.executable, "-c", _ZIP_GUARD_SCRIPT, str(tmp_path / "mods.zip")],
        env=env, capture_output=True, text=True, timeout=120)
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "ok"
