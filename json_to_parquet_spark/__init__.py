"""json_to_parquet_spark — a PySpark-native per-column lightweight-compression engine.

Capability-equivalent rebuild (NOT a port) of Zhengsheng-Wang/Json-to-Parquet
(reference at /root/reference: a single-threaded Java JSON→Parquet converter,
see SURVEY.md). Where the reference delegates columnar encoding wholesale to
parquet-mr defaults (reference src/Writer.java:25-26), this engine implements
the lightweight codecs natively — dictionary, RLE, bit-packing,
frame-of-reference, and an FSST-style symbol-table text codec — with
per-chunk codec auto-selection driven by a statistics pass, all expressed as
vectorized Arrow/pandas stages over Spark DataFrames (zero per-row Python).

Layout:
  functions/codecs/   numpy/pyarrow codec kernels (no Spark dependency)
  functions/          column-expression helpers (text quality, lang-id, hashing)
  sources/            synthetic web-pages generator, testdata loaders, JSON ingest
  operators/          stats pass, codec selection, encode/decode, dedup, ANN
  plans/              end-to-end pipeline orchestration + checkpoint/resume
  streaming/          incremental (micro-batch) encode

Importing the package inside a PySpark Python worker (the first time a task
unpickles an engine function) also runs `_init_python_worker` once for that
process; on the driver the import does nothing beyond defining names.
"""

import os

__version__ = "0.1.0"


def _init_python_worker() -> None:
    """Per-process set-up of a PySpark Python worker.

    - Before every task, PySpark's worker calls `importlib.invalidate_caches()`
      (`pyspark/worker_util.py`, `setup_spark_files`). On CPython 3.11 that
      makes each cached `zipimporter` re-parse its archive's central
      directory: ~16 importers over the 1,328-entry `pyspark.zip`, 0.2-0.3 s
      per task on a 4-CPU box. The guard below re-reads an archive only when
      its (mtime, size, inode) changed since its last read, or the stat
      fails, so a replaced `--py-files` archive is still picked up.
    - One executor slot = one Python worker = one core's budget: Arrow's
      pools default to one thread per CPU per worker, so N concurrent
      workers would run up to N*N threads in take/sort/parquet writes.
    - `gc.freeze()` moves the import-time heap out of the collector's
      reach, so the `gc.collect()` the daemon runs after every task does
      not walk it again (~20 ms over ~73k objects per task). pandas and
      pyarrow.compute are imported first: every Arrow task loads them
      anyway, and pandas alone is ~27k of those objects.
    """
    import gc
    import zipimport

    import numpy  # noqa: F401  (the imports below precede gc.freeze)
    import pandas  # noqa: F401
    import pyarrow as pa
    import pyarrow.compute  # noqa: F401

    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            key = None
        if key is None or key != getattr(self, "_archive_key", None):
            reread(self)
            self._archive_key = key

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    pa.set_cpu_count(1)
    pa.set_io_thread_count(1)
    gc.freeze()


# set by the JVM for PySpark's daemon and workers only, never on the driver
if "PYTHON_WORKER_FACTORY_SECRET" in os.environ:
    _init_python_worker()
