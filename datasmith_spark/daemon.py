"""Preloading pyspark worker daemon (spark.python.daemon.module).

Python workers are forked from this daemon, so everything imported and
materialized here is inherited by every worker via copy-on-write — paid
once per executor instead of once per worker. That covers the heavy
imports (numpy / pandas / pyarrow) and the frozen model artifacts
(langid weights, LM count tables), which otherwise cost seconds of
page-faulting per fresh worker on this sandbox's slow-fault kernel.

Equivalent of the reference's one-time model load per process
(tiktoken encoder init, /root/reference/src/datasmith/scrape/build_reports.py:235-246)
hoisted to the process-tree root.

Before anything is imported, the daemon also takes Spark's own archives off
the worker path: `$SPARK_HOME/python/lib/pyspark.zip`, the py4j source zip
and the Spark jar(s) Spark puts at the head of every worker's PYTHONPATH.
Every task starts with `pyspark.worker_util.setup_spark_files`, which calls
`importlib.invalidate_caches()`; on CPython 3.11 each cached `zipimporter`
then re-reads its archive's central directory. With those three archives
(and their package sub-paths) in `sys.path_importer_cache` that is 16
directory reads and ~26,700 entries parsed, 200-220 ms of every Python task
on a 4-core host before the task's function runs; without them it is ~1 ms.
The archives go only when pyspark and py4j import from a directory without
them and that pyspark is the archive's own version, i.e. the same installed
pyspark the driver runs. User `--py-files` archives are added per task from
Spark's userFiles directory and are never touched.
"""

from __future__ import annotations

import os
import sys

# must land before numpy loads OpenBLAS: a 32-thread BLAS spin per tiny dot
# call serializes on this kernel (~8x on the fused label kernel); each Spark
# task is already a parallel unit, so workers get exactly one BLAS thread
for _k in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_k, "1")


def _is_spark_archive(entry: str) -> bool:
    """Spark's own archives on the worker path: the pyspark and py4j zips
    under `<spark>/python/lib` and the jars under `<spark>/jars`."""
    parent, name = os.path.split(entry)
    if os.path.basename(parent) == "jars":
        return name.endswith(".jar")
    in_lib = parent.endswith(os.path.join("python", "lib"))
    return in_lib and (name == "pyspark.zip" or (name.startswith("py4j-") and name.endswith("-src.zip")))


def _drop_spark_archives() -> None:
    """Take Spark's archives off `sys.path` and out of
    `sys.path_importer_cache` when the same pyspark and py4j import from a
    directory without them (see the module docstring)."""
    import importlib.machinery
    import zipfile

    archives = [p for p in sys.path if _is_spark_archive(p)]
    kept = [p for p in sys.path if p not in archives]
    specs = [importlib.machinery.PathFinder.find_spec(m, kept) for m in ("pyspark", "py4j")]
    if not all(s is not None and s.origin and os.path.isfile(s.origin) for s in specs):
        return
    version = os.path.join(os.path.dirname(specs[0].origin), "version.py")
    for zp in archives:
        if os.path.basename(zp) == "pyspark.zip":
            with zipfile.ZipFile(zp) as z, open(version, "rb") as f:
                if z.read("pyspark/version.py") != f.read():
                    return
    sys.path[:] = kept
    for key in list(sys.path_importer_cache):
        if any(key == a or key.startswith(a + os.sep) for a in archives):
            del sys.path_importer_cache[key]


def _preload() -> None:
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyarrow.parquet  # noqa: F401

    try:
        from datasmith_spark.core import langid, lm

        langid.model()
        lm.model()
    except Exception:
        # never block worker startup on artifact problems; workers will
        # rebuild lazily (correctness unaffected, only warmup cost)
        pass
    try:
        # the modules every Arrow-UDF closure unpickles into the worker:
        # without this, each worker pays the full import chain (queries.py
        # pulls the whole operator surface) on its FIRST task of a lane —
        # measured ~2.5 s x 32 workers of pure wait in the first
        # profile-kernel stage of a session. COW-shared from here instead.
        import datasmith_spark.queries  # noqa: F401
        import datasmith_spark.streaming  # noqa: F401
    except Exception:
        pass


if __name__ == "__main__":
    _drop_spark_archives()
    _preload()
    from pyspark.daemon import manager

    manager()
