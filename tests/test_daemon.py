"""Worker daemon: Spark's own archives stay off the Python worker path.

Every task calls importlib.invalidate_caches(), and on CPython 3.11 each
cached zipimporter re-reads its archive's directory then, so a worker that
keeps pyspark.zip / py4j / Spark's jar on its path pays that per task."""

from __future__ import annotations

import pathlib
import sys
import zipfile

import pytest

from datasmith_spark.daemon import _drop_spark_archives, _is_spark_archive


def test_worker_path_has_no_archives(spark):
    def probe(batches):
        import os
        import sys
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        files = [p for p in sys.path if os.path.isfile(p)]
        zips = [k for k, v in sys.path_importer_cache.items() if isinstance(v, zipimport.zipimporter)]
        yield pd.DataFrame({"kind": ["file"] * len(files) + ["zip"] * len(zips), "entry": files + zips})

    got = spark.range(4).repartition(2).mapInPandas(probe, "kind string, entry string").collect()
    assert got == []


@pytest.mark.parametrize(
    "entry, spark_own",
    [
        ("/opt/spark/python/lib/pyspark.zip", True),
        ("/opt/spark/python/lib/py4j-0.10.9.9-src.zip", True),
        ("/opt/spark-4.1.2-bin-hadoop3/jars/spark-core_2.13-4.1.2.jar", True),
        # user --py-files land in Spark's userFiles directory
        ("/tmp/spark-1/userFiles-2/datasmith_spark.zip", False),
        ("/tmp/spark-1/userFiles-2/pyspark.zip", False),
        ("/tmp/spark-1/userFiles-2/extra.jar", False),
        ("/usr/lib/python311.zip", False),
    ],
)
def test_only_spark_archives_are_dropped(entry, spark_own):
    assert _is_spark_archive(entry) is spark_own


@pytest.mark.parametrize("same_version", [True, False])
def test_archives_drop_only_for_the_installed_pyspark(tmp_path, monkeypatch, same_version):
    import pyspark.version

    installed = pathlib.Path(pyspark.version.__file__).read_bytes()
    zp = tmp_path / "python" / "lib" / "pyspark.zip"
    zp.parent.mkdir(parents=True)
    with zipfile.ZipFile(zp, "w") as z:
        z.writestr("pyspark/version.py", installed if same_version else b'__version__ = "0.0.0"\n')
    monkeypatch.setattr(sys, "path", [str(zp), *sys.path])
    _drop_spark_archives()
    assert (str(zp) in sys.path) is not same_version
