"""SparkSession factory with the tuned configuration for this engine.

local[N] in the sandbox; the same conf set is what we'd ship for a real
multi-executor cluster (AQE, skew-join handling, Arrow batching, dynamic
partition overwrite). Everything the pipeline strictly requires is also set
at runtime (spark.conf.set) so entry() works under a driver-created session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Keep freed large buffers in the glibc heap instead of munmap/mmap churn.
# Numpy temporaries >128 KiB otherwise hit a fresh mmap + page-fault storm per
# allocation, which serializes on the kernel and destroys multi-core scaling
# (measured here: ~200x on repeated 16 MB allocations). Must be in the
# environment BEFORE the JVM forks the pyspark worker daemons — worker
# processes inherit it from the JVM, which inherits it from this process.
_MALLOC_ENV = {
    "MALLOC_MMAP_THRESHOLD_": str(1 << 30),
    "MALLOC_TRIM_THRESHOLD_": str(1 << 30),
    # Route pyarrow through glibc so Arrow batch buffers get the same reuse
    # (jemalloc/mimalloc pools do their own mmap/decay churn).
    "ARROW_DEFAULT_MEMORY_POOL": "system",
    # Single-threaded BLAS in every worker: each Spark task is already a
    # parallel unit, and OpenBLAS's default 32-thread spin on tiny dot calls
    # serializes on this kernel (measured: the fused label kernel runs
    # ~1,000 rows/s with 1 BLAS thread vs 120-230 rows/s with the default).
    # The right setting on a real executor too (tasks own their core).
    "OPENBLAS_NUM_THREADS": "1",
    "OMP_NUM_THREADS": "1",
    "MKL_NUM_THREADS": "1",
}


# the directory holding the datasmith_spark package (the checkout root)
_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _set_malloc_env() -> None:
    for k, v in _MALLOC_ENV.items():
        os.environ.setdefault(k, v)
    # the preloading worker daemon (datasmith_spark/daemon.py) must be
    # importable from the forked python processes
    pp = os.environ.get("PYTHONPATH", "")
    if _REPO_ROOT not in pp.split(":"):
        os.environ["PYTHONPATH"] = f"{_REPO_ROOT}:{pp}" if pp else _REPO_ROOT


_set_malloc_env()


def get_spark(
    app: str = "datasmith_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    driver_mem: str = "12g",
) -> SparkSession:
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cores in ("*",) else max(int(cores), 8)
    # Fixed-size, pre-touched heap: page-fault the whole heap once at startup
    # instead of faulting lazily under load. This sandbox's kernel serializes
    # page faults across threads, so lazy faulting caps a 32-thread parquet
    # scan at ~70 MB/s; pre-touched it runs at >1 GB/s (measured 15x).
    xms = f"-Xms{driver_mem} -XX:+AlwaysPreTouch"
    tmp_dir = os.path.join(_REPO_ROOT, ".data", "tmp")
    b = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Prefer shuffled-hash over sort-merge when the per-partition build
        # side fits (guide §3.1/§9): no sort pass on either side. The AQE
        # threshold bounds the build-side partition size, so the setting is
        # scale-safe on a cluster too (env-overridable; measured ~1.3x on
        # the candidate-pair joins at 10x-replica scale, e.g. q154 18->11s).
        .config(
            "spark.sql.join.preferSortMergeJoin",
            os.environ.get("SPARK_GRAFT_PREFER_SMJ", "false"),
        )
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            os.environ.get("SPARK_GRAFT_SHJ_LOCAL_MAP", "64m"),
        )
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
        # RawLocalFileSystem: skip .crc shadow files + double-write checksums
        # on every local write (this sandbox's kernel-call path is the
        # bottleneck; on a real cluster the FS would be HDFS/S3 anyway).
        .config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
        # fork workers from a daemon that has numpy/pandas/pyarrow and the
        # frozen model artifacts already paged in (COW-shared per worker)
        .config("spark.python.daemon.module", "datasmith_spark.daemon")
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={tmp_dir} {xms}",
        )
    )
    os.makedirs(tmp_dir, exist_ok=True)
    return b.getOrCreate()
