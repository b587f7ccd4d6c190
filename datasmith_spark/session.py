"""SparkSession factory with the tuned configuration for this engine.

local[N] in the sandbox; the same conf set is what we'd ship for a real
multi-executor cluster (AQE, skew-join handling, Arrow batching, dynamic
partition overwrite). Everything the pipeline strictly requires is also set
at runtime (spark.conf.set) so entry() works under a driver-created session.

The session's `file:` file system is datasmith.fs (Java sources in
datasmith_spark/jvm, compiled with javac on first use into .data/jvm/):
Hadoop's local file system with permissions and link lookups done through
java.nio. Without Hadoop's native library the stock class spawns a `chmod`
process from the driver JVM for every file and directory a write creates,
and a `readlink` for every streaming-checkpoint status lookup. Without a
javac the stock class stays.
"""

from __future__ import annotations

import glob
import hashlib
import logging
import os
import shutil
import subprocess
import tempfile

from pyspark.find_spark_home import _find_spark_home
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

# datasmith.fs (datasmith_spark/jvm): the local filesystem without Hadoop's
# per-call chmod/readlink processes, each of which the driver JVM spawns
_JVM_SRC = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm")
_LOCAL_FS = {
    "spark.hadoop.fs.file.impl": "datasmith.fs.NioRawLocalFileSystem",
    "spark.hadoop.fs.AbstractFileSystem.file.impl": "datasmith.fs.NioLocalFs",
}


def _local_fs_classes() -> str | None:
    """Class directory of the compiled datasmith.fs sources, built once per
    source and Hadoop version under <checkout>/.data/jvm/. None when the sources (a
    zipped package), Spark's Hadoop jar or a javac are missing; the session
    then uses Hadoop's RawLocalFileSystem."""
    srcs = sorted(glob.glob(os.path.join(_JVM_SRC, "datasmith", "fs", "*.java")))
    jars = glob.glob(os.path.join(_find_spark_home(), "jars", "hadoop-client-api-*.jar"))
    javac = shutil.which("javac")
    if not (srcs and jars and javac):
        return None
    h = hashlib.sha256(os.path.basename(jars[0]).encode())
    for src in srcs:
        with open(src, "rb") as f:
            h.update(f.read())
    root = os.path.join(_REPO_ROOT, ".data", "jvm")
    out = os.path.join(root, h.hexdigest()[:12])
    if os.path.isdir(out):
        return out
    os.makedirs(root, exist_ok=True)
    tmp = tempfile.mkdtemp(dir=root, prefix=".build-")
    r = subprocess.run([javac, "--release", "17", "-nowarn", "-cp", jars[0], "-d", tmp, *srcs],
                       capture_output=True)
    try:
        if r.returncode != 0:
            return None
        os.replace(tmp, out)
    except OSError:  # another session built it first
        pass
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out if os.path.isdir(out) else None


_SIZE_UNITS = {"": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
# cgroup memory limits, v2 (the namespace's root) and v1; "max" or a near-2^63
# value means unset
_CGROUP_LIMITS = ("/sys/fs/cgroup/memory.max", "/sys/fs/cgroup/memory/memory.limit_in_bytes")


def _jvm_size_bytes(size: str) -> int:
    """Bytes in a JVM memory size ("12g", "4023m", "512k", "1048576")."""
    s = size.strip().lower()
    unit = s[-1] if s[-1:] in _SIZE_UNITS else ""
    return int(s[: len(s) - len(unit)]) * _SIZE_UNITS[unit]


def _host_memory_bytes() -> int:
    """Physical memory, or the cgroup's memory limit where one is set and
    lower."""
    mem = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    for path in _CGROUP_LIMITS:
        try:
            with open(path) as f:
                limit = f.read().strip()
        except OSError:
            continue
        if limit.isdigit():
            mem = min(mem, int(limit))
    return mem


def _pretouch_opts(driver_mem: str) -> str:
    """JVM options for a fixed-size, pre-touched heap: page-fault the whole
    heap once at startup instead of faulting lazily under load. On a kernel
    that serializes page faults across threads, lazy faulting capped a
    32-thread parquet scan at ~70 MB/s; pre-touched it ran at >1 GB/s
    (measured 15x, 32-core host). Only for a heap that fits: pre-touching
    more than the host has kills the JVM before the gateway opens, so a
    larger heap gets no options (it grows lazily) and a warning."""
    host_mem = _host_memory_bytes()
    if _jvm_size_bytes(driver_mem) <= host_mem:
        return f" -Xms{driver_mem} -XX:+AlwaysPreTouch"
    logging.getLogger(__name__).warning(
        "driver_mem=%s exceeds the host's %d MiB of memory: heap not pre-touched",
        driver_mem, host_mem >> 20,
    )
    return ""


def _jvm_tmp_dir() -> str:
    """The driver JVM's java.io.tmpdir: <checkout>/.data/tmp, or one under
    the system temp directory when the package is imported from a zip
    (spark-submit --py-files), whose path is no directory to write in."""
    if os.path.isdir(_REPO_ROOT):
        return os.path.join(_REPO_ROOT, ".data", "tmp")
    return os.path.join(tempfile.gettempdir(), "datasmith_spark")


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
    tmp_dir = _jvm_tmp_dir()
    fs_classes = _local_fs_classes()
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
            f"-Djava.io.tmpdir={tmp_dir}{_pretouch_opts(driver_mem)}",
        )
    )
    if fs_classes:
        # the same, with permissions and link lookups in-process: every file
        # or directory Hadoop creates otherwise costs a `chmod` process
        # spawned from this multi-GB JVM (~90 per run_pipeline call)
        b = b.config("spark.driver.extraClassPath", fs_classes)
        for k, v in _LOCAL_FS.items():
            b = b.config(k, v)
    os.makedirs(tmp_dir, exist_ok=True)
    return b.getOrCreate()
