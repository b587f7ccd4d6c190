"""Session: the local file system creates files without spawning processes.

Without Hadoop's native library, RawLocalFileSystem runs a `chmod` process
for every file and directory it creates, and a `readlink` process for every
FileContext status lookup (the stream checkpoint), each spawned from the
driver JVM. get_spark puts datasmith.fs (datasmith_spark/jvm) in its place,
which does both through java.nio."""

from __future__ import annotations

import logging
import os
import shutil
import stat
import subprocess
import sys
import tempfile
import threading
import time

import pytest

from datasmith_spark import session


def _jvm_children(pid: int, names: dict, stop: threading.Event) -> None:
    """Every name (comm) each child of `pid` is seen under: a spawned child
    runs under the spawning thread's name, then jspawnhelper, then the
    command, so a short-lived one may never be seen as the command."""
    while not stop.is_set():
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    s = f.read()
            except OSError:
                continue
            if d in names or int(s.rsplit(")", 1)[1].split()[1]) == pid:
                names.setdefault(d, set()).add(s[s.index("(") + 1:s.rindex(")")])
        time.sleep(0.001)


def _modes(*roots) -> tuple[set[int], set[int]]:
    """Permission bits of the directories (roots included) and of the files under roots."""
    dirs = {stat.S_IMODE(os.lstat(r).st_mode) for r in roots}
    files: set[int] = set()
    for r in roots:
        for d, ds, fs in os.walk(r):
            dirs |= {stat.S_IMODE(os.lstat(os.path.join(d, n)).st_mode) for n in ds}
            files |= {stat.S_IMODE(os.lstat(os.path.join(d, n)).st_mode) for n in fs}
    return dirs, files


def test_local_writes_spawn_no_processes(spark, tmp_path):
    """A partitioned table write and a checkpointed file stream run no
    chmod or readlink process, and leave Hadoop's modes (umask 022) and the
    checkpoint's .crc files as the stock file system does. (Spark itself
    spawns a few one-off processes per JVM, e.g. `getconf` at the first
    executor heartbeat, whenever they fall due.)"""
    assert session._local_fs_classes() is not None  # javac and Spark's Hadoop jar are on this host
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    assert hconf.get("fs.file.impl") == "datasmith.fs.NioRawLocalFileSystem"
    assert hconf.get("fs.AbstractFileSystem.file.impl") == "datasmith.fs.NioLocalFs"
    spark.range(10).write.parquet(str(tmp_path / "src"))  # the stream's input, before watching

    names, stop = {}, threading.Event()
    t = threading.Thread(target=_jvm_children, args=(spark.sparkContext._gateway.proc.pid, names, stop))
    t.start()
    try:
        spark.range(200).selectExpr("id", "id % 4 AS p").write.partitionBy("p").parquet(str(tmp_path / "t"))
        q = (spark.readStream.schema("id long").parquet(str(tmp_path / "src")).writeStream
             .format("parquet").option("checkpointLocation", str(tmp_path / "ck"))
             .option("path", str(tmp_path / "s")).trigger(availableNow=True).start())
        q.awaitTermination()
    finally:
        stop.set()
        t.join()
    assert {n for ns in names.values() for n in ns} & {"chmod", "readlink"} == set()
    assert spark.read.parquet(str(tmp_path / "t")).count() == 200
    assert spark.read.parquet(str(tmp_path / "s")).count() == 10

    assert _modes(tmp_path / "t", tmp_path / "s", tmp_path / "ck") == ({0o755}, {0o644})
    ck = {os.path.relpath(os.path.join(d, n), tmp_path / "ck") for d, _, fs in os.walk(tmp_path / "ck") for n in fs}
    assert {"offsets/0", "offsets/.0.crc", "commits/0", "commits/.0.crc"} <= ck


def test_set_permission_and_link_status(spark, tmp_path):
    """Every permission bit java.nio can set lands as given; a sticky bit
    takes Hadoop's own chmod. Link status reads as the stock class reads it,
    for a file, a directory and a symlink, by bare and by qualified path."""
    jvm = spark.sparkContext._jvm
    hadoop = jvm.org.apache.hadoop.fs
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    fs = hadoop.FileSystem.get(jvm.java.net.URI("file:///"), conf)
    stock = hadoop.RawLocalFileSystem()
    stock.initialize(jvm.java.net.URI("file:///"), conf)
    f, d, link = tmp_path / "f", tmp_path / "d", tmp_path / "link"
    f.write_text("x")
    d.mkdir()
    link.symlink_to(f)
    for path, mode in ((f, 0o640), (f, 0o777), (f, 0o000), (d, 0o1777), (d, 0o750)):
        fs.setPermission(hadoop.Path(str(path)), hadoop.permission.FsPermission(mode))
        assert stat.S_IMODE(os.stat(path).st_mode) == mode
    for p in (f, d, link):
        for path in (hadoop.Path(str(p)), hadoop.Path(f"file:{p}")):
            a, b = fs.getFileLinkStatus(path), stock.getFileLinkStatus(path)
            assert (a.isSymlink(), a.isDirectory(), a.getLen()) == (b.isSymlink(), b.isDirectory(), b.getLen())
    assert fs.getFileLinkStatus(hadoop.Path(str(link))).isSymlink()
    with pytest.raises(Exception, match="FileNotFoundException"):
        fs.getFileLinkStatus(hadoop.Path(str(tmp_path / "missing")))


def test_no_javac_leaves_stock_file_system(monkeypatch):
    monkeypatch.setattr(session.shutil, "which", lambda name: None)
    assert session._local_fs_classes() is None


class _Records(logging.Handler):
    def __init__(self) -> None:
        super().__init__()
        self.messages: list[str] = []

    def emit(self, record: logging.LogRecord) -> None:
        self.messages.append(record.getMessage())


def test_pretouch_only_a_heap_that_fits(monkeypatch):
    monkeypatch.setattr(session, "_host_memory_bytes", lambda: 4 << 30)
    # on the module's own logger: a configured "datasmith_spark" parent does
    # not propagate to the root logger
    log, seen = logging.getLogger(session.__name__), _Records()
    log.addHandler(seen)
    try:
        assert session._pretouch_opts("3g") == " -Xms3g -XX:+AlwaysPreTouch"
        assert session._pretouch_opts("4096m") == " -Xms4096m -XX:+AlwaysPreTouch"
        assert not seen.messages
        assert session._pretouch_opts("12g") == ""
        assert session._pretouch_opts("4194305k") == ""
    finally:
        log.removeHandler(seen)
    assert seen.messages == [
        "driver_mem=12g exceeds the host's 4096 MiB of memory: heap not pre-touched",
        "driver_mem=4194305k exceeds the host's 4096 MiB of memory: heap not pre-touched",
    ]


def test_host_memory_is_the_lower_of_physical_and_cgroup(monkeypatch, tmp_path):
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    unset, limited = tmp_path / "memory.max", tmp_path / "memory.limit_in_bytes"
    unset.write_text("max\n")
    limited.write_text(f"{1 << 30}\n")
    monkeypatch.setattr(session, "_CGROUP_LIMITS", (str(unset), str(tmp_path / "missing")))
    assert session._host_memory_bytes() == phys
    monkeypatch.setattr(session, "_CGROUP_LIMITS", (str(unset), str(limited)))
    assert session._host_memory_bytes() == min(phys, 1 << 30)


def test_jvm_tmp_dir_in_checkout_or_system_temp(tmp_path):
    """<checkout>/.data/tmp; imported from a --py-files zip, whose path is a
    file, a directory under the system temp directory."""
    assert session._jvm_tmp_dir() == os.path.join(session._REPO_ROOT, ".data", "tmp")
    zipped = shutil.make_archive(
        str(tmp_path / "datasmith_spark"), "zip",
        root_dir=session._REPO_ROOT, base_dir="datasmith_spark",
    )
    code = "from datasmith_spark import session; print(session._jvm_tmp_dir())"
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=tmp_path, env=dict(os.environ, PYTHONPATH=zipped),
        capture_output=True, text=True, check=True,
    ).stdout.strip()
    assert out == os.path.join(tempfile.gettempdir(), "datasmith_spark")
