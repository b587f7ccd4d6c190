"""Benchmark inputs: a cached pool of generated clip files plus their oracle
labels, and the per-seed inputs assembled from it by hard links.

The pool is a pure function of the generator and kernel sources, so it is
built once per checkout and keyed by a hash of ``core/``, ``datagen.py`` and
``oracle.py`` (the sources the test-suite cache keys on) and of this file. Each bucket
``b`` (``crc32(clip_id) % n_parts == b``) has ``shards`` candidate files; the
seed picks one per bucket, so input A is one file per bucket and every seed
selects a different set of row indices without regenerating audio.

Oracle labels come from ``oracle.oracle_labels``, computed file by file when
the pool is built and stored beside each file.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import multiprocessing as mp
import os
import random
import shutil
import zlib
from pathlib import Path

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "datasmith_spark"

_SCHEMA = pa.schema([
    ("clip_id", pa.string()), ("bytes", pa.binary()), ("sr_hz", pa.int32()),
    ("dur_ms", pa.int32()), ("codec", pa.string()), ("transcript", pa.string()),
])
ROW_GROUP = 64  # rows per parquet row group, as datagen.write_clips_parquet writes
MB_PER_ROW = 0.36  # measured mean encoded clip size (~345 KB) plus headroom
STREAM_BASE = 0  # stream clip indices start here, inside the frozen reference labels' range


@dataclasses.dataclass(frozen=True)
class Sizes:
    name: str  # the pool of each name is kept; pools of other sources or sizes are dropped
    n_parts: int  # buckets = label partitions
    rows_per_file: int  # rows in one bucket file of A
    shards: int  # candidate files per bucket in the pool
    stream_files: int  # small files in the stream pool
    rows_per_stream_file: int
    burst_files: int  # stream files dropped at once in one capacity burst

    @property
    def pool_rows(self) -> int:
        return (self.n_parts * self.shards * self.rows_per_file
                + self.stream_files * self.rows_per_stream_file)


FULL = Sizes(name="full", n_parts=32, rows_per_file=100, shards=2,
             stream_files=256, rows_per_stream_file=1, burst_files=64)
SMOKE = Sizes(name="smoke", n_parts=8, rows_per_file=6, shards=2,
              stream_files=40, rows_per_stream_file=1, burst_files=4)


def source_hash() -> str:
    h = hashlib.sha256()
    srcs = [*(PKG / "core").glob("*.py"), PKG / "datagen.py", PKG / "oracle.py", Path(__file__)]
    for p in sorted(srcs):
        h.update(p.name.encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:12]


def _bucket_of(i: int, n_parts: int) -> int:
    return zlib.crc32(f"clip_{i:012d}".encode()) % n_parts


def _write_file(job: tuple[str, list[int], int]) -> int:
    """Worker: generate rows, write them as one parquet file, and write the
    oracle labels of those rows beside it (``<name>.labels.parquet``)."""
    from datasmith_spark import datagen, oracle

    path, indices, n_parts = job
    pdf = datagen.gen_batch(indices)
    tmp = Path(path + ".tmp")
    _write_clips(pdf, tmp)
    oracle.oracle_labels(pdf, n_parts=n_parts).to_parquet(labels_path(path), index=False)
    os.rename(tmp, path)
    return len(indices)


def labels_path(path: str | Path) -> str:
    return str(path)[: -len(".parquet")] + ".labels.parquet"


class Pool:
    """The cached pool under ``cache_root/<name>/<source hash>-<sizes>``."""

    def __init__(self, cache_root: Path, sizes: Sizes):
        tag = "-".join(str(v) for v in dataclasses.astuple(sizes)[1:])
        self.dir = cache_root / sizes.name / f"{source_hash()}-{tag}"
        self.sizes = sizes

    def bucket_file(self, b: int, s: int) -> Path:
        return self.dir / "buckets" / f"b{b:03d}-s{s}.parquet"

    def stream_file(self, j: int) -> Path:
        return self.dir / "stream" / f"f{j:05d}.parquet"

    def ready(self) -> bool:
        return (self.dir / "READY").exists()

    def ensure(self, procs: int) -> bool:
        """Build the pool if it is missing; returns True when it was built."""
        if self.ready():
            return False
        sz = self.sizes
        # a pool of this name built from other sources or sizes is stale
        for d in self.dir.parent.glob("*"):
            shutil.rmtree(d, ignore_errors=True)
        self.dir.parent.mkdir(parents=True, exist_ok=True)
        need_mb = sz.pool_rows * MB_PER_ROW * 1.25  # headroom for outputs and spills
        free_mb = shutil.disk_usage(self.dir.parent).free / 1e6
        if free_mb < need_mb:
            raise SystemExit(
                f"perfbench: inputs need ~{need_mb:.0f} MB of free disk, only {free_mb:.0f} MB free"
            )
        (self.dir / "buckets").mkdir(parents=True)
        (self.dir / "stream").mkdir()
        per_bucket = sz.shards * sz.rows_per_file
        by_bucket: list[list[int]] = [[] for _ in range(sz.n_parts)]
        i = 0
        while any(len(v) < per_bucket for v in by_bucket):
            b = _bucket_of(i, sz.n_parts)
            if len(by_bucket[b]) < per_bucket:
                by_bucket[b].append(i)
            i += 1
        jobs = [
            (str(self.bucket_file(b, s)), idx[s * sz.rows_per_file:(s + 1) * sz.rows_per_file], sz.n_parts)
            for b, idx in enumerate(by_bucket) for s in range(sz.shards)
        ]
        r = sz.rows_per_stream_file
        jobs += [
            (str(self.stream_file(j)), list(range(STREAM_BASE + j * r, STREAM_BASE + (j + 1) * r)), sz.n_parts)
            for j in range(sz.stream_files)
        ]
        # spawn: the parent may already hold threads (JVM gateway, samplers)
        with mp.get_context("spawn").Pool(procs) as pool:
            done = sum(pool.imap_unordered(_write_file, jobs))
        if done != sz.pool_rows:
            raise RuntimeError(f"pool build wrote {done} rows, expected {sz.pool_rows}")
        (self.dir / "READY").write_text(json.dumps(dataclasses.asdict(sz)))
        return True


def _link(src: Path, dst: Path) -> None:
    dst.parent.mkdir(parents=True, exist_ok=True)
    os.link(src, dst)


@dataclasses.dataclass
class Inputs:
    files: list[Path]  # input clip files, in the order they are used
    origins: list[Path]  # the pool file each one is


def select_shards(pool: Pool, seed: int) -> list[int]:
    rng = random.Random(f"shards-{seed}")
    return [rng.randrange(pool.sizes.shards) for _ in range(pool.sizes.n_parts)]


def assemble_a(pool: Pool, seed: int, out: Path) -> Inputs:
    """Input A: one hard-linked pool file per bucket, chosen by the seed."""
    files, origins = [], []
    for b, s in enumerate(select_shards(pool, seed)):
        src = pool.bucket_file(b, s)
        dst = out / f"part-{b:05d}.parquet"
        _link(src, dst)
        files.append(dst)
        origins.append(src)
    return Inputs(files, origins)


def _write_clips(pdf: pd.DataFrame, path: Path) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    with pq.ParquetWriter(path, _SCHEMA, compression="snappy") as w:
        for s in range(0, len(pdf), ROW_GROUP):
            chunk = pdf.iloc[s:s + ROW_GROUP]
            w.write_table(pa.Table.from_pandas(chunk, schema=_SCHEMA, preserve_index=False))


def select_stream(pool: Pool, seed: int, n_files: int) -> Inputs:
    """The stream's files in drop order: a seed-chosen sample of the stream pool."""
    js = random.Random(f"stream-{seed}").sample(range(pool.sizes.stream_files), n_files)
    files = [pool.stream_file(j) for j in js]
    return Inputs(files, list(files))


def oracle_frames(inp: Inputs) -> list[pd.DataFrame]:
    """Oracle labels of the inputs, one frame per file, as cached beside
    each pool file."""
    return [pd.read_parquet(labels_path(o)) for o in inp.origins]
