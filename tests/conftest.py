"""Shared fixtures: one SparkSession + cached deterministic clips/oracle data.

The session is sized from the host: cores from get_spark's own default
($SPARK_GRAFT_CPUS, else all), and a driver heap of a quarter of the host's
memory (physical, or the cgroup limit where lower), the JDK's default
maximum heap (-XX:MaxRAMPercentage=25). That heap fits, so get_spark
pre-touches it as it does in production.

The clips table and oracle labels are pure functions of the code (seed=42),
so they are cached under .data/test_cache keyed by a fingerprint of the
generating modules — edits to datagen/core auto-invalidate the cache.
"""

from __future__ import annotations

import hashlib
import os
import pathlib

import pandas as pd
import pytest

REPO = pathlib.Path(__file__).resolve().parent.parent
N_TEST = 2000
N_PARTS = 16


def _fingerprint() -> str:
    h = hashlib.sha256()
    pkg = REPO / "datasmith_spark"
    for p in sorted(list((pkg / "core").glob("*.py")) + [pkg / "datagen.py", pkg / "oracle.py"]):
        h.update(p.read_bytes())
    return h.hexdigest()[:12]


def cache_dir() -> pathlib.Path:
    d = REPO / ".data" / "test_cache" / _fingerprint()
    d.mkdir(parents=True, exist_ok=True)
    return d


@pytest.fixture(scope="session")
def spark():
    from datasmith_spark.session import _host_memory_bytes, get_spark

    s = get_spark(app="datasmith-tests", driver_mem=f"{_host_memory_bytes() // 4 >> 20}m")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def clips_path(spark) -> str:
    """Deterministic clips table (N_TEST rows) as parquet, cached."""
    p = cache_dir() / "clips"
    if not (p / "_SUCCESS").exists():
        from datasmith_spark import datagen

        datagen.clips_df(spark, N_TEST, n_partitions=8).write.mode("overwrite").parquet(str(p))
    return str(p)


@pytest.fixture(scope="session")
def clips_pdf(clips_path) -> pd.DataFrame:
    """The clips table in the driver, read with pyarrow: payloads included
    it is ~84 MB per Arrow batch, which a toPandas() would stage in the JVM."""
    import pyarrow.parquet as pq

    return pq.read_table(clips_path).to_pandas().sort_values("clip_id").reset_index(drop=True)


@pytest.fixture(scope="session")
def oracle_pdf(clips_pdf) -> pd.DataFrame:
    """Single-process reference labels, cached."""
    p = cache_dir() / "oracle_labels.parquet"
    if p.exists():
        return pd.read_parquet(p)
    from datasmith_spark import oracle

    df = oracle.oracle_labels(clips_pdf, n_parts=N_PARTS)
    df.to_parquet(p, index=False)
    return df


def assert_frames_exact(lab: pd.DataFrame, ora: pd.DataFrame) -> None:
    """Column-by-column exact comparison (floats bitwise, arrays elementwise)."""
    import numpy as np

    assert len(lab) == len(ora)
    for c in ora.columns:
        a, b = lab[c], ora[c]
        if c == "drop_reasons":
            bad = [
                i
                for i, (x, y) in enumerate(zip(a, b))
                if list(x if x is not None else []) != list(y if y is not None else [])
            ]
            assert not bad, f"drop_reasons mismatch rows {bad[:5]}"
        elif a.dtype.kind == "f" or b.dtype.kind == "f":
            av = a.to_numpy(dtype=float)
            bv = b.to_numpy(dtype=float)
            ok = (np.isnan(av) & np.isnan(bv)) | (av == bv)
            assert ok.all(), f"{c}: {int((~ok).sum())} float mismatches"
        else:
            ok = a.fillna("<null>").astype(str) == b.fillna("<null>").astype(str)
            assert ok.all(), f"{c}: {int((~ok).sum())} mismatches"


def spark_jobs(spark, fn):
    """(fn(), the number of Spark jobs it ran), counted with the status
    tracker over a job group of its own."""
    import uuid

    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
