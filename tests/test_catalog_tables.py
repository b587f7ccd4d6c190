"""Catalog-mode TableLayer: the pipeline's four tables as Spark SQL catalog
tables instead of parquet directories (SURVEY.md §7.4 risk 5; closes the r4
"reserved no-op catalog parameter" item).

In-sandbox these run against the built-in session catalog, which only
exposes v1 tables — exercising the v1 fallback (conf-scoped dynamic
insertInto, ALTER TABLE DROP PARTITION). The v2-first code path
(writeTo().overwritePartitions()/.append(), row-level DELETE) is what an
Iceberg catalog binds to off-sandbox; it is attempted on every write here
too, so a catalog that supports v2 takes it with zero code change.
"""

import uuid

import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from datasmith_spark.pipeline import run_pipeline
from datasmith_spark.tables import TableLayer

from .conftest import N_PARTS

_LAB_COLS = ["clip_id", "keep", "drop_stage", "lang", "scrubbed_transcript"]


@pytest.fixture()
def ns(spark, tmp_path):
    db = f"cat_test_{uuid.uuid4().hex[:8]}"
    spark.sql(f"CREATE DATABASE {db} LOCATION '{tmp_path}/warehouse'")
    yield db
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def _pdf(df) -> pd.DataFrame:
    return df.select(*_LAB_COLS).toPandas().sort_values("clip_id").reset_index(drop=True)


def test_catalog_pipeline_parity_resume_and_force(spark, clips_path, ns, tmp_path):
    """Crash -> resume -> no-op in catalog mode, labels identical to the
    path-mode run of the same input."""
    clips = spark.read.parquet(clips_path)

    path_out = str(tmp_path / "path_out")
    run_pipeline(spark, clips, path_out, n_parts=N_PARTS)
    ref = _pdf(spark.read.parquet(f"{path_out}/labels"))

    tag = str(tmp_path / "cat_run")  # catalog mode: out_dir is only a log tag
    r1 = run_pipeline(spark, clips, tag, n_parts=N_PARTS, fail_after_parts=5, catalog=ns)
    assert r1["parts_processed"] == 5
    r2 = run_pipeline(spark, clips, tag, n_parts=N_PARTS, catalog=ns)
    assert r2["parts_processed"] == N_PARTS - 5
    pd.testing.assert_frame_equal(_pdf(spark.table(f"{ns}.labels")), ref)

    # everything checkpointed -> no-op; force -> full recompute, still exact
    assert run_pipeline(spark, clips, tag, n_parts=N_PARTS, catalog=ns)["parts_processed"] == 0
    r4 = run_pipeline(spark, clips, tag, n_parts=N_PARTS, force=True, catalog=ns)
    assert r4["parts_processed"] == N_PARTS
    pd.testing.assert_frame_equal(_pdf(spark.table(f"{ns}.labels")), ref)

    # side tables are real catalog tables with content
    assert spark.table(f"{ns}.lineage").count() >= N_PARTS
    assert spark.table(f"{ns}.metrics").filter(F.col("keep_rate").isNotNull()).count() > 0
    assert spark.table(f"{ns}.checkpoints").count() >= N_PARTS


def test_catalog_layout_guard_drops_tables(spark, clips_path, ns, tmp_path):
    """n_parts change must DROP + recreate the catalog tables (the wipe
    branch of the partition-layout guard), leaving exactly the new layout."""
    clips = spark.read.parquet(clips_path)
    tag = str(tmp_path / "cat_run")
    run_pipeline(spark, clips, tag, n_parts=8, catalog=ns)
    r = run_pipeline(spark, clips, tag, n_parts=4, catalog=ns)
    assert r["parts_processed"] == 4
    lab = spark.table(f"{ns}.labels")
    assert lab.select("part_id").distinct().count() == 4
    assert lab.count() == clips.count()
    assert lab.select("clip_id").distinct().count() == clips.count()


def test_catalog_deletion_semantics(spark, clips_path, ns, tmp_path):
    """A part whose input rows all vanish must lose its labels partition
    (DELETE FROM on v2 catalogs, ALTER TABLE DROP PARTITION on v1)."""
    clips = spark.read.parquet(clips_path)
    part = F.pmod(F.crc32(F.col("clip_id").cast("binary")), F.lit(N_PARTS)).cast("int")
    tag = str(tmp_path / "cat_run")
    run_pipeline(spark, clips, tag, n_parts=N_PARTS, catalog=ns)
    assert spark.table(f"{ns}.labels").filter(F.col("part_id") == 3).count() > 0

    subset = clips.filter(part != 3)
    run_pipeline(spark, subset, tag, n_parts=N_PARTS, catalog=ns)
    lab = spark.table(f"{ns}.labels")
    assert lab.filter(F.col("part_id") == 3).count() == 0
    assert lab.count() == subset.count()


def test_catalog_append_and_latest_per_key(spark, ns):
    """Direct TableLayer API in catalog mode: append-only log + LWW view."""
    tl = TableLayer("/unused", catalog=ns)
    schema = pa.schema([("k", pa.int32()), ("v", pa.string()), ("ts", pa.float64())])
    t1 = pa.Table.from_pylist([{"k": 1, "v": "a", "ts": 1.0}, {"k": 2, "v": "b", "ts": 1.0}], schema)
    t2 = pa.Table.from_pylist([{"k": 2, "v": "b2", "ts": 2.0}], schema)
    tl.append(t1, "log")
    tl.append(t2, "log")
    got = {r.k: r.v for r in tl.latest_per_key(spark, "log", ["k"], "ts").collect()}
    assert got == {1: "a", 2: "b2"}
    tl.wipe("log")
    assert not tl.exists(spark, "log")


def test_streaming_sink_guards_catalog_mode(spark, ns):
    from datasmith_spark.streaming import make_batch_sink

    with pytest.raises(NotImplementedError):
        make_batch_sink(TableLayer("/unused", catalog=ns))


def test_bucketed_store_join_is_shuffle_free(spark, ns):
    """Two stores bucketed on the same key/count equi-join with ZERO
    exchange; the identical non-bucketed join shuffles BOTH sides (the
    control proves the assertion isn't vacuous)."""
    tl = TableLayer("unused", catalog=ns)
    a = spark.range(0, 20000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    b = spark.range(0, 20000, 2).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("w")
    )
    tl.write_bucketed(a, "store_a", "k", n_buckets=8)
    tl.write_bucketed(b, "store_b", "k", n_buckets=8)
    thr = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(thr)
    spark.conf.set(thr, "-1")  # force SMJ so the exchange question is real
    try:
        ta, tb = spark.table(tl.ident("store_a")), spark.table(tl.ident("store_b"))
        j = ta.join(tb, "k")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert j.count() == 10000
        control = a.join(b, "k")
        cplan = control._jdf.queryExecution().executedPlan().toString()
        assert cplan.count("Exchange") >= 2
    finally:
        spark.conf.set(thr, old)
