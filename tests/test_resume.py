"""Checkpoint/resume: kill after k partitions, rerun, byte-identical output.

SURVEY.md §5.4 — the Spark analogue of the reference's memo-cache semantics
(/root/reference/src/datasmith/utils.py:69-144, bypass_cache => force).
"""

import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from datasmith_spark.core.rules import STAGES
from datasmith_spark.pipeline import run_pipeline
from datasmith_spark.tables import TableLayer

from .conftest import N_PARTS, cache_dir, spark_jobs


def _labels_pdf(spark, out) -> pd.DataFrame:
    return (
        spark.read.parquet(f"{out}/labels")
        .select("clip_id", "keep", "drop_stage", "lang", "scrubbed_transcript")
        .toPandas()
        .sort_values("clip_id")
        .reset_index(drop=True)
    )


@pytest.fixture()
def outdirs():
    base = cache_dir() / "resume_test"
    a, b = str(base / "single"), str(base / "resumed")
    shutil.rmtree(base, ignore_errors=True)
    yield a, b
    shutil.rmtree(base, ignore_errors=True)


def test_resume_is_idempotent(spark, clips_path, outdirs):
    single_dir, resumed_dir = outdirs
    clips = spark.read.parquet(clips_path)

    # one-shot run
    r = run_pipeline(spark, clips, single_dir, n_parts=N_PARTS)
    assert r["parts_processed"] == N_PARTS

    # crashed run: only 5 parts complete, then resume
    r1 = run_pipeline(spark, clips, resumed_dir, n_parts=N_PARTS, fail_after_parts=5)
    assert r1["parts_processed"] == 5
    r2 = run_pipeline(spark, clips, resumed_dir, n_parts=N_PARTS)
    assert r2["parts_processed"] == N_PARTS - 5

    a = _labels_pdf(spark, single_dir)
    b = _labels_pdf(spark, resumed_dir)
    pd.testing.assert_frame_equal(a, b)

    # third run: everything checkpointed -> no-op
    r3 = run_pipeline(spark, clips, resumed_dir, n_parts=N_PARTS)
    assert r3["parts_processed"] == 0

    # force=True recomputes all parts (bypass_cache semantics)
    r4 = run_pipeline(spark, clips, resumed_dir, n_parts=N_PARTS, force=True)
    assert r4["parts_processed"] == N_PARTS
    pd.testing.assert_frame_equal(a, _labels_pdf(spark, resumed_dir))


def test_lineage_counts_consistent(spark, clips_path, oracle_pdf, outdirs):
    """Lineage and metrics equal, row for row, a pandas groupby of the
    oracle labels, with Spark's null-sum semantics: a sum over only nulls
    is null (drop_<stage> of a part with no row dropped there, pii/tox
    totals of the "?" lang group)."""
    single_dir, _ = outdirs
    clips = spark.read.parquet(clips_path)
    r = run_pipeline(spark, clips, single_dir, n_parts=N_PARTS)
    assert r["n_labeled"] == len(oracle_pdf)
    tl = TableLayer(single_dir)

    ora = oracle_pdf.assign(
        n_keep=oracle_pdf["keep"].astype("int64"),
        lang=oracle_pdf["lang"].fillna("?"),
        **{f"drop_{s}": (oracle_pdf["drop_stage"] == s).astype("int64")
           .where(oracle_pdf["drop_stage"].notna()) for s in STAGES},
    )

    def _rollup(keys, sums):
        want = ora.groupby(keys, dropna=False).agg(
            n=("clip_id", "size"), **{c: (src, lambda x: x.sum(min_count=1)) for c, src in sums}
        )
        return want.reset_index()

    def _got(name, cols):
        got = tl.read(spark, name).select(*cols).toPandas()
        return got.sort_values(cols[:2]).reset_index(drop=True)

    drops = [f"drop_{s}" for s in STAGES]
    lin = _rollup("part_id", [(c, c) for c in ["n_keep", *drops]]).rename(columns={"n": "n_in"})
    got = _got("lineage", ["part_id", "n_in", "n_keep", *drops])
    pd.testing.assert_frame_equal(got, lin[got.columns], check_dtype=False)
    # no duplicate lineage rows per (part, run)
    assert tl.read(spark, "lineage").groupBy("part_id", "run_id").count().filter("count > 1").count() == 0

    met = _rollup(
        ["lang", "codec"],
        [("n_keep", "n_keep"), ("pii_total", "pii_count"), ("tox_total", "tox_count")],
    )
    met["keep_rate"] = met["n_keep"] / met["n"]
    cols = ["lang", "codec", "n", "n_keep", "pii_total", "tox_total", "keep_rate"]
    got = _got("metrics", cols)
    assert got.loc[got["lang"] == "?", ["pii_total", "tox_total"]].isna().all().all()
    pd.testing.assert_frame_equal(got, met[cols], check_dtype=False)


def test_fingerprint_invalidates_changed_part(spark, clips_path, tmp_path):
    """Change ONE input row -> resume recomputes exactly that row's part
    (reference arg-blob cache-key semantics, utils.py:94-101)."""
    import glob
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from datasmith_spark.oracle import part_id_of

    inp = str(tmp_path / "inp")
    shutil.copytree(clips_path, inp)
    out = str(tmp_path / "out")

    r1 = run_pipeline(spark, None, out, n_parts=N_PARTS, input_dir=inp)
    assert r1["parts_processed"] == N_PARTS
    r2 = run_pipeline(spark, None, out, n_parts=N_PARTS, input_dir=inp)
    assert r2["parts_processed"] == 0

    # mutate one clip's transcript in place (same clip_id, same file layout)
    f = sorted(glob.glob(f"{inp}/part-*.parquet"))[0]
    t = pq.read_table(f)
    pdf = t.to_pandas()
    target = pdf.loc[0, "clip_id"]
    pdf.loc[0, "transcript"] = "hello this is the changed transcript row"
    pq.write_table(pa.Table.from_pandas(pdf, schema=t.schema, preserve_index=False), f)

    r3 = run_pipeline(spark, None, out, n_parts=N_PARTS, input_dir=inp)
    assert r3["parts_processed"] == 1

    lab = (
        spark.read.parquet(f"{out}/labels")
        .filter(F.col("clip_id") == target)
        .collect()
    )
    assert len(lab) == 1  # idempotent overwrite, no duplicate rows
    # the recomputed part is exactly the changed clip's part
    tl = TableLayer(out)
    latest = tl.latest_per_key(spark, "checkpoints", ["part_id"], "ts")
    changed = {r.part_id for r in latest.filter(F.col("run_id") == r3["run_id"]).collect()}
    assert changed == {part_id_of(target, N_PARTS)}


def _single_file_copy(clips_path: str, dest: str):
    """Collapse the clips table into one parquet file (easy row surgery)."""
    import glob
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(dest, exist_ok=True)
    tables = [pq.read_table(f) for f in sorted(glob.glob(f"{clips_path}/part-*.parquet"))]
    t = pa.concat_tables(tables)
    pq.write_table(t, f"{dest}/part-000.parquet")
    return t


def test_deleted_part_drops_stale_labels(spark, clips_path, tmp_path):
    """Deleting ALL input rows of a part must remove its labels partition on
    resume (reference INSERT OR REPLACE semantics, utils.py:130-138) — not
    leave a stale directory behind."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from datasmith_spark.oracle import part_id_of

    inp = str(tmp_path / "inp")
    t = _single_file_copy(clips_path, inp)
    out = str(tmp_path / "out")
    r1 = run_pipeline(spark, None, out, n_parts=N_PARTS, input_dir=inp)
    assert r1["parts_processed"] == N_PARTS

    victim = 3
    assert os.path.isdir(f"{out}/labels/part_id={victim}")
    pdf = t.to_pandas()
    keep = pdf[[part_id_of(c, N_PARTS) != victim for c in pdf.clip_id]]
    assert len(keep) < len(pdf)
    pq.write_table(
        pa.Table.from_pandas(keep, schema=t.schema, preserve_index=False),
        f"{inp}/part-000.parquet",
    )

    r2 = run_pipeline(spark, None, out, n_parts=N_PARTS, input_dir=inp)
    assert r2["parts_processed"] == 1  # exactly the emptied part
    assert not os.path.isdir(f"{out}/labels/part_id={victim}")
    assert spark.read.parquet(f"{out}/labels").count() == len(keep)

    # emptied part is checkpointed as done-for-empty: next resume is a no-op
    r3 = run_pipeline(spark, None, out, n_parts=N_PARTS, input_dir=inp)
    assert r3["parts_processed"] == 0


def test_n_parts_change_recomputes_clean(spark, clips_path, tmp_path):
    """Changing n_parts between runs changes the partition LAYOUT (part_id =
    crc32 % n_parts): resuming across it must wipe and recompute, never mix
    two layouts. A shrink (32->16 style) used to leave the old high-part_id
    label directories behind, duplicating every clip in them."""
    import os

    clips = spark.read.parquet(clips_path)
    total = clips.count()
    out = str(tmp_path / "out")

    r1 = run_pipeline(spark, clips, out, n_parts=N_PARTS)
    assert r1["parts_processed"] == N_PARTS

    # shrink: every clip must appear exactly once, under the NEW layout only
    half = N_PARTS // 2
    r2 = run_pipeline(spark, clips, out, n_parts=half)
    assert r2["parts_processed"] == half
    lab = spark.read.parquet(f"{out}/labels")
    assert lab.count() == total
    assert lab.select("clip_id").distinct().count() == total
    dirs = {d for d in os.listdir(f"{out}/labels") if d.startswith("part_id=")}
    assert dirs <= {f"part_id={p}" for p in range(half)}

    # unchanged rerun at the new layout still no-ops
    assert run_pipeline(spark, clips, out, n_parts=half)["parts_processed"] == 0

    # grow back: same guarantees in the other direction
    r4 = run_pipeline(spark, clips, out, n_parts=N_PARTS)
    assert r4["parts_processed"] == N_PARTS
    lab = spark.read.parquet(f"{out}/labels")
    assert lab.count() == total
    assert lab.select("clip_id").distinct().count() == total
    assert run_pipeline(spark, clips, out, n_parts=N_PARTS)["parts_processed"] == 0


def test_null_n_parts_checkpoint_triggers_recompute(spark, clips_path, tmp_path):
    """A checkpoint row whose n_parts reads back NULL (schema-merged old
    parquet files where the column exists but the latest row predates the
    guard) must behave like a missing column — wipe and recompute — not
    TypeError out of the run (r4 ADVICE)."""
    clips = spark.read.parquet(clips_path)
    total = clips.count()
    out = str(tmp_path / "out")

    run_pipeline(spark, clips, out, n_parts=N_PARTS)
    cp = spark.read.parquet(f"{out}/checkpoints")
    # rewrite the checkpoints with n_parts nulled on the LATEST row
    latest_ts = cp.agg(F.max("ts")).first()[0]
    mangled = cp.withColumn(
        "n_parts",
        F.when(F.col("ts") == latest_ts, F.lit(None).cast("int")).otherwise(F.col("n_parts")),
    )
    pdf = mangled.toPandas()
    shutil.rmtree(f"{out}/checkpoints")
    spark.createDataFrame(pdf, schema=mangled.schema).write.parquet(f"{out}/checkpoints")

    r = run_pipeline(spark, clips, out, n_parts=N_PARTS)
    assert r["parts_processed"] == N_PARTS  # layout unknown -> full recompute
    lab = spark.read.parquet(f"{out}/labels")
    assert lab.count() == total
    assert lab.select("clip_id").distinct().count() == total


def test_payload_fingerprint_opt_in(spark, clips_path, tmp_path):
    """fingerprint_payload=True must invalidate exactly the part whose audio
    bytes were swapped under unchanged metadata; the default metadata-only
    fingerprint documents that it does NOT see such a swap."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datasmith_spark.oracle import part_id_of

    inp = str(tmp_path / "inp")
    t = _single_file_copy(clips_path, inp)
    out_meta = str(tmp_path / "out_meta")
    out_pay = str(tmp_path / "out_pay")
    run_pipeline(spark, None, out_meta, n_parts=N_PARTS, input_dir=inp)
    run_pipeline(spark, None, out_pay, n_parts=N_PARTS, input_dir=inp, fingerprint_payload=True)
    assert run_pipeline(
        spark, None, out_pay, n_parts=N_PARTS, input_dir=inp, fingerprint_payload=True
    )["parts_processed"] == 0

    # swap ONE row's payload, same length, metadata untouched
    pdf = t.to_pandas()
    i = pdf.index[pdf.bytes.map(lambda b: b is not None and len(b) >= 8)][0]
    buf = bytearray(pdf.loc[i, "bytes"])
    buf[:8] = bytes(x ^ 0xFF for x in buf[:8])
    pdf.loc[i, "bytes"] = bytes(buf)
    target_part = part_id_of(pdf.loc[i, "clip_id"], N_PARTS)
    pq.write_table(
        pa.Table.from_pandas(pdf, schema=t.schema, preserve_index=False),
        f"{inp}/part-000.parquet",
    )

    r_meta = run_pipeline(spark, None, out_meta, n_parts=N_PARTS, input_dir=inp)
    assert r_meta["parts_processed"] == 0  # the documented blind spot
    r_pay = run_pipeline(
        spark, None, out_pay, n_parts=N_PARTS, input_dir=inp, fingerprint_payload=True
    )
    assert r_pay["parts_processed"] == 1
    tl = TableLayer(out_pay)
    latest = tl.latest_per_key(spark, "checkpoints", ["part_id"], "ts")
    changed = {r.part_id for r in latest.filter(F.col("run_id") == r_pay["run_id"]).collect()}
    assert changed == {target_part}


def test_unfingerprinted_sentinel_survives_toggle(spark, clips_path, tmp_path):
    """A fingerprint=False run writes an <unfingerprinted> sentinel; turning
    fingerprinting ON afterwards must NOT recompute every part, and must
    ADOPT current fingerprints so LATER input changes invalidate normally."""
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    from datasmith_spark.oracle import part_id_of

    inp = str(tmp_path / "inp")
    t = _single_file_copy(clips_path, inp)
    out = str(tmp_path / "out")
    r1 = run_pipeline(spark, None, out, n_parts=N_PARTS, input_dir=inp, fingerprint=False)
    assert r1["parts_processed"] == N_PARTS
    r2 = run_pipeline(spark, None, out, n_parts=N_PARTS, input_dir=inp)  # fingerprint=True
    assert r2["parts_processed"] == 0

    # fingerprints were adopted: a change AFTER the toggle invalidates
    # exactly its own part (the sentinel must not mask it forever)
    pdf = t.to_pandas()
    pdf.loc[0, "transcript"] = "changed after the unfingerprinted run"
    target_part = part_id_of(pdf.loc[0, "clip_id"], N_PARTS)
    pq.write_table(
        pa.Table.from_pandas(pdf, schema=t.schema, preserve_index=False),
        sorted(glob.glob(f"{inp}/part-*.parquet"))[0],
    )
    r3 = run_pipeline(spark, None, out, n_parts=N_PARTS, input_dir=inp)
    assert r3["parts_processed"] == 1
    tl = TableLayer(out)
    latest = tl.latest_per_key(spark, "checkpoints", ["part_id"], "ts")
    changed = {r.part_id for r in latest.filter(F.col("run_id") == r3["run_id"]).collect()}
    assert changed == {target_part}


@pytest.mark.parametrize("payload", [False, True])
def test_pinned_schema_fingerprints_match_inferred(spark, clips_path, payload):
    """run_pipeline reads input_dir with the clips schema pinned (no
    schema-inference job); the per-part fingerprints must equal those over
    the schema Spark infers from the files."""
    from datasmith_spark.datagen import CLIPS_SCHEMA_DDL
    from datasmith_spark.pipeline import META_FP_COLS, part_fingerprints

    cols = list(META_FP_COLS) + (["bytes"] if payload else [])
    pinned = spark.read.schema(CLIPS_SCHEMA_DDL).parquet(clips_path).select(*cols)
    inferred = spark.read.parquet(clips_path).select(*cols)
    got = part_fingerprints(pinned, N_PARTS, payload=payload)
    assert len(got) == N_PARTS
    assert got == part_fingerprints(inferred, N_PARTS, payload=payload)


def test_fresh_run_runs_five_spark_jobs(spark, clips_path, tmp_path):
    """A fresh path-mode run: the fingerprint aggregate (2 jobs), the labels
    write (1) and the side-table aggregate (2). Lineage, metrics and the
    checkpoint done-marker are appended from the driver and run none."""
    out = str(tmp_path / "out")
    r, jobs = spark_jobs(
        spark, lambda: run_pipeline(spark, None, out, n_parts=N_PARTS, input_dir=clips_path)
    )
    assert r["parts_processed"] == N_PARTS
    assert jobs == 5


def test_finished_out_dir_reports_wall_and_done(spark, clips_path, tmp_path):
    """A call with nothing pending still measured its layout guard,
    fingerprint pre-scan and checkpoint read: it reports that wall and logs
    the run's `done` event with 0 parts."""
    import logging

    out = str(tmp_path / "out")
    run_pipeline(spark, None, out, n_parts=N_PARTS, input_dir=clips_path)

    records: list[logging.LogRecord] = []
    handler = logging.Handler()
    handler.emit = records.append
    logger = logging.getLogger("datasmith_spark")
    logger.addHandler(handler)
    try:
        r = run_pipeline(spark, None, out, n_parts=N_PARTS, input_dir=clips_path)
    finally:
        logger.removeHandler(handler)
    assert r["parts_processed"] == 0
    assert r["wall_sec"] > 0
    done = [x for x in records if getattr(x, "event", None) == "done" and not hasattr(x, "stage")]
    assert [(x.run_id, x.parts, x.rows) for x in done] == [(r["run_id"], 0, 0)]
    assert done[0].wall_sec == round(r["wall_sec"], 3)


def test_resume_over_spark_written_side_tables(spark, clips_path, tmp_path):
    """Side tables whose earlier rows Spark's writer appended (as earlier
    versions of run_pipeline did) and whose later rows are pyarrow files:
    resume skips the done parts, latest_per_key picks the newest `ts`
    across both writers, and every file reads back with the declared types."""
    import glob
    import os

    out = str(tmp_path / "out")
    r1 = run_pipeline(spark, None, out, n_parts=N_PARTS, input_dir=clips_path, fail_after_parts=5)
    assert r1["parts_processed"] == 5
    names = ("checkpoints", "lineage", "metrics")
    for name in names:  # rewrite each log with Spark's writer, ts stamped by Spark
        path, tmp = f"{out}/{name}", f"{out}/.old-{name}"
        (
            spark.read.parquet(path).drop("ts").withColumn("ts", F.current_timestamp())
            .coalesce(1).write.mode("append").parquet(tmp)
        )
        shutil.rmtree(path)
        os.rename(tmp, path)

    r2 = run_pipeline(spark, None, out, n_parts=N_PARTS, input_dir=clips_path)
    assert r2["parts_processed"] == N_PARTS - 5
    r3 = run_pipeline(spark, None, out, n_parts=N_PARTS, input_dir=clips_path, force=True)
    assert r3["parts_processed"] == N_PARTS

    tl = TableLayer(out)
    latest = tl.latest_per_key(spark, "checkpoints", ["part_id"], "ts").collect()
    assert sorted(r.part_id for r in latest) == list(range(N_PARTS))
    assert {r.run_id for r in latest} == {r3["run_id"]}
    cp = spark.read.parquet(f"{out}/checkpoints")
    assert cp.count() == 5 + (N_PARTS - 5) + N_PARTS
    assert cp.filter(F.col("ts").isNull()).count() == 0

    drops = "".join(f"drop_{s}:bigint," for s in STAGES)
    want = {
        "checkpoints": "part_id:int,status:string,run_id:string,had_rows:int,"
                       "fingerprint:string,n_parts:int,ts:timestamp",
        "lineage": f"part_id:int,n_in:bigint,n_keep:bigint,{drops}run_id:string,ts:timestamp",
        "metrics": "lang:string,codec:string,n:bigint,n_keep:bigint,pii_total:bigint,"
                   "tox_total:bigint,keep_rate:double,run_id:string,ts:timestamp",
    }
    for name in names:
        files = sorted(glob.glob(f"{out}/{name}/*.parquet"))
        assert len(files) == 3  # the Spark-written file, then one per pyarrow append
        for f in files:
            assert spark.read.parquet(f).schema.simpleString() == f"struct<{want[name]}>", f
        assert spark.read.parquet(f"{out}/{name}").schema.simpleString() == f"struct<{want[name]}>"
