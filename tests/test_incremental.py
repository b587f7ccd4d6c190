"""Incremental near-dup dedup against the bucketed seen-key store."""

from __future__ import annotations

import uuid

import numpy as np
import pytest
from pyspark.sql import functions as F

from datasmith_spark.core.audio import encode
from datasmith_spark.tables import TableLayer

from .conftest import write_rows


@pytest.fixture()
def ns(spark, tmp_path):
    db = f"inc_test_{uuid.uuid4().hex[:8]}"
    spark.sql(f"CREATE DATABASE {db} LOCATION '{tmp_path}/warehouse'")
    yield db
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def _tone(sr: int, secs: float, f: float, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    t = np.arange(int(sr * secs)) / sr
    return 0.5 * np.sin(2 * np.pi * f * t) + 0.04 * rng.standard_normal(t.size)


def _clips(spark, rows):
    return spark.createDataFrame(
        rows,
        "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string, transcript string",
    )


def _record_swaps(monkeypatch) -> list[str]:
    """Destinations of every tables._atomic_replace_dir call from here on."""
    import os

    from datasmith_spark import tables

    swapped: list[str] = []
    real = tables._atomic_replace_dir

    def recording(src: str, dst: str) -> None:
        swapped.append(os.path.normpath(dst))
        real(src, dst)

    monkeypatch.setattr(tables, "_atomic_replace_dir", recording)
    return swapped


def _assert_swapped_in(out: str, name: str, swapped: list[str]) -> None:
    """Every stream_batch=N partition of out/name was committed by
    TableLayer's staged swap, and no staging or Spark-temporary directory
    is left anywhere under out."""
    import os

    table = os.path.join(out, name)
    parts = {os.path.join(table, d) for d in os.listdir(table) if d.startswith("stream_batch=")}
    assert parts and parts <= set(swapped), (parts, swapped)
    left = [
        d for _, dirs, _ in os.walk(out) for d in dirs
        if d.startswith((".staging-", ".spark-staging")) or d == "_temporary"
    ]
    assert not left, left


class TestIncrementalDedup:
    def test_ingest_flags_seen_dups_and_appends_novel(self, spark, ns):
        from datasmith_spark.operators.audio_fp import fingerprint_clips
        from datasmith_spark.operators.incremental import ingest_batch

        sr = 16000
        base = {f"corpus_{i}": _tone(sr, 2.0, 300.0 + 40 * i, seed=i) for i in range(8)}
        batch1 = _clips(
            spark,
            [(cid, encode(x, "pcm16"), sr, 2000, "pcm16", "t") for cid, x in base.items()],
        )
        tl = TableLayer("unused", catalog=ns)

        k1 = fingerprint_clips(batch1)
        pairs1, novel1, dup1 = ingest_batch(spark, tl, "seen", k1)
        assert (novel1, dup1) == (8, 0) and pairs1.count() == 0

        # batch 2: 3 new clips + a gain-ridden pcm16 re-encode of corpus_3
        # (the q38-recoverable transform) under a real-world id
        dup_sig = encode(0.9 * base["corpus_3"], "pcm16")
        batch2 = _clips(
            spark,
            [(f"new_{i}", encode(_tone(sr, 2.0, 900.0 + 35 * i, seed=100 + i), "pcm16"),
              sr, 2000, "pcm16", "t") for i in range(3)]
            + [("s3://ingest/dup of corpus 3.wav", dup_sig, sr, 2000, "pcm16", "t")],
        )
        k2 = fingerprint_clips(batch2)
        pairs2, novel2, dup2 = ingest_batch(spark, tl, "seen", k2)
        got = {(r.batch_id, r.seen_id) for r in pairs2.collect()}
        assert got == {("s3://ingest/dup of corpus 3.wav", "corpus_3")}
        assert (novel2, dup2) == (3, 1)

        # the store grew by exactly the novel clips' ids
        ids = {r.clip_id for r in tl.read(spark, "seen").select("clip_id").distinct().collect()}
        assert ids == set(base) | {f"new_{i}" for i in range(3)}

        # re-ingesting batch 2 now flags the previously-novel clips as
        # self-dups of their stored keys (novel set is empty)
        pairs3, novel3, dup3 = ingest_batch(spark, tl, "seen", k2)
        assert novel3 == 0 and dup3 == 4

    def test_store_side_never_shuffles(self, spark, ns):
        """The probe join's store side is bucketed on the join key: its scan
        feeds the join with NO exchange (only the incoming batch moves)."""
        from datasmith_spark.operators.incremental import init_seen_store

        tl = TableLayer("unused", catalog=ns)
        keys = spark.range(0, 5000).select(
            F.concat(F.lit("c"), F.col("id")).alias("clip_id"),
            F.conv(F.col("id") % 800, 10, 16).alias("fp_key"),
        )
        init_seen_store(tl, "seen_plan", keys, n_buckets=8)
        store = spark.table(tl.ident("seen_plan"))
        batch = spark.range(0, 100).select(
            F.concat(F.lit("b"), F.col("id")).alias("clip_id"),
            F.conv(F.col("id") % 800, 10, 16).alias("fp_key"),
        )
        thr = "spark.sql.autoBroadcastJoinThreshold"
        old = spark.conf.get(thr)
        spark.conf.set(thr, "-1")
        try:
            j = batch.join(store.withColumnRenamed("clip_id", "seen_id"), "fp_key")
            plan = j._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set(thr, old)
        # exactly one exchange: the batch side; the bucketed store side none
        assert plan.count("Exchange") == 1, plan


class TestStreamingDedup:
    def test_two_drops_second_flags_dup_of_first(self, spark, ns, tmp_path, monkeypatch):
        """drop1 seeds the store; drop2 (arriving later) carries a gain-
        ridden re-encode of a drop1 clip — the streaming job flags exactly
        that pair and appends only the novel keys. dup_pairs partitions are
        committed through TableLayer's staged swap."""
        from datasmith_spark.streaming import run_streaming_dedup

        swapped = _record_swaps(monkeypatch)

        sr = 16000
        base = {f"seed_{i}": _tone(sr, 2.0, 320.0 + 45 * i, seed=40 + i) for i in range(5)}
        inp = str(tmp_path / "in")
        out = str(tmp_path / "out")
        _clips(
            spark,
            [(cid, encode(x, "pcm16"), sr, 2000, "pcm16", "t") for cid, x in base.items()],
        ).coalesce(1).write.parquet(inp)

        from datasmith_spark.streaming import read_dup_pairs

        run_streaming_dedup(spark, inp, out, store_catalog=ns, store_name="seen_s")
        tl = TableLayer("unused", catalog=ns)
        assert tl.read(spark, "seen_s").select("clip_id").distinct().count() == 5
        assert read_dup_pairs(spark, out).count() == 0

        # second drop lands later: one novel clip + one dup of seed_2
        rows = [
            ("novel_a", encode(_tone(sr, 2.0, 950.0, seed=99), "pcm16"), sr, 2000, "pcm16", "t"),
            ("http://cdn/seed2 again.wav", encode(0.9 * base["seed_2"], "pcm16"),
             sr, 2000, "pcm16", "t"),
        ]
        _clips(spark, rows).coalesce(1).write.mode("append").parquet(inp)
        run_streaming_dedup(spark, inp, out, store_catalog=ns, store_name="seen_s")

        dup_rows = read_dup_pairs(spark, out).collect()
        assert len(dup_rows) == 1
        assert dup_rows[0].batch_id == "http://cdn/seed2 again.wav"
        assert dup_rows[0].seen_id == "seed_2"
        ids = {r.clip_id for r in tl.read(spark, "seen_s").select("clip_id").distinct().collect()}
        assert ids == set(base) | {"novel_a"}

        # restart over the unchanged dir: checkpoint makes it a no-op
        run_streaming_dedup(spark, inp, out, store_catalog=ns, store_name="seen_s")
        assert read_dup_pairs(spark, out).count() == 1
        assert tl.read(spark, "seen_s").select("clip_id").distinct().count() == 6
        _assert_swapped_in(out, "dup_pairs", swapped)


class TestCompactStore:
    def test_compact_dedups_and_preserves_probe(self, spark, ns):
        from datasmith_spark.operators.audio_fp import fingerprint_clips
        from datasmith_spark.operators.incremental import (
            compact_store,
            ingest_batch,
            seen_store_neardup,
        )

        sr = 16000
        base = {f"k_{i}": _tone(sr, 2.0, 300.0 + 40 * i, seed=60 + i) for i in range(4)}
        keys = fingerprint_clips(
            _clips(
                spark,
                [(c, encode(x, "pcm16"), sr, 2000, "pcm16", "t") for c, x in base.items()],
            )
        ).localCheckpoint(eager=True)
        tl = TableLayer("unused", catalog=ns)
        ingest_batch(spark, tl, "cst", keys)
        # simulate the crash window: the same batch's keys re-appended
        keys.write.format(tl.fmt).mode("append").bucketBy(32, "fp_key").sortBy(
            "fp_key"
        ).saveAsTable(tl.ident("cst"))
        spark.catalog.refreshTable(tl.ident("cst"))
        n_dup_rows = tl.read(spark, "cst").count()

        probe = _clips(
            spark,
            [("probe", encode(0.9 * base["k_1"], "pcm16"), sr, 2000, "pcm16", "t")],
        )
        pk = fingerprint_clips(probe).localCheckpoint(eager=True)
        before_pairs = sorted(
            (r.batch_id, r.seen_id)
            for r in seen_store_neardup(pk, tl.read(spark, "cst")).collect()
        )

        before, after = compact_store(spark, tl, "cst")
        assert before == n_dup_rows and after == n_dup_rows // 2

        after_pairs = sorted(
            (r.batch_id, r.seen_id)
            for r in seen_store_neardup(pk, tl.read(spark, "cst")).collect()
        )
        assert after_pairs == before_pairs and len(after_pairs) == 1

        # the compacted store still equi-joins with zero exchange on its
        # side: only the probe side (plus its aggregate) shuffles
        st = tl.read(spark, "cst")
        probe_keys = spark.createDataFrame(
            [(r.fp_key,) for r in pk.select("fp_key").distinct().collect()],
            "fp_key string",
        )
        thr = "spark.sql.autoBroadcastJoinThreshold"
        old = spark.conf.get(thr)
        spark.conf.set(thr, "-1")
        try:
            joined = st.join(probe_keys, "fp_key")
            plan = joined._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set(thr, old)
        # exactly one exchange: the probe side; the compacted store none
        assert plan.count("Exchange") == 1, plan
        # compaction preserves semantics end to end: re-ingest flags the dup
        _, n_novel, n_dup = ingest_batch(spark, tl, "cst", pk)
        assert (n_novel, n_dup) == (0, 1)

    def test_compact_adopts_orphan_staging(self, spark, ns):
        from datasmith_spark.operators.incremental import compact_store

        tl = TableLayer("unused", catalog=ns)
        rows = spark.createDataFrame(
            [("a", "k1"), ("a", "k2")], "clip_id string, fp_key string"
        )
        # crashed predecessor: staging exists, store dropped
        rows.write.format(tl.fmt).mode("overwrite").bucketBy(32, "fp_key").sortBy(
            "fp_key"
        ).saveAsTable(tl.ident("orph__compact"))
        before, after = compact_store(spark, tl, "orph")
        assert before == -1 and after == 2
        assert tl.exists(spark, "orph") and not tl.exists(spark, "orph__compact")


class TestIncrementalImageDedup:
    """Continuous-ingest image dedup against the persisted dHash band-key
    store: cross-batch recall of an exposure-variant re-upload, re-ingest
    flags everything as seen, store grows by novel images only."""

    def _hashes(self, spark, tmp_path, imgs):
        import pandas as pd

        from datasmith_spark.operators.image_fp import image_hash_scan

        pdf = pd.DataFrame(
            {
                "img_id": [i for i, _ in imgs],
                "bytes": [im.tobytes() for _, im in imgs],
                "width": 32,
                "height": 24,
                "fmt": "rgb8",
            }
        )
        return image_hash_scan(spark, write_rows(tmp_path, pdf))

    def test_cross_batch_recall_and_store_growth(self, spark, ns, tmp_path):
        from datasmith_spark.core.image_fp import aug_exposure_variant
        from datasmith_spark.operators.image_fp import ingest_image_batch

        rng = np.random.default_rng(314)
        base = {
            f"web/img-{i}.png": rng.integers(0, 256, (24, 32, 3), dtype=np.uint8)
            for i in range(10)
        }
        tl = TableLayer("unused", catalog=ns)
        items = list(base.items())

        # batch 1: ten originals -> store init, no pairs
        h1 = self._hashes(spark, tmp_path, items)
        pairs, n_novel, n_dup = ingest_image_batch(spark, tl, "imgstore", h1)
        assert (n_novel, n_dup) == (10, 0) and pairs.count() == 0

        # batch 2: an exposure-variant re-upload + two new images
        b2 = [
            ("reupload/variant", aug_exposure_variant(items[3][1])),
            ("web/img-new-a.png", rng.integers(0, 256, (24, 32, 3), dtype=np.uint8)),
            ("web/img-new-b.png", rng.integers(0, 256, (24, 32, 3), dtype=np.uint8)),
        ]
        pairs2, n_novel2, n_dup2 = ingest_image_batch(
            spark, tl, "imgstore", self._hashes(spark, tmp_path, b2)
        )
        got = [(r["batch_id"], r["seen_id"]) for r in pairs2.collect()]
        assert got == [("reupload/variant", "web/img-3.png")]
        assert (n_novel2, n_dup2) == (2, 1)

        # store holds melted keys for 12 images (10 + 2 novel), 4 bands each
        melted = tl.read(spark, "imgstore")
        assert melted.select("img_id").distinct().count() == 12
        assert melted.count() == 48
        wide = tl.read(spark, "imgstore__wide")
        assert wide.count() == 12

        # re-ingest batch 2 wholesale: all three now flagged seen, no growth
        pairs3, n_novel3, n_dup3 = ingest_image_batch(
            spark, tl, "imgstore", self._hashes(spark, tmp_path, b2)
        )
        assert n_novel3 == 0 and n_dup3 == 3
        assert tl.read(spark, "imgstore").count() == 48


class TestSnapshotDiff:
    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "k bigint, text string, lang string")

    def test_classifies_added_removed_changed_and_prunes_unchanged(self, spark):
        from datasmith_spark.operators.incremental import snapshot_diff

        old = self._docs(
            spark,
            [(1, "same", "en"), (2, "before", "en"), (3, "gone", "de")],
        )
        new = self._docs(
            spark,
            [(1, "same", "en"), (2, "after", "en"), (4, "fresh", "fr")],
        )
        got = {
            (r["k"], r["status"])
            for r in snapshot_diff(old, new, "k", ["text", "lang"]).collect()
        }
        assert got == {(2, "changed"), (3, "removed"), (4, "added")}

    def test_projects_fingerprints_before_the_join(self, spark):
        # the full-outer join must see only (key, md5) — payload columns
        # never shuffle — and must be an equi-join, never a nested loop
        from datasmith_spark.operators.incremental import snapshot_diff

        old = self._docs(spark, [(1, "a" * 100, "en")])
        new = self._docs(spark, [(1, "b" * 100, "en")])
        df = snapshot_diff(old, new, "k", ["text", "lang"])
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "FullOuter" in plan, plan
        assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan, plan
        # the join's output attributes are only key + hashes
        join_line = next(ln for ln in plan.splitlines() if "FullOuter" in ln)
        assert "text" not in join_line and "lang" not in join_line, join_line


def test_merge_rollups_overlapping_and_disjoint_cells(spark):
    """Merging partials == recomputing: overlapping cells add/min/max,
    delta-only cells appear, base-only cells pass through."""
    from datasmith_spark.operators.incremental import merge_rollups, rollup_partial

    base_rows = [("d1", "a", 10), ("d1", "a", 20), ("d1", "b", 5)]
    delta_rows = [("d1", "a", 1), ("d2", "a", 7)]
    ddl = "day string, t string, v bigint"
    base = rollup_partial(spark.createDataFrame(base_rows, ddl), ["day", "t"], "v")
    delta = rollup_partial(spark.createDataFrame(delta_rows, ddl), ["day", "t"], "v")
    merged = {(r.day, r.t): (r.n, r.s, r.mn, r.mx)
              for r in merge_rollups([base, delta], ["day", "t"]).collect()}
    full = {(r.day, r.t): (r.n, r.s, r.mn, r.mx)
            for r in rollup_partial(
                spark.createDataFrame(base_rows + delta_rows, ddl), ["day", "t"], "v"
            ).collect()}
    assert merged == full
    assert merged[("d1", "a")] == (3, 31, 1, 20)
    assert merged[("d2", "a")] == (1, 7, 7, 7)
    assert merged[("d1", "b")] == (1, 5, 5, 5)


def test_merge_rollups_three_way_associative(spark):
    from datasmith_spark.operators.incremental import merge_rollups, rollup_partial

    ddl = "day string, t string, v bigint"
    parts = [
        spark.createDataFrame([("d", "x", i * 10 + j) for j in range(3)], ddl)
        for i in range(3)
    ]
    ps = [rollup_partial(p, ["day", "t"], "v") for p in parts]
    a = merge_rollups([merge_rollups(ps[:2], ["day", "t"]), ps[2]], ["day", "t"]).collect()
    b = merge_rollups(ps, ["day", "t"]).collect()
    assert sorted(map(str, a)) == sorted(map(str, b))


def test_registry_has_q119(spark):
    from datasmith_spark.queries import ORACLE_SQL, QUERIES

    assert "q119_incremental_rollup" in QUERIES and "q119_incremental_rollup" in ORACLE_SQL


class TestStreamingLandmarkDedup:
    def test_delayed_reupload_flagged_across_batches(self, spark, ns, tmp_path, monkeypatch):
        """The streaming twin of q157/q158: drop1 seeds the posting store;
        drop2 carries a DELAYED (arbitrary sub-hop phase) + attenuated +
        requantized copy of a drop1 track — the class run_streaming_dedup's
        frame-aligned lane misses — plus one novel clip. The job must flag
        exactly that match, confidently, at the right offset bracket, and
        append only novel postings. lm_dup_pairs partitions are committed
        through TableLayer's staged swap."""
        from datasmith_spark.core.landmark import LM_HOP, delayed_variant16
        from datasmith_spark.streaming import (
            read_lm_dup_pairs,
            run_streaming_landmark_dedup,
        )

        swapped = _record_swaps(monkeypatch)

        sr = 16000

        def rich(f, seed):
            rng = np.random.default_rng(seed)
            t = np.arange(int(sr * 3.0)) / sr
            x = 0.5 * np.sin(2 * np.pi * f * t) + 0.3 * np.sin(
                2 * np.pi * 2.7 * f * (1 + 0.02 * np.sin(2 * np.pi * 0.6 * t)) * t
            )
            return x + 0.03 * rng.standard_normal(t.size)

        base = {f"track_{i}": rich(260.0 + 65 * i, seed=70 + i) for i in range(5)}
        inp = str(tmp_path / "lm_in")
        out = str(tmp_path / "lm_out")
        _clips(
            spark,
            [(cid, encode(x, "pcm16"), sr, 3000, "pcm16", "t") for cid, x in base.items()],
        ).coalesce(1).write.parquet(inp)

        run_streaming_landmark_dedup(spark, inp, out, store_catalog=ns, store_name="lm_s")
        tl = TableLayer("unused", catalog=ns)
        assert tl.read(spark, "lm_s").select("clip_id").distinct().count() == 5
        assert read_lm_dup_pairs(spark, out).count() == 0

        d = 777  # samples, deliberately not a hop multiple
        rows = [
            ("novel_b", encode(rich(1234.0, seed=5), "pcm16"), sr, 3000, "pcm16", "t"),
            (
                "http://cdn/track2 re-upload.wav",
                encode(delayed_variant16(base["track_2"], d), "pcm16"),
                sr,
                3000,
                "pcm16",
                "t",
            ),
        ]
        _clips(spark, rows).coalesce(1).write.mode("append").parquet(inp)
        run_streaming_landmark_dedup(spark, inp, out, store_catalog=ns, store_name="lm_s")

        dup = [r for r in read_lm_dup_pairs(spark, out).collect() if r.confident]
        assert len(dup) == 1, dup
        r = dup[0]
        assert r.probe_id == "http://cdn/track2 re-upload.wav"
        assert r.match_id == "track_2"
        assert r.est_pos - 0.5 <= -d / LM_HOP <= r.est_pos + 1.5, r.est_pos
        ids = {
            x.clip_id for x in tl.read(spark, "lm_s").select("clip_id").distinct().collect()
        }
        assert ids == set(base) | {"novel_b"}

        # restart over the unchanged dir: checkpoint makes it a no-op
        run_streaming_landmark_dedup(spark, inp, out, store_catalog=ns, store_name="lm_s")
        assert len([r for r in read_lm_dup_pairs(spark, out).collect() if r.confident]) == 1
        assert tl.read(spark, "lm_s").select("clip_id").distinct().count() == 6
        _assert_swapped_in(out, "lm_dup_pairs", swapped)
