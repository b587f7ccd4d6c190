"""Identity/property tests for the round-5 analytics additions
(q131-q150): invariants the DuckDB oracle cannot express (cross-row
consistency, planted-change detection, composition properties)."""

from __future__ import annotations

import pytest

from datasmith_spark.queries import ORACLE_SQL, QUERIES

SF = "/root/testdata/sf0.01"


def test_registry_round5_wave_complete():
    for i in range(131, 151):
        names = [n for n in QUERIES if n.startswith(f"q{i}_")]
        assert len(names) == 1, i
        assert names[0] in ORACLE_SQL, names[0]


def test_scd2_intervals_partition_each_user_timeline(spark):
    """Each user's SCD-2 rows chain exactly: valid_to == next valid_from,
    one open interval per user, event counts sum to the user's events."""
    rows = QUERIES["q132_scd2_intervals"](spark, SF).collect()
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    ev = spark.read.parquet(f"{SF}/events.parquet")
    n_by_user = {r.user_id: r.n for r in ev.groupBy("user_id").count().withColumnRenamed("count", "n").collect()}
    for u, ivs in by_user.items():
        ivs.sort(key=lambda r: r.valid_from_us)
        assert sum(1 for r in ivs if r.valid_to_us is None) == 1
        assert ivs[-1].valid_to_us is None
        for a, b in zip(ivs, ivs[1:]):
            assert a.valid_to_us == b.valid_from_us
            assert a.tier != b.tier  # compressed: adjacent runs differ
        assert sum(r.n_events for r in ivs) == n_by_user[u]


def test_activity_bitmap_consistent_with_distinct_days(spark):
    from pyspark.sql import functions as F

    got = {r.user_id: r for r in QUERIES["q131_activity_bitmap"](spark, SF).collect()}
    ev = spark.read.parquet(f"{SF}/events.parquet")
    want = {
        r.user_id: r.n
        for r in ev.select("user_id", F.dayofmonth(F.col("ts").cast("timestamp")).alias("d"))
        .distinct().groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    for u, r in got.items():
        assert r.n_active_days == want[u]
        assert bin(r.day_mask).count("1") == r.n_active_days
        # purchase mask is a submask of the activity mask
        assert r.purchase_mask & ~r.day_mask == 0


def test_watermark_coverage_monotone_and_anchored(spark):
    rows = {r.delay_us: r for r in QUERIES["q147_watermark_coverage"](spark, SF).collect()}
    assert sorted(rows) == [0, 1_000_000, 10_000_000, 60_000_000]
    cov = [rows[d].coverage for d in sorted(rows)]
    assert all(a <= b for a, b in zip(cov, cov[1:]))  # more delay, more admitted
    # delay-0 coverage equals 1 - late fraction from the q133 audit
    audit = QUERIES["q133_out_of_order_audit"](spark, SF).collect()
    n = sum(r.n_events for r in audit)
    late = sum(r.n_late for r in audit)
    assert rows[0].n_admitted == n - late and rows[0].n_total == n


def test_out_of_order_audit_measures_planted_lateness(spark, tmp_path):
    """q133 replays each user's events in event_id order: one event 2
    minutes behind the running max is the user's only late event, and a
    user whose timestamps rise with event_id has none."""
    from datetime import datetime, timedelta

    base = datetime(2024, 1, 1)
    rows = [
        (u, i, base + timedelta(minutes=4 if (u, i) == (1, 7) else i))
        for u in (1, 2) for i in range(12)
    ]
    events = spark.createDataFrame(rows, "user_id bigint, event_id bigint, ts timestamp")
    events.coalesce(1).write.parquet(str(tmp_path / "events.parquet"))
    got = {
        r.user_id: (r.n_events, r.n_late, r.max_late_us, r.sum_late_us, r.n_late_over_1m)
        for r in QUERIES["q133_out_of_order_audit"](spark, str(tmp_path)).collect()
    }
    assert got == {1: (12, 1, 120_000_000, 120_000_000, 1), 2: (12, 0, 0, 0, 0)}


def test_table_checksum_detects_single_row_change(spark):
    import pandas as pd

    from datasmith_spark.queries import register  # noqa: F401 (import check)

    base = pd.DataFrame(
        {"doc_id": range(100), "text": [f"doc {i}" for i in range(100)],
         "lang": ["en"] * 100}
    )
    changed = base.copy()
    changed.loc[57, "text"] = "doc 57 tampered"
    reordered = base.sample(frac=1.0, random_state=7)

    def chk(pdf, tag):
        import tempfile
        d = tempfile.mkdtemp(prefix=f"chk_{tag}_")
        spark.createDataFrame(pdf).write.mode("overwrite").parquet(f"{d}/documents.parquet")
        return QUERIES["q148_table_checksum"](spark, d).collect()[0]

    a, b, c = chk(base, "a"), chk(changed, "b"), chk(reordered, "c")
    assert (a.xor_digest, a.sum_digest) == (c.xor_digest, c.sum_digest)  # order-free
    assert (a.xor_digest, a.sum_digest) != (b.xor_digest, b.sum_digest)  # change seen


def test_negative_samples_are_never_positives(spark):
    from pyspark.sql import functions as F

    neg = QUERIES["q149_negative_sampling"](spark, SF)
    ev = spark.read.parquet(f"{SF}/events.parquet").filter(F.col("event_type") == "purchase")
    pos = ev.select(
        "user_id",
        F.floor(F.round(F.col("value") * 100) / 1000.0).cast("bigint").alias("neg_band"),
    ).distinct()
    assert neg.join(pos, ["user_id", "neg_band"], "inner").count() == 0
    assert neg.groupBy("user_id").count().filter("count > 1").count() == 0


def test_blocking_recall_bounds_and_truth_includes_planted(spark):
    r = QUERIES["q144_blocking_recall"](spark, SF).collect()[0]
    assert 0 < r.n_truth and 0 <= r.n_caught <= r.n_truth
    assert r.recall == r.n_caught / r.n_truth
    # planted exact dups (doc_id +100000) with doc_id % 10 == 0 must be truth pairs
    assert r.n_truth >= 10


def test_rolling_wau_bounds_dau(spark):
    rows = QUERIES["q146_rolling_wau"](spark, SF).collect()
    assert len(rows) == 30
    for r in rows:
        assert r.dau <= r.wau
        assert 0 < r.stickiness <= 1.0


def test_hll_estimate_within_3_sigma_of_exact(spark):
    for r in QUERIES["q137_hll_distinct"](spark, SF).collect():
        assert abs(r.hll_est - r.n_exact) / r.n_exact < 0.8  # 3 x 1.04/sqrt(16)


def test_grid_neighbor_join_matches_bounded_bruteforce(spark):
    from pyspark.sql import functions as F

    got = {
        (r.id_a, r.id_b): r.cheb
        for r in QUERIES["q138_grid_neighbor_join"](spark, SF).collect()
    }
    ev = spark.read.parquet(f"{SF}/events.parquet").filter(
        F.col("event_type") == "purchase"
    ).toPandas()
    import numpy as np

    x = (np.round(ev["value"].to_numpy() * 100).astype("int64")) % 1000
    y = (ev["event_id"].to_numpy() * 2654435761) % 1000
    ids = ev["event_id"].to_numpy()
    want = {}
    order = np.argsort(ids)
    for ii in order:
        for jj in order:
            if ids[ii] < ids[jj]:
                d = max(abs(int(x[ii]) - int(x[jj])), abs(int(y[ii]) - int(y[jj])))
                if d <= 8:
                    want[(int(ids[ii]), int(ids[jj]))] = d
    assert got == want


if __name__ == "__main__":
    import sys

    sys.exit(pytest.main([__file__, "-q"]))
