"""Pivot matrix (q100) and rolling z-score flags (q101)."""

from datetime import datetime, timedelta

import pyspark.sql.functions as F


def _ts(m):
    return datetime(2024, 1, 1) + timedelta(minutes=m)


def test_rolling_zscore_hand(spark):
    """Steady series never flags; a spike after warmup flags; fewer than
    min_n trailing rows never flags (the warmup rows themselves)."""
    from datasmith_spark.operators.detection import rolling_zscore_flags

    rows = [(1, i, _ts(i), 100) for i in range(8)]       # steady 100c
    rows.append((1, 8, _ts(8), 100_00))                  # spike
    rows.append((1, 9, _ts(9), 100))                     # back to normal
    rows += [(2, i, _ts(i), 100 + i) for i in range(4)]  # never reaches min_n
    df = spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, ts timestamp, cents bigint"
    )
    out = {
        (r.user_id, r.event_id): (r.n_prev, r.flagged)
        for r in rolling_zscore_flags(
            df, "user_id", "ts", "event_id", "cents", window=10, min_n=5, z=2
        ).collect()
    }
    assert out[(1, 8)] == (8, True)          # zero-variance history, huge dev
    for i in range(5):                        # warmup rows have n_prev < 5
        assert out[(1, i)][1] is False
    # the return-to-normal row: history now contains the spike, so the
    # variance blows up and 100 is NOT 2 sigmas away -> unflagged
    assert out[(1, 9)] == (9, False)
    assert all(not v[1] for k, v in out.items() if k[0] == 2)


def test_rolling_zscore_history_is_trailing_window(spark):
    """The history is the trailing `window` rows: a spike after 12 steady
    rows is tested against n_prev = 10, and it is the only flag, on a key
    whose steady values cycle and on one that never spikes."""
    from datasmith_spark.operators.detection import rolling_zscore_flags

    rows = [
        (u, i, _ts(i), 99_999 if (u, i) == (1, 12) else 100 + i % 3)
        for u in (1, 2) for i in range(18)
    ]
    df = spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, ts timestamp, cents bigint"
    )
    flagged = [
        (r.user_id, r.event_id, r.cents, r.n_prev)
        for r in rolling_zscore_flags(
            df, "user_id", "ts", "event_id", "cents", window=10, min_n=5, z=2
        ).collect()
        if r.flagged
    ]
    assert flagged == [(1, 12, 99_999, 10)]


def test_rolling_zscore_exact_boundary_unflagged(spark):
    """(n*x - S)^2 == 4*(n*SS - S^2) exactly -> strict > does not flag.
    History [90, 110] (n=2, S=200, SS=20200): boundary x solves
    (2x-200)^2 = 4*(2*20200-40000) = 1600 -> x = 120 or 80."""
    from datasmith_spark.operators.detection import rolling_zscore_flags

    rows = [(1, 0, _ts(0), 90), (1, 1, _ts(1), 110), (1, 2, _ts(2), 120)]
    df = spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, ts timestamp, cents bigint"
    )
    out = {
        r.event_id: r.flagged
        for r in rolling_zscore_flags(
            df, "user_id", "ts", "event_id", "cents", window=10, min_n=2, z=2
        ).collect()
    }
    assert out[2] is False


def test_pivot_matrix_missing_cells_are_zero(spark):
    from datasmith_spark.queries import QUERIES

    rows = QUERIES["q100_pivot_daily_matrix"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows, "pivot produced no rows"
    cols = set(rows[0].asDict())
    for t in ("click", "error", "purchase", "signup", "view"):
        assert {f"{t}_n", f"{t}_cents"} <= cols
    for r in rows:
        d = r.asDict()
        for t in ("click", "error", "purchase", "signup", "view"):
            assert d[f"{t}_n"] is not None and d[f"{t}_cents"] is not None
            # empty cell => count 0 AND cents 0 (coalesced, not null)
            if d[f"{t}_n"] == 0:
                assert d[f"{t}_cents"] == 0


def test_zscore_plan_single_window_shuffle(spark):
    from datasmith_spark.operators.detection import rolling_zscore_flags

    df = spark.createDataFrame(
        [(1, 0, _ts(0), 90)],
        "user_id bigint, event_id bigint, ts timestamp, cents bigint",
    )
    plan = rolling_zscore_flags(
        df, "user_id", "ts", "event_id", "cents"
    )._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and plan.count("Exchange hashpartitioning") <= 1, plan


def test_registry_has_q100_q101(spark):
    from datasmith_spark.queries import ORACLE_SQL, QUERIES

    for name in ("q100_pivot_daily_matrix", "q101_rolling_zscore_flags"):
        assert name in QUERIES and name in ORACLE_SQL


def test_skyline_hand(spark):
    """Frontier keeps staircase points, drops dominated interior, keeps
    duplicate frontier points (neither dominates the other)."""
    from datasmith_spark.operators.skyline import skyline2d

    pts = [
        (1, 10, 1), (2, 8, 5), (3, 8, 5),   # 2 and 3 are duplicates, both kept
        (4, 5, 9),
        (5, 8, 4),                           # same x as 2/3, lower y -> dominated
        (6, 7, 5),                           # dominated by (8,5)
        (7, 10, 0),                          # same max-x, lower y than 1 -> dominated
    ]
    df = spark.createDataFrame(pts, "id bigint, x bigint, y bigint")
    got = sorted(r.id for r in skyline2d(df, "x", "y").collect())
    assert got == [1, 2, 3, 4]


def test_skyline_bucketed_equals_plain(spark):
    """Phase-1 bucketing must never lose a frontier point."""
    from datasmith_spark.operators.skyline import skyline2d

    # deterministic pseudo-random lattice
    pts = [(i, (i * 37) % 101, (i * 61) % 97) for i in range(300)]
    df = spark.createDataFrame(pts, "id bigint, x bigint, y bigint")
    plain = sorted(r.id for r in skyline2d(df, "x", "y", id_col=None).collect())
    bucketed = sorted(
        r.id for r in skyline2d(df, "x", "y", id_col="id", n_buckets=16).collect()
    )
    assert bucketed == plain and plain


def test_skyline_negative_metric(spark):
    """Minimize-via-negation works (the -1 range trick holds for
    negative integers)."""
    from datasmith_spark.operators.skyline import skyline2d

    pts = [(1, 10, -2), (2, 9, -1), (3, 9, -5), (4, 11, -9)]
    df = spark.createDataFrame(pts, "id bigint, x bigint, y bigint")
    got = sorted(r.id for r in skyline2d(df, "x", "y", id_col="id").collect())
    assert got == [1, 2, 4]


def test_skyline_plan_no_joins(spark):
    from datasmith_spark.operators.skyline import skyline2d

    df = spark.createDataFrame([(1, 1, 1)], "id bigint, x bigint, y bigint")
    plan = skyline2d(df, "x", "y", id_col="id")._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "CartesianProduct" not in plan, plan


def test_registry_has_q102(spark):
    from datasmith_spark.queries import ORACLE_SQL, QUERIES

    assert "q102_pareto_skyline" in QUERIES and "q102_pareto_skyline" in ORACLE_SQL


def test_ols_trend_hand_exact_line(spark):
    """Perfect line y = 3x + 7 recovers slope 3, intercept 7 exactly;
    a constant-x group is dropped (no variance); n=1 dropped."""
    from datasmith_spark.operators.detection import group_ols_trend

    rows = (
        [(1, x, 3 * x + 7) for x in (0, 2, 5, 9)]
        + [(2, 4, 10), (2, 4, 20)]   # zero x-variance
        + [(3, 1, 5)]                # n=1
        + [(4, 0, 0), (4, 10, 5)]    # slope 1/2 exactly
    )
    df = spark.createDataFrame(rows, "k bigint, x bigint, y bigint")
    out = {r.k: r for r in group_ols_trend(df, "k", "x", "y").collect()}
    assert set(out) == {1, 4}
    assert out[1].slope == 3.0 and out[1].intercept == 7.0
    assert out[4].slope == 0.5 and out[4].intercept == 0.0
    # exact integer num/den are the value-checked artifact
    assert out[4].num / out[4].den == 0.5


def test_registry_has_q103(spark):
    from datasmith_spark.queries import ORACLE_SQL, QUERIES

    assert "q103_ols_spend_trend" in QUERIES and "q103_ols_spend_trend" in ORACLE_SQL


def test_trimmed_mean_hand(spark):
    """Outliers at both ends drop; small groups (cut=0) keep everything;
    duplicate values are deterministic via the id tiebreak."""
    from datasmith_spark.operators.detection import group_trimmed_mean

    rows = [(1, i, v) for i, v in enumerate([3, 1, 2, 9, 8, 7, 4, 5, 6, 1000])]
    rows += [(2, i, v) for i, v in enumerate([10, 20, 30, 40])]  # n=4 -> cut 0
    df = spark.createDataFrame(rows, "k bigint, event_id bigint, v bigint")
    out = {r.k: (r.n, r.kept_n, r.kept_sum, r.tmean)
           for r in group_trimmed_mean(df, "k", "v", "event_id", trim_pct=10).collect()}
    # group 1: sorted [1..9,1000], cut=1 -> keep 2..9: sum 44, mean 5.5
    assert out[1] == (10, 8, 44, 5.5)
    assert out[2] == (4, 4, 100, 25.0)


def test_registry_has_q106(spark):
    from datasmith_spark.queries import ORACLE_SQL, QUERIES

    assert "q106_trimmed_mean_spend" in QUERIES and "q106_trimmed_mean_spend" in ORACLE_SQL


def test_cube_gid_and_totals(spark):
    from datasmith_spark.queries import QUERIES

    rows = QUERIES["q107_cube_doc_stats"](spark, "/root/testdata/sf0.001").collect()
    by_gid = {}
    for r in rows:
        by_gid.setdefault(r.gid, []).append(r)
    # gid 0: full cells; 1: per-lang (source aggregated); 2: per-source; 3: total
    assert set(by_gid) == {0, 1, 2, 3}
    total = by_gid[3][0]
    assert total.lang is None and total.source is None
    for gid in (0, 1, 2):
        assert sum(r.n_docs for r in by_gid[gid]) == total.n_docs
        assert sum(r.sum_chars for r in by_gid[gid]) == total.sum_chars
    assert all(r.lang is not None and r.source is None for r in by_gid[1])
    assert all(r.lang is None and r.source is not None for r in by_gid[2])


def test_cube_plan_single_expand_single_exchange(spark):
    from datasmith_spark.queries import QUERIES

    plan = (
        QUERIES["q107_cube_doc_stats"](spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Expand") >= 1 and "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_registry_has_q107(spark):
    from datasmith_spark.queries import ORACLE_SQL, QUERIES

    assert "q107_cube_doc_stats" in QUERIES and "q107_cube_doc_stats" in ORACLE_SQL


def test_small_order_parts_hand(spark, tmp_path):
    """Decorrelated window test == the literal per-part average rule."""
    import pyspark.sql.functions as F  # noqa: F811
    from datasmith_spark.queries import QUERIES

    rows = [
        # part 1: qties 1, 10, 10, 10 -> avg 7.75; 0.2*avg = 1.55 -> only qty 1 small
        (1, 1.0, 10.00), (1, 10.0, 20.00), (1, 10.0, 30.00), (1, 10.0, 40.00),
        # part 2: all equal -> nothing strictly below 0.2*avg
        (2, 5.0, 10.00), (2, 5.0, 10.00),
    ]
    df = spark.createDataFrame(rows, "l_partkey bigint, l_quantity double, l_extendedprice double")
    p = str(tmp_path / "lineitem.parquet")
    df.coalesce(1).write.mode("overwrite").parquet(p)
    out = {r.l_partkey: (r.n_small, r.small_cents)
           for r in QUERIES["q108_small_order_parts"](spark, str(tmp_path)).collect()}
    assert out == {1: (1, 1000)}


def test_small_order_parts_plan_no_joins(spark):
    from datasmith_spark.queries import QUERIES

    plan = (
        QUERIES["q108_small_order_parts"](spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_registry_has_q108(spark):
    from datasmith_spark.queries import ORACLE_SQL, QUERIES

    assert "q108_small_order_parts" in QUERIES and "q108_small_order_parts" in ORACLE_SQL


def test_profile_table_hand(spark):
    from datasmith_spark.operators.profile import profile_table

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (2, "b"), (None, "b")],
        "x bigint, s string",
    )
    out = {r.column: (r.n, r.n_null, r.n_distinct)
           for r in profile_table(df).collect()}
    assert out == {"x": (4, 1, 2), "s": (4, 1, 2)}


def test_zorder_key_hand_values(spark):
    """Known Morton codes: (3,1)->7, (0,0)->0, (65535,0)->0x55555555,
    (0,65535)->0xAAAAAAAA; inputs mask to 16 bits."""
    from datasmith_spark.operators.layout import zorder_key

    df = spark.createDataFrame(
        [(3, 1), (0, 0), (65535, 0), (0, 65535), (65536 + 3, 1)],
        "x bigint, y bigint",
    )
    got = [r.z for r in df.select(
        zorder_key(F.col("x"), F.col("y")).alias("z")).collect()]
    assert got == [7, 0, 0x55555555, 0xAAAAAAAA, 7]


def test_zorder_layout_files_cover_compact_ranges(spark):
    """After zorder_layout, zkey ranges of the output partitions do not
    overlap (range partition + in-partition sort)."""
    from datasmith_spark.operators.layout import zorder_layout

    e = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "event_id",
        F.col("user_id").cast("bigint").alias("x"),
        F.datediff(
            F.col("ts").cast("timestamp").cast("date"),
            F.lit("2024-01-01").cast("date"),
        ).cast("bigint").alias("y"),
    )
    out = zorder_layout(e, "x", "y", n_files=8)
    parts = out.select("zkey").rdd.glom().map(
        lambda rows: (rows[0].zkey, rows[-1].zkey, all(
            rows[i].zkey <= rows[i + 1].zkey for i in range(len(rows) - 1)
        )) if rows else None
    ).collect()
    parts = [p for p in parts if p]
    assert all(sorted_ok for _, _, sorted_ok in parts)
    spans = sorted((lo, hi) for lo, hi, _ in parts)
    assert all(spans[i][1] <= spans[i + 1][0] for i in range(len(spans) - 1))


def test_registry_has_q109_q110(spark):
    from datasmith_spark.queries import ORACLE_SQL, QUERIES

    for name in ("q109_profile_events", "q110_zorder_keys"):
        assert name in QUERIES and name in ORACLE_SQL


def test_weighted_median_hand(spark):
    """Lower weighted median: first value whose running weight reaches
    half the total; ties deterministic via id order."""
    from datasmith_spark.operators.detection import group_weighted_median

    rows = [
        # group 1: values 1(w1), 2(w1), 3(w10) -> total 12, crossing at 3
        (1, 1, 1, 1), (1, 2, 1, 2), (1, 3, 10, 3),
        # group 2: values 5(w2), 7(w2) -> total 4, 2*2 >= 4 -> median 5
        (2, 5, 2, 1), (2, 7, 2, 2),
        # group 3: single row
        (3, 42, 9, 1),
    ]
    df = spark.createDataFrame(rows, "k bigint, v bigint, w bigint, rid bigint")
    out = {r.k: (r.wmedian, r.w_total)
           for r in group_weighted_median(df, "k", "v", "w", "rid").collect()}
    assert out == {1: (3, 12), 2: (5, 4), 3: (42, 9)}


def test_rfm_quartiles_balanced(spark):
    from datasmith_spark.queries import QUERIES

    rows = QUERIES["q112_rfm_segments"](spark, "/root/testdata/sf0.001").collect()
    n = len(rows)
    assert n > 0
    for qcol in ("r_q", "f_q", "m_q"):
        vals = [r[qcol] for r in rows]
        assert set(vals) <= {1, 2, 3, 4}
        # exact-rank quartiles are balanced within 1
        from collections import Counter
        c = Counter(vals)
        assert max(c.values()) - min(c.values()) <= 1, (qcol, c)
    segs = {r.segment for r in rows}
    assert all(111 <= s <= 444 for s in segs)


def test_registry_has_q111_q112(spark):
    from datasmith_spark.queries import ORACLE_SQL, QUERIES

    for name in ("q111_weighted_median_price", "q112_rfm_segments"):
        assert name in QUERIES and name in ORACLE_SQL


def test_q113_semi_join_plan_and_once_semantics(spark):
    from datasmith_spark.queries import QUERIES

    df = QUERIES["q113_priority_late_orders"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan, plan
    # each order counted at most once: totals never exceed order counts
    import pyspark.sql.functions as F  # noqa: F811
    o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    per_prio = {r.o_orderpriority: r.n
                for r in o.groupBy("o_orderpriority").agg(F.count("*").alias("n")).collect()}
    for r in df.collect():
        assert r.n_orders <= per_prio[r.o_orderpriority]


def test_q114_star_join_broadcasts_dims(spark):
    from datasmith_spark.queries import QUERIES

    df = QUERIES["q114_returned_revenue_star"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 2, plan        # customer + nation
    assert "TakeOrderedAndProject" in plan, plan
    assert "PushedFilters" in plan or "Filter" in plan       # returnflag pushed
    rows = df.collect()
    assert 0 < len(rows) <= 20
    assert all(rows[i].revenue_bp >= rows[i + 1].revenue_bp for i in range(len(rows) - 1))


def test_registry_has_q113_q114(spark):
    from datasmith_spark.queries import ORACLE_SQL, QUERIES

    for name in ("q113_priority_late_orders", "q114_returned_revenue_star"):
        assert name in QUERIES and name in ORACLE_SQL


def test_referential_audit_detects_planted_orphans(spark, tmp_path):
    """Plant an orphan and a null FK in a miniature warehouse and check
    the audit counts them (and only them)."""
    from datasmith_spark.queries import QUERIES

    sf = tmp_path
    spark.createDataFrame([(1, "r")], "r_regionkey bigint, r_name string") \
        .write.parquet(str(sf / "region.parquet"))
    spark.createDataFrame(
        [(1, 1), (2, 99), (3, None)],  # 99 -> orphan, None -> null FK
        "n_nationkey bigint, n_regionkey bigint",
    ).write.parquet(str(sf / "nation.parquet"))
    spark.createDataFrame([(1, 1)], "c_custkey bigint, c_nationkey bigint") \
        .write.parquet(str(sf / "customer.parquet"))
    spark.createDataFrame([(1, 1)], "o_orderkey bigint, o_custkey bigint") \
        .write.parquet(str(sf / "orders.parquet"))
    spark.createDataFrame([(1,)], "p_partkey bigint").write.parquet(str(sf / "part.parquet"))
    spark.createDataFrame([(1,)], "s_suppkey bigint").write.parquet(str(sf / "supplier.parquet"))
    spark.createDataFrame(
        [(1, 1, 1)], "l_orderkey bigint, l_partkey bigint, l_suppkey bigint"
    ).write.parquet(str(sf / "lineitem.parquet"))

    out = {r.edge: (r.n_child, r.n_null_fk, r.n_orphan)
           for r in QUERIES["q115_referential_audit"](spark, str(sf)).collect()}
    assert out["nation.n_regionkey"] == (3, 1, 1)
    for edge, v in out.items():
        if edge != "nation.n_regionkey":
            assert v[1] == 0 and v[2] == 0, (edge, v)


def test_registry_has_q115(spark):
    from datasmith_spark.queries import ORACLE_SQL, QUERIES

    assert "q115_referential_audit" in QUERIES and "q115_referential_audit" in ORACLE_SQL


def test_basket_pairs_hand(spark, tmp_path):
    """Each unordered pair counted once per basket regardless of event
    multiplicity; support = pair baskets / all baskets."""
    from datetime import datetime, timedelta

    from datasmith_spark.queries import QUERIES

    base = datetime(2024, 1, 1)
    rows = [
        # basket (u1, day1): a a b  -> pair (a,b) once despite dup a
        (1, 1, base, "a"), (1, 2, base + timedelta(minutes=1), "a"),
        (1, 3, base + timedelta(minutes=2), "b"),
        # basket (u1, day2): a only -> no pair
        (1, 4, base + timedelta(days=1), "a"),
        # basket (u2, day1): a b c -> 3 pairs
        (2, 5, base, "c"), (2, 6, base, "a"), (2, 7, base, "b"),
    ]
    spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, ts timestamp, event_type string"
    ).write.parquet(str(tmp_path / "events.parquet"))
    out = {(r.item_a, r.item_b): (r.n, r.n_baskets, r.support)
           for r in QUERIES["q116_basket_pairs"](spark, str(tmp_path)).collect()}
    assert out[("a", "b")] == (2, 3, 2 / 3)
    assert out[("a", "c")] == (1, 3, 1 / 3)
    assert out[("b", "c")] == (1, 3, 1 / 3)
    assert len(out) == 3
    # pairs are ordered item_a < item_b (each counted once)
    assert all(a < b for a, b in out)


def test_registry_has_q116(spark):
    from datasmith_spark.queries import ORACLE_SQL, QUERIES

    assert "q116_basket_pairs" in QUERIES and "q116_basket_pairs" in ORACLE_SQL


def test_source_novelty_hand(spark, tmp_path):
    """First claim on a duplicate fingerprint goes to the min doc_id's
    source; whitespace/case variants share a fingerprint."""
    from datasmith_spark.queries import QUERIES

    rows = [
        (1, "srcA", "Hello  World"),
        (2, "srcB", "hello world"),      # dup of doc 1 -> srcA claims it
        (3, "srcB", "fresh content"),
        (4, "srcB", "fresh   CONTENT"),  # dup of doc 3 -> srcB claims it
    ]
    spark.createDataFrame(rows, "doc_id bigint, source string, text string") \
        .write.parquet(str(tmp_path / "documents.parquet"))
    out = {r.source: (r.n_docs, r.n_first, r.novelty_rate)
           for r in QUERIES["q117_source_novelty"](spark, str(tmp_path)).collect()}
    assert out["srcA"] == (1, 1, 1.0)
    assert out["srcB"] == (3, 1, 1 / 3)


def test_registry_has_q117(spark):
    from datasmith_spark.queries import ORACLE_SQL, QUERIES

    assert "q117_source_novelty" in QUERIES and "q117_source_novelty" in ORACLE_SQL


def test_mad_outliers_hand(spark, tmp_path):
    """MAD is robust where the z-score window is masked: a single huge
    value flags against the unmoved median; zero-MAD groups flag any
    deviation; lower-median convention on even counts."""
    from datetime import datetime

    from datasmith_spark.queries import QUERIES

    rows = [
        # u1: [100]*6 + [99999]: med=100, devs [0..0, 99899], MAD=0
        *[(1, i, datetime(2024, 1, 1), "purchase", (100 + 0) / 100) for i in range(6)],
        (1, 6, datetime(2024, 1, 1), "purchase", 99999 / 100),
        # u2: [10, 20, 30, 40]: lower med=20; devs [10,0,10,20] -> MAD=10
        *[(2, i, datetime(2024, 1, 1), "purchase", v / 100)
          for i, v in enumerate((10, 20, 30, 40))],
    ]
    spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, ts timestamp, event_type string, value double"
    ).write.parquet(str(tmp_path / "events.parquet"))
    out = {(r.user_id, r.event_id): (r.med, r.mad, r.outlier)
           for r in QUERIES["q121_mad_outliers"](spark, str(tmp_path)).collect()}
    assert out[(1, 6)] == (100, 0, True)
    assert all(v == (100, 0, False) for k, v in out.items()
               if k[0] == 1 and k[1] != 6)
    # u2: dev > 30 flags nothing (max dev 20)
    assert {v for k, v in out.items() if k[0] == 2} == {
        (20, 10, False)}


def test_registry_has_q121(spark):
    from datasmith_spark.queries import ORACLE_SQL, QUERIES

    assert "q121_mad_outliers" in QUERIES and "q121_mad_outliers" in ORACLE_SQL


def test_percent_rank_hand(spark, tmp_path):
    from datasmith_spark.queries import QUERIES

    rows = [(1, "en", 10), (2, "en", 20), (3, "en", 30), (4, "de", 5)]
    spark.createDataFrame(rows, "doc_id bigint, lang string, n_chars bigint") \
        .write.parquet(str(tmp_path / "documents.parquet"))
    out = {r.doc_id: r.pr
           for r in QUERIES["q122_percent_rank_scaling"](spark, str(tmp_path)).collect()}
    assert out == {1: 0.0, 2: 0.5, 3: 1.0, 4: 0.0}


def test_distribution_drift_hand(spark, tmp_path):
    """A source matching the global mix scores 0; a pure-lang source
    scores the exact L1 to the mix, missing cells included."""
    from datasmith_spark.queries import QUERIES

    rows = (
        [(i, "en", "balanced") for i in range(2)]
        + [(10 + i, "de", "balanced") for i in range(2)]
        + [(20 + i, "en", "pure_en") for i in range(4)]
    )
    spark.createDataFrame(rows, "doc_id bigint, lang string, source string") \
        .write.parquet(str(tmp_path / "documents.parquet"))
    out = {r.source: (r.l1_num, r.l1_den, r.l1)
           for r in QUERIES["q123_source_distribution_drift"](spark, str(tmp_path)).collect()}
    # global: en 6/8, de 2/8. balanced: en 1/2, de 1/2 ->
    # L1 = |1/2-6/8| + |1/2-2/8| = 1/2; num = |2*8-6*4| + |2*8-2*4| = 16, den 32
    assert out["balanced"] == (16, 32, 0.5)
    # pure_en: en 1, de 0 -> L1 = 1/4 + 1/4 = 1/2; num = |4*8-6*4|+|0-2*4| = 16, den 32
    assert out["pure_en"] == (16, 32, 0.5)


def test_registry_has_q122_q123(spark):
    from datasmith_spark.queries import ORACLE_SQL, QUERIES

    for name in ("q122_percent_rank_scaling", "q123_source_distribution_drift"):
        assert name in QUERIES and name in ORACLE_SQL


def test_interval_coverage_hand(spark, tmp_path):
    """Overlapping intervals merge, nested intervals do not split an
    island (running-max, not lag), disjoint ones add islands; coverage
    is exact microseconds."""
    from datetime import datetime, timedelta

    from datasmith_spark.queries import QUERIES

    base = datetime(2024, 1, 1)
    rows = [
        # u1: [0,10] + [5,8] nested + [7,15] overlap -> one island [0,15]
        #     then [30,31] -> second island; value is ceil'd minutes
        (1, 1, base, "view", 10.0),
        (1, 2, base + timedelta(minutes=5), "view", 3.0),
        (1, 3, base + timedelta(minutes=7), "view", 8.0),
        (1, 4, base + timedelta(minutes=30), "view", 1.0),
        # u2: single interval
        (2, 5, base, "view", 2.0),
    ]
    spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, ts timestamp, event_type string, value double"
    ).write.parquet(str(tmp_path / "events.parquet"))
    out = {r.user_id: (r.n_islands, r.covered_us)
           for r in QUERIES["q124_interval_coverage"](spark, str(tmp_path)).collect()}
    assert out[1] == (2, (15 + 1) * 60 * 1_000_000)
    assert out[2] == (1, 2 * 60 * 1_000_000)


def test_k_anonymity_hand(spark, tmp_path):
    from datasmith_spark.queries import QUERIES

    rows = [(i, "en", "s0", 150) for i in range(6)] + [(10, "de", "s0", 950)]
    spark.createDataFrame(rows, "doc_id bigint, lang string, source string, n_chars bigint") \
        .write.parquet(str(tmp_path / "documents.parquet"))
    out = {(r.lang, r.source, r.len_bucket): (r.class_size, r.at_risk)
           for r in QUERIES["q125_k_anonymity_audit"](spark, str(tmp_path)).collect()}
    assert out[("en", "s0", 1)] == (6, False)
    assert out[("de", "s0", 9)] == (1, True)


def test_registry_has_q124_q125(spark):
    from datasmith_spark.queries import ORACLE_SQL, QUERIES

    for name in ("q124_interval_coverage", "q125_k_anonymity_audit"):
        assert name in QUERIES and name in ORACLE_SQL


def test_gini_hand(spark, tmp_path):
    """Equal masses -> 0; extreme concentration -> (n-1)/n; a known
    mid case computes exactly."""
    from datasmith_spark.queries import QUERIES

    rows = (
        [(i, "eq", 50) for i in range(4)]            # all equal -> 0
        + [(10, "conc", 0), (11, "conc", 0), (12, "conc", 0), (13, "conc", 100)]
        + [(20, "mid", 10), (21, "mid", 30)]          # G = 1/4 exactly
    )
    spark.createDataFrame(rows, "doc_id bigint, lang string, n_chars bigint") \
        .write.parquet(str(tmp_path / "documents.parquet"))
    out = {r.lang: (r.n, r.gini_num, r.gini_den, r.gini)
           for r in QUERIES["q126_gini_concentration"](spark, str(tmp_path)).collect()}
    assert out["eq"][3] == 0.0
    # all mass on the last of 4 -> G = (2*4*100 - 5*100) / (4*100) = 3/4
    assert out["conc"] == (4, 300, 400, 0.75)
    # [10, 30]: (2*(1*10+2*30) - 3*40) / (2*40) = 20/80 = 1/4
    assert out["mid"] == (2, 20, 80, 0.25)


def test_registry_has_q126(spark):
    from datasmith_spark.queries import ORACLE_SQL, QUERIES

    assert "q126_gini_concentration" in QUERIES and "q126_gini_concentration" in ORACLE_SQL


def test_group_auc_hand(spark):
    """Perfect separation -> 1.0; anti-separation -> 0.0; all-tied
    scores -> 0.5; single-class groups dropped."""
    from datasmith_spark.operators.detection import group_auc

    rows = (
        [("perf", s, s >= 3) for s in (1, 2, 3, 4)]
        + [("anti", s, s < 3) for s in (1, 2, 3, 4)]
        + [("tied", 7, lab) for lab in (True, False, True, False)]
        + [("onecls", s, True) for s in (1, 2)]
    )
    df = spark.createDataFrame(rows, "g string, score bigint, label boolean")
    out = {r.g: (r.n_pos, r.n_neg, r.auc_num, r.auc_den, r.auc)
           for r in group_auc(df, "g", "score", "label").collect()}
    assert out["perf"] == (2, 2, 8, 8, 1.0)
    assert out["anti"] == (2, 2, 0, 8, 0.0)
    assert out["tied"][4] == 0.5
    assert "onecls" not in out


def test_group_auc_midrank_ties(spark):
    """Known midrank case: scores [1,2,2,3], labels [F,T,F,T] ->
    midranks [1,2.5,2.5,4]; U = (2.5+4) - 3 = 3.5 -> AUC = 3.5/4."""
    from datasmith_spark.operators.detection import group_auc

    rows = [("g", 1, False), ("g", 2, True), ("g", 2, False), ("g", 3, True)]
    df = spark.createDataFrame(rows, "g string, score bigint, label boolean")
    r = group_auc(df, "g", "score", "label").collect()[0]
    assert (r.auc_num, r.auc_den, r.auc) == (7, 8, 0.875)


def test_registry_has_q127(spark):
    from datasmith_spark.queries import ORACLE_SQL, QUERIES

    assert "q127_quality_gate_auc" in QUERIES and "q127_quality_gate_auc" in ORACLE_SQL


def test_proxy_f1_confusion_consistency(spark):
    from datasmith_spark.queries import QUERIES

    rows = QUERIES["q128_proxy_filter_f1"](spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert r.tp + r.fp + r.fn + r.tn > 0
        if 2 * r.tp + r.fp + r.fn > 0:
            assert abs(r.f1 - 2 * r.tp / (2 * r.tp + r.fp + r.fn)) == 0.0
        assert 0.0 <= r.f1 <= 1.0


def test_registry_has_q128(spark):
    from datasmith_spark.queries import ORACLE_SQL, QUERIES

    assert "q128_proxy_filter_f1" in QUERIES and "q128_proxy_filter_f1" in ORACLE_SQL


def test_kappa_hand_values(spark):
    """Perfect agreement -> 1; independence-shaped table -> 0; known
    mid case exact."""
    from datasmith_spark.queries import QUERIES, ORACLE_SQL
    import duckdb

    # verify the kappa algebra directly: (n*agree - pe)/(n^2 - pe)
    n, tp, fp, fn, tn = 10, 4, 1, 2, 3
    pe = (tp + fp) * (tp + fn) + (fn + tn) * (fp + tn)
    kappa = (n * (tp + tn) - pe) / (n * n - pe)
    assert abs(kappa - ((0.7 - pe / 100) / (1 - pe / 100))) < 1e-12


def test_time_weighted_value_hand(spark, tmp_path):
    """Value holds until the next purchase; TWA weights by segment
    length, not by count."""
    from datetime import datetime, timedelta

    from datasmith_spark.queries import QUERIES

    base = datetime(2024, 1, 1)
    rows = [
        # u1: 100c for 9 min, then 1000c for 1 min -> TWA = (100*9+1000*1)/10
        (1, 1, base, "purchase", 1.00),
        (1, 2, base + timedelta(minutes=9), "purchase", 10.00),
        (1, 3, base + timedelta(minutes=10), "purchase", 55.0),  # no segment after
        # u2: single purchase -> dropped
        (2, 4, base, "purchase", 5.0),
    ]
    spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, ts timestamp, event_type string, value double"
    ).write.parquet(str(tmp_path / "events.parquet"))
    out = {r.user_id: (r.twa_num, r.twa_den, r.twa_cents)
           for r in QUERIES["q130_time_weighted_value"](spark, str(tmp_path)).collect()}
    m = 60 * 1_000_000
    assert out[1] == (100 * 9 * m + 1000 * 1 * m, 10 * m, 190.0)
    assert 2 not in out


def test_registry_has_q129_q130(spark):
    from datasmith_spark.queries import ORACLE_SQL, QUERIES

    for name in ("q129_filter_agreement_kappa", "q130_time_weighted_value"):
        assert name in QUERIES and name in ORACLE_SQL
