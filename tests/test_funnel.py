"""Ordered funnel (operators/funnel.py, q94)."""

from datetime import datetime, timedelta

import pyspark.sql.functions as F
import pytest


def _ts(m):
    return datetime(2024, 1, 1) + timedelta(minutes=m)


def _steps():
    return [
        ("view", F.col("et") == "view"),
        ("click", F.col("et") == "click"),
        ("purchase", F.col("et") == "purchase"),
    ]


@pytest.fixture(scope="module")
def hand(spark):
    rows = [
        # u1: full funnel inside windows
        (1, _ts(0), "view"), (1, _ts(10), "click"), (1, _ts(20), "purchase"),
        # u2: click outside the 1h window
        (2, _ts(0), "view"), (2, _ts(120), "click"),
        # u3: click strictly BEFORE the first view never counts
        (3, _ts(0), "click"), (3, _ts(10), "view"),
        # u4: no view at all -> reaches nothing
        (4, _ts(0), "click"), (4, _ts(5), "purchase"),
        # u5: stages 1-2; purchase outside window of the click
        (5, _ts(0), "view"), (5, _ts(30), "click"), (5, _ts(30 + 120), "purchase"),
        # u6: greedy earliest-chaining pin — the click IS within 1h of the
        # SECOND view but not of the first; earliest semantics stall at view
        (6, _ts(0), "view"), (6, _ts(50), "view"), (6, _ts(90), "click"),
    ]
    return spark.createDataFrame(rows, "user_id bigint, ts timestamp, et string")


def test_funnel_hand_semantics(spark, hand):
    from datasmith_spark.operators.funnel import funnel_stages

    out = {
        r.stage: (r.stage_idx, r.users)
        for r in funnel_stages(hand, "user_id", "ts", _steps(), 3600).collect()
    }
    assert out == {"view": (0, 5), "click": (1, 2), "purchase": (2, 1)}


def test_funnel_boundary_inclusive(spark):
    """Step k at exactly t_{k-1} + window (and at exactly t_{k-1}) counts."""
    from datasmith_spark.operators.funnel import funnel_stages

    df = spark.createDataFrame(
        [
            (1, _ts(0), "view"), (1, _ts(60), "click"),   # == +window
            (2, _ts(0), "view"), (2, _ts(0), "click"),    # same instant
            (3, _ts(0), "view"), (3, _ts(61), "click"),   # one past
        ],
        "user_id bigint, ts timestamp, et string",
    )
    out = {
        r.stage: r.users
        for r in funnel_stages(df, "user_id", "ts", _steps()[:2], 3600).collect()
    }
    assert out == {"view": 3, "click": 2}


def test_funnel_plan_one_shuffle_no_joins(spark, hand):
    """All k stages must share ONE user-keyed exchange; no join nodes."""
    from datasmith_spark.operators.funnel import funnel_stages

    plan = (
        funnel_stages(hand, "user_id", "ts", _steps(), 3600)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in plan and "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    # one hash exchange for the user partition + the single-partition
    # global rollup; chained window selects must NOT add exchanges
    n_hash_exchanges = plan.count("Exchange hashpartitioning")
    assert n_hash_exchanges <= 1, plan


def test_registry_has_q94(spark):
    from datasmith_spark.queries import ORACLE_SQL, QUERIES

    assert "q94_funnel_stages" in QUERIES and "q94_funnel_stages" in ORACLE_SQL


def test_cohort_retention_hand(spark):
    """Cohorts by first active day; weekly offsets; distinct users per
    cell; a user active twice in one window counts once."""
    from datasmith_spark.operators.funnel import cohort_retention

    rows = [
        # u1: first day 1; active day 1 (k0), day 9 and day 10 (both k1)
        (1, _ts(0)), (1, _ts(8 * 1440)), (1, _ts(9 * 1440)),
        # u2: first day 1; only k0
        (2, _ts(10)),
        # u3: first day 3 (different cohort); k0 and k2 (day 18)
        (3, _ts(2 * 1440)), (3, _ts(17 * 1440)),
    ]
    df = spark.createDataFrame(rows, "user_id bigint, ts timestamp")
    got = sorted(
        (str(r.cohort_day), r.offset_k, r.users)
        for r in cohort_retention(df, "user_id", "ts", offset_days=7).collect()
    )
    assert got == [
        ("2024-01-01", 0, 2),
        ("2024-01-01", 1, 1),
        ("2024-01-03", 0, 1),
        ("2024-01-03", 2, 1),
    ]


def test_cohort_retention_plan_no_joins(spark):
    from datasmith_spark.operators.funnel import cohort_retention

    df = spark.createDataFrame([(1, _ts(0))], "user_id bigint, ts timestamp")
    plan = (
        cohort_retention(df, "user_id", "ts")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in plan and "CartesianProduct" not in plan, plan


def test_registry_has_q95(spark):
    from datasmith_spark.queries import ORACLE_SQL, QUERIES

    assert "q95_cohort_retention" in QUERIES and "q95_cohort_retention" in ORACLE_SQL


def test_event_paths_hand(spark):
    """Path order follows (ts, id) not arrival order; truncation at
    max_len; top-k tiebreak path-asc."""
    from datasmith_spark.operators.funnel import event_paths

    rows = [
        # u1 inserted out of ts order on purpose
        (1, _ts(20), 3, "purchase"),
        (1, _ts(0), 1, "view"),
        (1, _ts(10), 2, "click"),
        (2, _ts(0), 1, "view"), (2, _ts(5), 2, "click"), (2, _ts(9), 3, "purchase"),
        (3, _ts(0), 1, "view"), (3, _ts(1), 2, "error"),
        (4, _ts(0), 1, "view"), (4, _ts(1), 2, "error"),
        (5, _ts(0), 1, "signup"),
    ]
    df = spark.createDataFrame(rows, "user_id bigint, ts timestamp, event_id bigint, event_type string")
    got = [(r.path, r.n_users) for r in event_paths(
        df, "user_id", "ts", "event_id", "event_type", max_len=8, k=10
    ).collect()]
    # u1's rows arrive out of ts order but the path is ts-ordered, so u1
    # and u2 share a path; ties order path-asc
    assert got == [
        ("view>click>purchase", 2),
        ("view>error", 2),
        ("signup", 1),
    ]


def test_event_paths_truncates_at_max_len(spark):
    from datasmith_spark.operators.funnel import event_paths

    rows = [(1, _ts(i), i, "view") for i in range(5)]
    df = spark.createDataFrame(rows, "user_id bigint, ts timestamp, event_id bigint, event_type string")
    got = event_paths(df, "user_id", "ts", "event_id", "event_type", max_len=3, k=5).collect()
    assert [(r.path, r.n_users) for r in got] == [("view>view>view", 1)]


def test_markov_transitions_hand(spark):
    from datasmith_spark.operators.funnel import markov_transitions

    rows = [
        (1, _ts(0), 1, "a"), (1, _ts(1), 2, "b"), (1, _ts(2), 3, "a"),
        (2, _ts(0), 1, "a"), (2, _ts(1), 2, "b"), (2, _ts(2), 3, "b"),
    ]
    df = spark.createDataFrame(rows, "user_id bigint, ts timestamp, event_id bigint, event_type string")
    out = {(r.src, r.dst): (r.n, r.n_src, r.prob)
           for r in markov_transitions(df, "user_id", "ts", "event_id", "event_type").collect()}
    # transitions: u1 a>b b>a ; u2 a>b b>b
    assert out[("a", "b")] == (2, 2, 1.0)
    assert out[("b", "a")] == (1, 2, 0.5)
    assert out[("b", "b")] == (1, 2, 0.5)
    assert ("a", "a") not in out


def test_registry_has_q104_q105(spark):
    from datasmith_spark.queries import ORACLE_SQL, QUERIES

    for name in ("q104_event_paths", "q105_markov_transitions"):
        assert name in QUERIES and name in ORACLE_SQL


def test_funnel_user_times_per_user_stages(spark):
    """funnel_user_times per user: each reached stage at its earliest
    chaining instant; a click before any view never fills stage 1, but a
    later click inside the window does; a user without a view reaches
    nothing."""
    from datasmith_spark.operators.funnel import funnel_user_times

    rows = [
        (1, _ts(0), "view"), (1, _ts(30), "click"), (1, _ts(70), "purchase"),
        (2, _ts(0), "view"), (2, _ts(90), "click"),
        (3, _ts(0), "click"), (3, _ts(10), "view"), (3, _ts(20), "click"),
        (4, _ts(0), "purchase"),
    ]
    df = spark.createDataFrame(rows, "user_id bigint, ts timestamp, et string")
    got = {}
    for r in funnel_user_times(df, "user_id", "ts", _steps(), 3600).collect():
        reached = {i: r[f"_t{i}"] for i in range(3) if r[f"_t{i}"] is not None}
        if reached:
            got[r.user_id] = reached
    assert got == {
        1: {0: _ts(0), 1: _ts(30), 2: _ts(70)},
        2: {0: _ts(0)},
        3: {0: _ts(10), 1: _ts(20)},
    }
