"""Ordered-funnel analysis — how many users complete step 1, then step 2
within a window of their step-1 time, then step 3 within a window of
step 2, and so on.

The published shape (ClickHouse `windowFunnel`, Amplitude/Mixpanel
funnels) with EARLIEST-chaining semantics: t1 = min ts of a step-1
event; t_k = min ts of a step-k event in [t_{k-1}, t_{k-1} + window].
Deterministic and SQL-expressible (the q94 oracle re-derives it with
chained filtered aggregates in DuckDB). Earliest-chaining is greedy,
not maximal — a user who COULD complete the funnel starting from a
later step-1 event but not from the earliest one counts as stalled;
that is the standard analytics-product semantics and is what the
oracle pins.

Spark shape: every step is a conditional `min(when(pred, ts))` window
over the SAME user partition, so Catalyst plans ONE shuffle (exchange
reuse across the chained window selects), then per-user rollup on the
already-partitioned key and a global stage count. No joins, no
cross-products; per-partition width is the per-user event count
(bounded in any real event table; a pathological single-user table
degrades to one partition, the same ceiling every per-entity funnel
has).

Reference ancestry: the reference has no funnel operator; this extends
the sessionize/attribution family (q16, q92) the same way rollup_manifest
extends plain aggregation. Public semantics: ClickHouse windowFunnel
docs; Srivastava et al., "Mining Sequential Patterns" (ordered-event
matching with time constraints).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def funnel_user_times(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    steps: list[tuple[str, Column]],
    window_sec: int,
) -> DataFrame:
    """Per-user earliest-chaining stage times: (user_col, _t0.._tk) —
    the core of funnel_stages. Chained conditional min-windows over ONE
    user partition."""
    w = Window.partitionBy(user_col)
    ts = F.col(ts_col).cast("timestamp")
    df = events
    prev = None
    for i, (_, pred) in enumerate(steps):
        if prev is None:
            cond = pred
        else:
            hi = F.col(prev) + F.expr(
                f"make_interval(0, 0, 0, 0, 0, 0, {int(window_sec)})"
            )
            cond = pred & (ts >= F.col(prev)) & (ts <= hi)
        df = df.withColumn(f"_t{i}", F.min(F.when(cond, ts)).over(w))
        prev = f"_t{i}"
    return df.groupBy(user_col).agg(
        *[F.first(f"_t{i}").alias(f"_t{i}") for i in range(len(steps))]
    )


def funnel_stages(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    steps: list[tuple[str, Column]],
    window_sec: int,
) -> DataFrame:
    """Count users reaching each funnel stage.

    steps: ordered [(stage_name, event predicate Column), ...]. Step 1
    matches anywhere; step k>1 must occur in [t_{k-1}, t_{k-1}+window_sec]
    (inclusive both ends). Returns (stage string, users bigint), one row
    per stage, in funnel order via a stage_idx column the caller may drop.
    """
    if not steps:
        raise ValueError("funnel needs at least one step")
    per_user = funnel_user_times(events, user_col, ts_col, steps, window_sec)
    counts = per_user.agg(
        *[
            F.count(F.col(f"_t{i}")).alias(f"_c{i}")
            for i in range(len(steps))
        ]
    )
    stages = F.array(
        *[
            F.struct(
                F.lit(i).alias("stage_idx"),
                F.lit(name).alias("stage"),
                F.col(f"_c{i}").alias("users"),
            )
            for i, (name, _) in enumerate(steps)
        ]
    )
    return (
        counts.select(F.explode(stages).alias("s"))
        .select("s.stage_idx", "s.stage", "s.users")
    )


def cohort_retention(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    offset_days: int = 7,
) -> DataFrame:
    """Cohort-retention matrix: users are cohorted by their first active
    DAY; retention at offset k = distinct users of that cohort active in
    day-window [k*offset_days, (k+1)*offset_days). Output: (cohort_day
    date, offset_k int, users bigint).

    All arithmetic is DATE/integer (datediff of dates, integer-exact in
    every engine) — no epoch doubles anywhere, so the q95 oracle is
    value-exact by construction.

    Shape: cohort day via min-window over the user partition (shuffle 1),
    then distinct (user, cohort, k) and the rollup share the second
    exchange. No joins. At 10^12 events the distinct is the wide stage;
    its key includes user_col, so it inherits the user-grain uniformity
    (no aggregate hot key can form: a user contributes ≤ span/offset_days
    distinct rows)."""
    d = F.col(ts_col).cast("timestamp").cast("date")
    df = (
        events.select(F.col(user_col).alias("_u"), d.alias("_d"))
        .withColumn("_c", F.min("_d").over(Window.partitionBy("_u")))
    )
    return (
        df.select(
            "_u",
            "_c",
            F.floor(F.datediff(F.col("_d"), F.col("_c")) / offset_days)
            .cast("int")
            .alias("_k"),
        )
        .distinct()
        .groupBy(F.col("_c").alias("cohort_day"), F.col("_k").alias("offset_k"))
        .agg(F.count(F.lit(1)).alias("users"))
    )


def event_paths(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    id_col: str,
    type_col: str,
    max_len: int = 8,
    k: int = 20,
) -> DataFrame:
    """User-journey path mining: each user's first `max_len` event types
    in (ts, id) order joined into a '>' path string, then the top-k most
    common paths (count desc, path asc — total order, deterministic
    cutoff).

    Shape: row_number inside the user partition (shuffle 1, width =
    per-user events), prefix filter, sort_array over (rn, type) structs
    so the path order is engine-side and deterministic (collect_list
    alone is arrival-ordered — wrong), path rollup (shuffle 2, but the
    key space is at most |types|^max_len and in practice tiny), then
    TakeOrderedAndProject."""
    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col(id_col).asc()
    )
    pref = (
        events.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_len)
    )
    paths = (
        pref.groupBy(user_col)
        .agg(
            F.concat_ws(
                ">",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("_rn", type_col))),
                    lambda s: s[type_col],
                ),
            ).alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )
    return paths.orderBy(F.col("n_users").desc(), F.col("path").asc()).limit(k)


def markov_transitions(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    id_col: str,
    type_col: str,
) -> DataFrame:
    """First-order Markov transition matrix over per-user event-type
    sequences: counts n(src→dst) via a lag window in (ts, id) order,
    row-marginal n(src), and p = n_ij / n_i as ONE IEEE division of
    exact BIGINTs (bit-identical across engines; see q97's trick).

    One user-keyed window shuffle + a tiny (src,dst) rollup; the
    marginal attaches by a broadcast-able |types|-row join."""
    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col(id_col).asc()
    )
    pairs = (
        events.withColumn("_src", F.lag(type_col).over(w))
        .filter(F.col("_src").isNotNull())
        .groupBy(F.col("_src").alias("src"), F.col(type_col).alias("dst"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    marg = pairs.groupBy("src").agg(F.sum("n").alias("n_src"))
    return (
        pairs.join(F.broadcast(marg), "src")
        .select(
            "src", "dst", "n", "n_src",
            (F.col("n").cast("double") / F.col("n_src").cast("double")).alias("prob"),
        )
    )
