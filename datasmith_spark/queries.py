"""Operator-coverage queries: SURVEY.md §2 inventory over /root/testdata.

Each entry is a (spark, sf_dir) -> DataFrame callable plus (where SQL-
expressible) a DuckDB oracle SQL string over the same parquet tables. Column
names/aliases match pairwise; float outputs are rounded engine-side in BOTH
implementations so value hashes are robust to summation-order differences.

Conventions:
  * every callable pins spark.sql.session.timeZone=UTC (the driver owns the
    session; date/time semantics must not depend on its defaults)
  * no bare limit() without a total order: top-k always breaks ties on a key
  * joins annotate the intended physical strategy (broadcast hints where the
    small side is bounded)
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# the directory holding the datasmith_spark package (the checkout root):
# committed fixtures under fixtures/, generated caches under .data/
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}


def register(name: str, sql: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLE_SQL[name] = sql
        return fn
    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# =====================================================================
# Relational core (SURVEY.md §2.1-2.8)
# =====================================================================

@register(
    "q01_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                   AS sum_qty,
           round(sum(l_extendedprice), 2)                              AS sum_base,
           round(sum(l_extendedprice * (1 - l_discount)), 2)           AS sum_disc,
           round(avg(l_quantity), 6)                                   AS avg_qty,
           count(*)                                                    AS n
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1997-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark, sf_dir):
    """S1 scan + P5 filter + A4 aggregation (TPC-H Q1 shape).

    Ancestry: vectorized column masks + reductions
    (/root/reference/src/datasmith/scrape/filter_dashboards.py:113-119).
    Scale: filter + partial/final hash agg; predicate pushed to parquet.
    """
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1997-09-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.count("*").alias("n"),
        )
    )


@register(
    "q02_topk_customers",
    """
    SELECT o_custkey, round(sum(o_totalprice), 2) AS total_price, count(*) AS n_orders
    FROM orders GROUP BY o_custkey
    ORDER BY total_price DESC, o_custkey ASC LIMIT 10
    """,
)
def q02_topk_customers(spark, sf_dir):
    """W3 top-k by ranking (sort_values().head(k),
    /root/reference/scripts/filter_commits.py:89). Spark plans orderBy+limit
    as TakeOrderedAndProject — no global sort materialization."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("total_price"), F.count("*").alias("n_orders"))
        .orderBy(F.desc("total_price"), F.asc("o_custkey"))
        .limit(10)
    )


@register(
    "q03_right_join",
    """
    WITH top_cust AS (
      SELECT c_custkey, c_acctbal FROM customer
      ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 20
    )
    SELECT c.c_custkey,
           count(o.o_orderkey)                        AS n_orders,
           round(coalesce(sum(o.o_totalprice), 0), 2) AS revenue
    FROM orders o RIGHT JOIN top_cust c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey
    """,
)
def q03_right_join(spark, sf_dir):
    """J1 right outer equi-join preserving the small side
    (commits.merge(benchmarks, how='right'),
    /root/reference/scripts/filter_commits.py:107). Small side broadcast."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    top = c.orderBy(F.desc("c_acctbal"), F.asc("c_custkey")).limit(20).select("c_custkey")
    return (
        o.join(F.broadcast(top), o.o_custkey == top.c_custkey, "right")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("revenue"),
        )
    )


@register(
    "q04_broadcast_map_join",
    """
    SELECT r.r_name AS region_name, count(*) AS n_nations
    FROM nation n INNER JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def q04_broadcast_map_join(spark, sf_dir):
    """J3/J4 map-side dict-lookup join (revision->hash maps,
    /root/reference/src/datasmith/scrape/scrape_dashboards.py:90-93) as a
    broadcast hash join."""
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey, "inner")
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(F.count("*").alias("n_nations"))
    )


@register(
    "q05_struct_flatten",
    """
    SELECT lower(trim(c_mktsegment)) AS segment,
           CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_bucket,
           count(*) AS n
    FROM customer GROUP BY 1, 2
    """,
)
def q05_struct_flatten(spark, sf_dir):
    """P4/J5: derive a struct column, flatten with select("s.*") — the Spark
    replacement for pd.json_normalize + positional concat
    (/root/reference/scripts/filter_commits.py:119-120)."""
    c = _t(spark, sf_dir, "customer")
    s = F.struct(
        F.lower(F.trim(F.col("c_mktsegment"))).alias("segment"),
        F.floor(F.col("c_acctbal") / 1000.0).cast("bigint").alias("bal_bucket"),
    )
    return c.withColumn("s", s).select("s.*").groupBy("segment", "bal_bucket").agg(F.count("*").alias("n"))


@register(
    "q06_null_hostile_filter",
    """
    SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
    FROM events
    WHERE coalesce(value, -1.0) >= 10.0 AND event_type IS NOT NULL AND props IS NOT NULL
    GROUP BY event_type
    """,
)
def q06_null_hostile_filter(spark, sf_dir):
    """P5 boolean-mask filter with null-hostile defaults
    (/root/reference/src/datasmith/scrape/filter_dashboards.py:113-121)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.filter(
            (F.coalesce(F.col("value"), F.lit(-1.0)) >= 10.0)
            & F.col("event_type").isNotNull()
            & F.col("props").isNotNull()
        )
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    )


@register(
    "q07_regex_any_word",
    r"""
    SELECT lang, count(*) AS n_match
    FROM documents
    WHERE len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                          w -> regexp_matches(w, '^(join|query|window)$'))) > 0
    GROUP BY lang
    """,
)
def q07_regex_any_word(spark, sf_dir):
    """P7 regex any-path-matches predicate over a token list
    (/root/reference/scripts/filter_commits.py:46-81 applied at :122)."""
    d = _t(spark, sf_dir, "documents")
    words = F.split(F.trim(F.col("text")), r"\s+")
    return (
        d.filter(F.exists(words, lambda w: w.rlike("^(join|query|window)$")))
        .groupBy("lang")
        .agg(F.count("*").alias("n_match"))
    )


@register(
    "q08_group_mean",
    """
    SELECT event_type, round(avg(value), 6) AS avg_value, count(*) AS n
    FROM events WHERE value IS NOT NULL GROUP BY event_type
    """,
)
def q08_group_mean(spark, sf_dir):
    """A2 dropna + group-by mean
    (/root/reference/src/datasmith/scrape/build_reports.py:228)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.na.drop(subset=["value"])
        .groupBy("event_type")
        .agg(F.round(F.avg("value"), 6).alias("avg_value"), F.count("*").alias("n"))
    )


@register(
    "q09_distinct_accum",
    """
    SELECT lang, count(DISTINCT source) AS n_sources, count(*) AS n_docs
    FROM documents GROUP BY lang
    """,
)
def q09_distinct_accum(spark, sf_dir):
    """A3/A6 distinct accumulation (seen-set dedup,
    /root/reference/src/datasmith/scrape/detect_dashboards.py:24,44-48)."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.countDistinct("source").alias("n_sources"), F.count("*").alias("n_docs")
    )


@register(
    "q10_last_write_wins",
    """
    SELECT user_id, event_type AS last_event_type, value AS last_value
    FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def q10_last_write_wins(spark, sf_dir):
    """A5 last-write-wins upsert fold (_update_dict,
    /root/reference/src/datasmith/collation/collate_benchmark_results.py:22-43)
    as a row_number()=1 window."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("last_event_type"),
            F.col("value").alias("last_value"),
        )
    )


@register(
    "q11_union_dedup",
    """
    SELECT event_type, count(*) AS n FROM (
      SELECT * FROM events WHERE value > 400.0
      UNION
      SELECT * FROM events WHERE event_type = 'click' AND value > 350.0
    ) GROUP BY event_type
    """,
)
def q11_union_dedup(spark, sf_dir):
    """U1 union-all + U4 dedup (pd.concat,
    /root/reference/src/datasmith/scrape/scrape_dashboards.py:96,117).
    event_id is the PK, so dropDuplicates(event_id) == full-row set union."""
    e = _t(spark, sf_dir, "events")
    a = e.filter(F.col("value") > 400.0)
    b = e.filter((F.col("event_type") == "click") & (F.col("value") > 350.0))
    return (
        a.unionByName(b)
        .dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )


@register(
    "q12_anti_join_resume",
    """
    SELECT c_mktsegment, count(*) AS n_customers_without_orders
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c_mktsegment
    """,
)
def q12_anti_join_resume(spark, sf_dir):
    """Left-anti join — the checkpoint-resume primitive ("clips not yet
    processed"; SURVEY.md §2.3) and U3 set difference
    (/root/reference/src/datasmith/scrape/build_reports.py:200)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o.select("o_custkey"), c.c_custkey == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers_without_orders"))
    )


@register(
    "q13_scalar_datetime",
    """
    SELECT year(o_orderdate) AS yr,
           CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS price_bucket,
           count(*) AS n, round(sum(o_totalprice), 2) AS total
    FROM orders GROUP BY 1, 2
    """,
)
def q13_scalar_datetime(spark, sf_dir):
    """F7 date/time + F8 math scalar families
    (/root/reference/src/datasmith/scrape/build_reports.py:21-23,
    detection/detect_breakpoints.py:26-28)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").alias("yr"),
            F.floor(F.col("o_totalprice") / 50000.0).cast("bigint").alias("price_bucket"),
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
    )


@register(
    "q14_json_extract",
    """
    SELECT event_type,
           round(avg(CAST(json_extract_string(props, '$.k') AS INTEGER)), 6) AS avg_k,
           count(*) AS n
    FROM events WHERE props IS NOT NULL GROUP BY event_type
    """,
)
def q14_json_extract(spark, sf_dir):
    """F11 JSON decode of a semi-structured column
    (/root/reference/scripts/filter_commits.py:119-120 json_normalize)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.filter(F.col("props").isNotNull())
        .groupBy("event_type")
        .agg(
            F.round(F.avg(F.get_json_object("props", "$.k").cast("int")), 6).alias("avg_k"),
            F.count("*").alias("n"),
        )
    )


@register(
    "q15_changepoint_detect",
    """
    WITH s AS (
      SELECT user_id, value, ts, event_id,
             row_number() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS rn,
             lag(value) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev
      FROM events
    )
    SELECT user_id, rn AS idx,
           round((value - prev) / (prev + 1e-10) * 100.0, 6) AS delta_pct
    FROM s
    WHERE prev IS NOT NULL AND (value - prev) / (prev + 1e-10) * 100.0 < -95.0
    """,
)
def q15_changepoint_detect(spark, sf_dir):
    """A1/W1/D3: THE reference centerpiece — per-group ordered-series
    detection via groupby().apply
    (/root/reference/src/datasmith/detection/detect_breakpoints.py:86-103,
    :15-38 delta_pct math incl. the 1e-10 epsilon guard) as applyInPandas,
    selected through the pluggable strategy registry (W2,
    operators/detection.py get_detection_method, mirroring ref :76-83)."""
    from .operators.detection import detect_changepoints

    return detect_changepoints(_t(spark, sf_dir, "events"), method="delta")


@register(
    "q15b_step_detect",
    """
    WITH s AS (
      SELECT user_id,
             row_number() OVER w AS rn,
             avg(value) OVER (w ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS before_m,
             avg(value) OVER (w ROWS BETWEEN CURRENT ROW AND 2 FOLLOWING) AS after_m,
             count(*) OVER (PARTITION BY user_id) AS n
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    )
    SELECT user_id, CAST(rn AS INTEGER) AS idx,
           round((after_m - before_m) / (before_m + 1e-10) * 100.0, 6) AS delta_pct
    FROM s
    WHERE rn > 3 AND rn + 2 <= n
      AND (after_m - before_m) / (before_m + 1e-10) * 100.0 < -70.0
    """,
)
def q15b_step_detect(spark, sf_dir):
    """W2: the second interchangeable detection strategy ("step", the asv
    step_detect analogue of ref detect_breakpoints.py:41-73) — windowed-mean
    shift, expressed as NATIVE window functions (zero Python in the plan)."""
    from .operators.detection import detect_changepoints

    return detect_changepoints(_t(spark, sf_dir, "events"), method="step", threshold=-70.0)


@register(
    "q16_sessionize",
    """
    WITH g AS (
      SELECT user_id,
             CASE WHEN extract(epoch FROM ts) - extract(epoch FROM lag(ts) OVER w) > 1800.0
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    )
    SELECT user_id, CAST(1 + sum(new_session) AS BIGINT) AS n_sessions FROM g GROUP BY user_id
    """,
)
def q16_sessionize(spark, sf_dir):
    """Gap-based sessionization (window lag + running flag) — the batch form
    of the graft's event-stream handling; W-family ordered-series op."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    # ts arrives as TIMESTAMP_NTZ; session TZ is pinned UTC, so NTZ ->
    # TIMESTAMP -> double epoch-seconds matches DuckDB extract(epoch ...)
    ep = F.col("ts").cast("timestamp").cast("double")
    gap = ep - F.lag(ep).over(w)
    return (
        e.withColumn("new_session", F.when(gap > 1800.0, F.lit(1)).otherwise(F.lit(0)))
        .groupBy("user_id")
        .agg((F.lit(1) + F.sum("new_session")).cast("long").alias("n_sessions"))
    )


# =====================================================================
# Web-scale curation operators: text analysis, dedup, similarity
# =====================================================================

# shared dedup corpus: base docs + exact copies + near-duplicate copies,
# constructed identically on both engines

_VERIFIED_PAIRS_CACHE: dict = {}


def _verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-persisted verified MinHash near-dup pairs (the q22
    computation) shared by q52 / q53 / q120 — the three cluster-consumer
    queries previously each re-ran shingles -> minhash -> band ->
    Jaccard-verify over the same corpus. Same app-bounded cache
    discipline as _clips_post_decode; eager localCheckpoint truncates
    the lineage so consumers replan from the materialized pair table."""
    from .operators.dedup import (
        jaccard_verify_sets,
        lsh_candidate_pairs,
        minhash_profiles,
    )

    def build():
        corpus = _corpus(spark, sf_dir)
        # fused one-pass profiles (signatures + shingle-set arrays),
        # materialized once for the three consumers (bands, both verify
        # sides) — replaces the persisted shingle explode entirely
        prof = minhash_profiles(corpus, with_sets=True).localCheckpoint(eager=True)
        cand = lsh_candidate_pairs(prof)
        return jaccard_verify_sets(
            prof.select("id", "_ts", "sz"), cand, threshold=0.6
        ).localCheckpoint(eager=True)

    return _session_cached(_VERIFIED_PAIRS_CACHE, spark, sf_dir, build)


_CORPUS_SQL = """
    corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 100
      UNION ALL
      SELECT doc_id + 200000 AS doc_id, text || ' zz17 zz18 zz19' AS text
      FROM documents WHERE doc_id < 100
    )
"""


def _spread(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Scale-adaptive parallelism guard for small/unsplittable scans (guide
    §2.5 input skew / §6 input splits): a single-row-group parquet file
    scans as ONE task, serializing every downstream narrow op (explode,
    hash, regex, Arrow UDF) until the first shuffle — measured 1-2 scan
    tasks for the documents table at every sf. When the scan has fewer
    partitions than the session's parallelism, round-robin repartition the
    (small) input once; already well-partitioned inputs pass through
    untouched, so on a real cluster with many input files this is a no-op.
    """
    n = min(spark.sparkContext.defaultParallelism, 64)
    return df.repartition(n) if df.rdd.getNumPartitions() < n else df


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    ex = d.filter(F.col("doc_id") < 100).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    nr = d.filter(F.col("doc_id") < 100).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz17 zz18 zz19")).alias("text"),
    )
    # one cheap round-robin exchange of the raw (doc_id, text) rows buys
    # full-width parallelism for the shingle/minhash/simhash map work that
    # every consumer of the corpus runs next
    return _spread(spark, d.unionByName(ex).unionByName(nr))


@register(
    "q17_token_stats",
    r"""
    SELECT lang, count(*) AS n_docs,
           CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS sum_tokens,
           round(avg(len(regexp_split_to_array(trim(text), '\s+'))), 4)       AS avg_tokens,
           max(len(regexp_split_to_array(trim(text), '\s+')))                 AS max_tokens
    FROM documents GROUP BY lang
    """,
)
def q17_token_stats(spark, sf_dir):
    """Token counting over the documents table (F12 tokenizer family)."""
    from .operators.text_analysis import token_stats

    return token_stats(_t(spark, sf_dir, "documents"))


@register(
    "q18_quality_flags",
    r"""
    SELECT lang, count(*) AS n_docs,
           CAST(sum(CASE WHEN length(text) < 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
           CAST(sum(CASE WHEN len(regexp_extract_all(text, '[^a-z0-9 ]'))::DOUBLE
                              / length(text)::DOUBLE > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_symbolic,
           CAST(sum(CASE WHEN len(regexp_extract_all(text, '\b(the|a|and|of|to|in)\b'))::DOUBLE
                              / len(regexp_split_to_array(trim(text), '\s+'))::DOUBLE < 0.02
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_low_stopword
    FROM documents GROUP BY lang
    """,
)
def q18_quality_flags(spark, sf_dir):
    """Heuristic quality scoring over documents (rules-stage mirror)."""
    from .operators.text_analysis import quality_flags

    return quality_flags(_t(spark, sf_dir, "documents"))


@register(
    "q19_classify_argmax",
    r"""
    WITH s AS (
      SELECT lang,
             len(regexp_extract_all(text, '\b(table|row|column|index|key)\b'))   AS s_db,
             len(regexp_extract_all(text, '\b(stream|batch|window|event)\b'))    AS s_stream,
             len(regexp_extract_all(text, '\b(scan|hash|sort|merge|join)\b'))    AS s_compute
      FROM documents
    )
    SELECT lang,
           CASE WHEN s_db >= s_stream AND s_db >= s_compute THEN 'db'
                WHEN s_stream >= s_compute THEN 'stream'
                ELSE 'compute' END AS pred,
           count(*) AS n
    FROM s GROUP BY 1, 2
    """,
)
def q19_classify_argmax(spark, sf_dir):
    """Marker-token argmax classification — SQL-checkable langid skeleton
    (the full hashed-ngram model runs on the clips pipeline)."""
    from .operators.text_analysis import classify_argmax

    return classify_argmax(_t(spark, sf_dir, "documents"))


@register(
    "q20_exact_dedup",
    rf"""
    WITH {_CORPUS_SQL},
    fp AS (
      SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ')) AS fp FROM corpus
    ),
    groups AS (SELECT fp, count(*) AS cnt FROM fp GROUP BY fp)
    SELECT CAST(sum(cnt) AS BIGINT)            AS n_rows,
           count(*)                            AS n_fps,
           CAST(sum(cnt) - count(*) AS BIGINT) AS n_dup_rows,
           CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups
    FROM groups
    """,
)
def q20_exact_dedup(spark, sf_dir):
    """Exact dedup via md5 fingerprint hash-groupBy (single uniform-key
    shuffle — the cheapest global dedup at 10^12 docs)."""
    from .operators.dedup import exact_dedup_stats

    return exact_dedup_stats(_corpus(spark, sf_dir))


def _default_pair_cap() -> int:
    from .operators.pairs import pair_key_cap

    return pair_key_cap()


def _capped_pairs_sql_cte(cap: int) -> str:
    """CTEs re-deriving operators.pairs.capped_key_pairs in SQL over a
    `melt(id, k)` CTE the caller provides: per-key counts, exact all-pairs
    at/below the cap, min-id star pairs above it. `allp` keeps one row per
    shared key (multiplicity semantics, q31); `cand` is the distinct pair
    set. Every capped Spark operator's oracle embeds THIS body with the
    SAME default cap, so the production hot-key defense cannot drift from
    the value-checked semantics (the cap is read once at import from
    SPARK_GRAFT_PAIR_KEY_CAP, matching the Spark-side default)."""
    return f"""stats AS (SELECT k, count(*) AS kc, min(id) AS rep FROM melt GROUP BY k),
    cold AS (SELECT m.id, m.k FROM melt m JOIN stats s ON s.k = m.k AND s.kc <= {cap}),
    cold_pairs AS (
      SELECT x.id AS a, y.id AS b FROM cold x JOIN cold y ON x.k = y.k AND x.id < y.id
    ),
    hot_pairs AS (
      SELECT s.rep AS a, m.id AS b
      FROM melt m JOIN stats s ON s.k = m.k AND s.kc > {cap} AND m.id != s.rep
    ),
    allp AS (SELECT * FROM cold_pairs UNION ALL SELECT * FROM hot_pairs),
    cand AS (SELECT DISTINCT a, b FROM allp)"""


def _capped_minhash_sql_body(k: int, cap: int) -> str:
    """DuckDB mirror of operators.pairs capped_band_pairs over the minhash
    bands: melt bands to composite keys, per-key counts, all-pairs below the
    cap, min-id star pairs above it — byte-for-byte the Spark semantics."""
    melts = "\n        UNION ALL\n        ".join(
        f"SELECT id, '{b}#' || b{b} AS k FROM band" for b in range(k // 2)
    )
    return rf"""
    melt AS (
        {melts}
    ),
    {_capped_pairs_sql_cte(cap)}
"""


def _minhash_sql_body(k: int) -> str:
    """DuckDB mirror of operators.dedup minhash_signatures/lsh_candidate_pairs
    for K permutations banded into K/2 two-signature bands (kept in sync via
    the shared MINHASH_K constant). Candidate generation embeds the SAME
    hot-key cap as the Spark side (operators/pairs.py), so q21/q22 stay
    value-checked even on a corpus hot enough to trip the cap."""
    sig = ", ".join(f"min(md5('{i}|' || s)) AS s{i}" for i in range(k))
    bands = ", ".join(f"md5(s{2 * b} || s{2 * b + 1}) AS b{b}" for b in range(k // 2))
    return rf"""
    tok AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w FROM corpus
    ),
    sh AS (
      SELECT DISTINCT doc_id AS id,
             unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]) AS s
      FROM tok WHERE len(w) >= 3
    ),
    sig AS (SELECT id, {sig} FROM sh GROUP BY id),
    band AS (SELECT id, {bands} FROM sig),
    {_capped_minhash_sql_body(k, _default_pair_cap())}
"""


def _minhash_k() -> int:
    from .operators.dedup import MINHASH_K

    return MINHASH_K


_MINHASH_SQL_BODY = _minhash_sql_body(_minhash_k())


@register(
    "q21_minhash_lsh",
    rf"""
    WITH {_CORPUS_SQL},
    {_MINHASH_SQL_BODY}
    SELECT a AS doc_a, b AS doc_b FROM cand
    """,
)
def q21_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-duplicate candidate pairs
    (shingle -> K minhashes in one groupBy -> band-digest join).

    Signatures come from the fused one-pass profile kernel
    (operators/dedup.minhash_profiles): a doc is one row, so its k min
    hashes complete inside the Arrow batch — the shingle explode and its
    groupBy shuffle are gone, and md5 runs once per distinct shingle per
    task instead of once per instance."""
    from .operators.dedup import lsh_candidate_pairs, minhash_profiles

    return lsh_candidate_pairs(minhash_profiles(_corpus(spark, sf_dir)))


@register(
    "q22_ngram_jaccard",
    rf"""
    WITH {_CORPUS_SQL},
    {_MINHASH_SQL_BODY},
    sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
    inter AS (
      SELECT c.a AS doc_a, c.b AS doc_b, count(*) AS inter
      FROM cand c
      JOIN sh sa ON sa.id = c.a
      JOIN sh sb ON sb.id = c.b AND sb.s = sa.s
      GROUP BY c.a, c.b
    )
    SELECT i.doc_a, i.doc_b,
           round(i.inter::DOUBLE / (za.sz + zb.sz - i.inter)::DOUBLE, 4) AS jaccard
    FROM inter i
    JOIN sizes za ON za.id = i.doc_a
    JOIN sizes zb ON zb.id = i.doc_b
    WHERE i.inter::DOUBLE / (za.sz + zb.sz - i.inter)::DOUBLE >= 0.6
    """,
)
def q22_ngram_jaccard(spark, sf_dir):
    """Exact n-gram-Jaccard verification of LSH candidates
    (verify-after-filter: intersections only for candidate pairs).

    The shingle table feeds FIVE consumers (k-minhash agg, pair sizes, both
    sides of the intersection join) — persist it so the explode+distinct
    runs once, not once per DAG branch; at 10^12 docs this intermediate
    would be materialized (bucketed by id) for exactly the same reason.

    The profile table (signatures + shingle-set arrays from the fused
    one-pass kernel) feeds THREE consumers (bands, both verify sides) —
    localCheckpoint materializes it once; the small result is pinned the
    same way so a long-lived driver session does not keep intermediates in
    executor memory for the rest of the run."""
    from .operators.dedup import jaccard_verify_sets, lsh_candidate_pairs, minhash_profiles

    corpus = _corpus(spark, sf_dir)
    prof = minhash_profiles(corpus, with_sets=True).localCheckpoint(eager=True)
    cand = lsh_candidate_pairs(prof)
    return jaccard_verify_sets(
        prof.select("id", "_ts", "sz"), cand, threshold=0.6
    ).localCheckpoint(eager=True)


@register(
    "q23_cosine_topk",
    """
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS ce FROM embeddings),
    scored AS (
      SELECT q.query_id, c.neighbor_id,
             round(list_dot_product(q.qe, c.ce)
                   / sqrt(list_dot_product(q.qe, q.qe) * list_dot_product(c.ce, c.ce)), 4) AS cos
      FROM q JOIN c ON q.query_id != c.neighbor_id
    )
    SELECT query_id, neighbor_id, cos FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rk
      FROM scored
    ) WHERE rk <= 3
    """,
)
def q23_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k (broadcast query set, corpus streamed once
    — the exact-ANN baseline)."""
    from .operators.similarity import cosine_topk

    return cosine_topk(_t(spark, sf_dir, "embeddings"), n_queries=5, k=3)


def _lsh_planes_sql(dims: int = 64) -> str:
    from .operators.similarity import hyperplanes

    planes = hyperplanes(dims)
    terms = []
    for p in planes:
        lit = "[" + ", ".join(f"{v!r}" for v in p) + "]::DOUBLE[]"
        terms.append(
            f"CASE WHEN list_dot_product(embedding::DOUBLE[], {lit}) > 0 THEN '1' ELSE '0' END"
        )
    return " || ".join(terms)


@register(
    "q24_lsh_ann_buckets",
    f"""
    SELECT {_lsh_planes_sql()} AS bucket, count(*) AS n
    FROM embeddings GROUP BY 1
    """,
)
def q24_lsh_ann_buckets(spark, sf_dir):
    """Random-hyperplane LSH bucketing — the ANN scale path (candidate sets
    for within-bucket exact search)."""
    from .operators.similarity import lsh_bucket_counts

    return lsh_bucket_counts(_t(spark, sf_dir, "embeddings"), dims=64)


@register(
    "q25_embedding_dup_pairs",
    """
    WITH corpus AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 10000 AS vec_id, embedding FROM embeddings WHERE vec_id < 20
    ),
    pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                   / sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])
                          * list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])), 4) AS cos
      FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, cos FROM pairs WHERE cos >= 0.999
    """,
)
def q25_embedding_dup_pairs(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (corpus salted with known
    duplicates). The Spark side runs the SCALE path — multi-band hyperplane
    LSH prefilter, exact cosine on candidates only, no O(N^2) join — while
    the DuckDB oracle computes exact all-pairs; matching results prove the
    prefilter's recall on this corpus. Plan has no nested-loop join
    (tests/test_webscale.py::test_embedding_dup_pairs)."""
    from .operators.similarity import embedding_dup_pairs

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dup = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding"
    )
    return embedding_dup_pairs(emb.unionByName(dup), threshold=0.999)


@register(
    "q26_simhash_candidates",
    rf"""
    WITH {_CORPUS_SQL},
    tok AS (
      SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                        t -> t != '')) AS t
      FROM corpus
    ),
    tc AS (SELECT doc_id, t, count(*) AS cnt FROM tok GROUP BY doc_id, t),
    vocab AS (SELECT DISTINCT t FROM tc),
    -- bit j of md5(token)'s first 8 bytes, MSB-first (numpy unpackbits order):
    -- hex nibble j//4, within-nibble shift 3-(j%4)
    bits AS (
      SELECT t, g.j,
             ((strpos('0123456789abcdef', substr(md5(t), 1 + (g.j // 4), 1)) - 1)
              >> (3 - (g.j % 4))) & 1 AS bit
      FROM vocab, generate_series(0, 63) g(j)
    ),
    votes AS (
      SELECT tc.doc_id, b.j, sum(tc.cnt * (2 * b.bit - 1)) AS v
      FROM tc JOIN bits b ON b.t = tc.t
      GROUP BY tc.doc_id, b.j
    ),
    fp AS (
      SELECT doc_id, string_agg(CASE WHEN v > 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS bitstr
      FROM votes GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, g.b AS band, substr(bitstr, 1 + 16 * g.b, 16) AS key
      FROM fp, generate_series(0, 3) g(b)
    ),
    melt AS (SELECT doc_id AS id, band || '#' || key AS k FROM bands),
    {_capped_pairs_sql_cte(_default_pair_cap())}
    SELECT a AS doc_a, b AS doc_b FROM cand
    """,
)
def q26_simhash_candidates(spark, sf_dir):
    """SimHash near-dup candidates (Arrow-batched UDF, 16-bit bands).

    The DuckDB oracle re-derives the 64-bit bit-vote fingerprint in pure SQL
    (per-token md5 bits via hex-nibble arithmetic, tf-weighted votes, banded
    16-bit equi-join) — bit-for-bit the same fingerprint family as the UDF,
    so candidate pairs match exactly. tests/test_webscale.py additionally
    asserts the planted near-duplicates are found.
    """
    from .operators.dedup import simhash_candidate_pairs

    return simhash_candidate_pairs(_corpus(spark, sf_dir))


# --------------------------------------------------------------- clips ops

_CLIPS_N = 4000  # fixed clip count: matches the committed oracle fixture
_ORACLE_FIXTURE = f"{_REPO}/fixtures/oracle_labels_n{_CLIPS_N}.parquet"


def _clips_cache_path(spark: SparkSession, sf_dir: str) -> str:
    """Deterministic clips table (n=_CLIPS_N rows), cached as parquet.

    The row count is pinned (not sf-scaled) so the committed single-process
    oracle fixture (scripts/make_oracle_fixture.py) describes exactly this
    input at every sf the driver runs.
    """
    import os

    from . import datagen

    # 64 partitions (not the generator's default 15): the fused digest
    # scans parallelize per FILE, so the file count is the parallelism
    # ceiling for every kernel-bound lane (q36/q37/q54/q56/q57/q63/q64) —
    # 15 uneven files capped them at ~5x effective on 32 cores. Row
    # CONTENT is a pure function of the row index (datagen.clips_df), so
    # the layout change cannot move any committed fixture digest.
    path = f"{_REPO}/.data/clips_cache/n{_CLIPS_N}_p64"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        datagen.clips_df(spark, _CLIPS_N, n_partitions=64).write.mode(
            "overwrite"
        ).parquet(path)
    return path


_POST_DECODE_CACHE: dict = {}


def _session_cached(cache: dict, spark: SparkSession, path: str, build) -> DataFrame:
    """App-bounded persisted-DataFrame cache discipline, shared by every
    session cache here (_clips_post_decode, _fp_keys_cached): entries from
    earlier applications in a long-lived driver died with their context —
    unpersist best-effort and drop them so the dict cannot accumulate dead
    frames; `build()` runs once per (application, path)."""
    app = spark.sparkContext.applicationId
    for stale in [k for k in cache if k[0] != app]:
        old = cache.pop(stale)
        try:
            old.unpersist()
        except Exception:
            pass  # context already stopped
    key = (app, path)
    df = cache.get(key)
    if df is None:
        df = build()
        cache[key] = df
    return df


def _clips_post_decode(spark: SparkSession, sf_dir: str):
    """Post-decode frame (fused scan+rules+decode) for the pinned clips
    table, persisted once per session: q27 and q28 consume the SAME decode
    pass instead of each re-scanning and re-decoding the 4,000-clip table
    (the decode work dominated both queries). The persisted frame is tiny
    (~100-byte rows, bytes dropped at decode)."""
    from .operators.scan_decode import scan_rules_decode
    from .pipeline import ARROW_BATCH

    path = _clips_cache_path(spark, sf_dir)

    def build():
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH))
        return scan_rules_decode(spark, path, n_parts=32).persist()

    return _session_cached(_POST_DECODE_CACHE, spark, path, build)


def _clips_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full label frame: the label kernel's tail (langid -> ppl -> scrub,
    scan_decode.label_tail_pdf) in one mapInPandas over the
    session-persisted post-decode frame, shared by q27, q68, q83 and the
    later label consumers so they all read the same labels."""
    from .operators.scan_decode import LABELS_SCHEMA, label_tail_pdf

    def _tail(batches):
        for pdf in batches:
            yield label_tail_pdf(pdf)

    return _clips_post_decode(spark, sf_dir).mapInPandas(_tail, schema=LABELS_SCHEMA)


@register(
    "q27_clips_pipeline_summary",
    f"""
    SELECT drop_stage, lang, count(*) AS n,
           CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
           CAST(sum(pii_count) AS BIGINT) AS pii_total
    FROM read_parquet('{_ORACLE_FIXTURE}')
    GROUP BY drop_stage, lang
    """,
)
def q27_clips_pipeline_summary(spark, sf_dir):
    """Flagship curation chain (fused manifest scan: scan+rules+decode+
    langid+ppl+scrub in ONE mapInPandas), summarized per (drop_stage, lang).

    The DuckDB oracle aggregates the committed single-process oracle's
    labels (fixtures/oracle_labels_n4000.parquet) — an INDEPENDENT
    implementation of the same chain — so the driver's value-hash check
    verifies the whole pipeline end to end. Per-row equality (F1=1.0,
    transcripts, SNR) is additionally asserted by tests/test_pipeline.py.

    Shares the fused scan+decode pass with q28 via the session-persisted
    post-decode frame (_clips_post_decode); the remaining langid/ppl/scrub
    stages run over the tiny post-decode rows and produce labels identical
    to the fully-fused scan_labels path (tests/test_scan_decode.py).
    """
    labels = _clips_labels(spark, sf_dir)
    return (
        labels.groupBy("drop_stage", "lang")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("keep").cast("long")).alias("n_keep"),
            F.sum("pii_count").cast("long").alias("pii_total"),
        )
    )


@register(
    "q28_clips_decode_features",
    f"""
    SELECT codec, count(*) AS n,
           round(avg(rms), 6)       AS avg_rms,
           round(avg(n_samples), 2) AS avg_samples
    FROM read_parquet('{_ORACLE_FIXTURE}')
    WHERE decode_ok
    GROUP BY codec
    """,
)
def q28_clips_decode_features(spark, sf_dir):
    """Vectorized audio decode features per codec via the fused manifest
    scan (multimodal binary-payload path — audio bytes never cross the
    JVM<->Python socket). Oracle: the committed fixture's independently
    computed decode features (same per-row values, decode parity also
    asserted by tests/test_pipeline.py). Shares the decode pass with q27
    via the session-persisted post-decode frame."""
    df = _clips_post_decode(spark, sf_dir)
    return (
        df.filter(F.col("decode_ok"))
        .groupBy("codec")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("rms"), 6).alias("avg_rms"),
            F.round(F.avg("n_samples"), 2).alias("avg_samples"),
        )
    )


# ------------------------------------------------------- coverage widening

@register(
    "q29_bpe_token_hist",
    r"""
    SELECT lang,
           CAST(sum(len(regexp_extract_all(text, '[a-z]+'))) AS BIGINT)      AS n_word,
           CAST(sum(len(regexp_extract_all(text, '[0-9]+'))) AS BIGINT)      AS n_num,
           CAST(sum(len(regexp_extract_all(text, '[^a-z0-9\s]'))) AS BIGINT) AS n_punct,
           count(*) AS n_docs
    FROM documents GROUP BY lang
    """,
)
def q29_bpe_token_hist(spark, sf_dir):
    """BPE-ish regex tokenization (word/number/punct classes) per language —
    F12 tokenizer family (/root/reference/src/datasmith/scrape/build_reports.py:235-246)
    with a class-based pattern that is Java+RE2 dialect-safe."""
    from .operators.text_analysis import bpe_token_hist

    return bpe_token_hist(_t(spark, sf_dir, "documents"))


def _q30_sql() -> str:
    return f"""
    WITH b AS (
      SELECT vec_id, embedding::DOUBLE[] AS e, {_lsh_planes_sql()} AS bucket,
             list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS n2
      FROM embeddings
    ),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(list_dot_product(q.e, c.e) / sqrt(q.n2 * c.n2), 4) AS cos
      FROM b q JOIN b c ON c.bucket = q.bucket AND c.vec_id != q.vec_id
      WHERE q.vec_id < 20
    )
    SELECT query_id, neighbor_id, cos FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rk
      FROM scored
    ) WHERE rk <= 3
    """


@register("q30_lsh_ann_search", _q30_sql())
def q30_lsh_ann_search(spark, sf_dir):
    """LSH-bucketed ANN top-k (search within the query's hyperplane bucket
    only) — the scale path replacing q23's brute-force corpus scan."""
    from .operators.similarity import lsh_ann_search

    return lsh_ann_search(_t(spark, sf_dir, "embeddings"), n_queries=20, k=3)


@register(
    "q31_winnow_fingerprint_pairs",
    rf"""
    WITH {_CORPUS_SQL},
    words AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM corpus),
    kg AS (
      SELECT doc_id, pos, md5(array_to_string(w[pos:pos+2], ' ')) AS h
      FROM (SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 2, 0))) AS pos FROM words)
    ),
    fp AS (
      SELECT DISTINCT doc_id,
             min(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
      FROM kg
    ),
    melt AS (SELECT doc_id AS id, fp AS k FROM fp),
    {_capped_pairs_sql_cte(_default_pair_cap())}
    SELECT a AS doc_a, b AS doc_b, count(*) AS n_shared
    FROM allp GROUP BY 1, 2
    HAVING count(*) >= 10
    """,
)
def q31_winnow_fingerprint_pairs(spark, sf_dir):
    """MOSS-style winnowing fingerprints (rolling k-gram md5 + window min):
    doc pairs sharing >= 10 fingerprints. Finds the planted exact and
    near-duplicates in the salted corpus."""
    from .operators.text_analysis import fingerprint_pairs

    return fingerprint_pairs(_corpus(spark, sf_dir), k=3, w=4, min_shared=10)


@register(
    "q33_group_report_template",
    """
    WITH lines AS (
      SELECT user_id, ts, event_id,
             '* ' || strftime(ts, '%Y-%m-%d %H:%M:%S') || ' ' ||
             coalesce(event_type, '-') || ': ' ||
             coalesce(round(value, 2)::DECIMAL(12,2)::VARCHAR, '-') AS line
      FROM events
    ),
    g AS (
      SELECT user_id, count(*) AS n,
             string_agg(line, chr(10) ORDER BY ts, event_id) AS body
      FROM lines GROUP BY user_id
    )
    SELECT user_id, n,
           '# User ' || user_id || ' activity report (' || n || ' events)'
           || chr(10) || chr(10) || body AS report
    FROM g
    """,
)
def q33_group_report_template(spark, sf_dir):
    """D5/F5: per-group markdown report templating — the build_reports
    analogue (/root/reference/src/datasmith/scrape/build_reports.py:116-211:
    one document per distinct key, header block + per-child blocks joined
    with newlines, memoized per key via cache_completion).

    Spark-first shape: ONE groupBy with collect_list(struct) + array_sort +
    transform + array_join — the whole report renders inside codegen'd
    string expressions, no Python, built exactly once per key (the groupBy
    IS the memoization at scale). Numeric fields go through DECIMAL(12,2)
    so both engines render identical strings.
    """
    e = _t(spark, sf_dir, "events")
    ts_s = F.date_format(F.col("ts").cast("timestamp"), "yyyy-MM-dd HH:mm:ss")
    val_s = F.coalesce(
        F.round(F.col("value"), 2).cast("decimal(12,2)").cast("string"), F.lit("-")
    )
    line = F.concat(
        F.lit("* "), ts_s, F.lit(" "),
        F.coalesce(F.col("event_type"), F.lit("-")), F.lit(": "), val_s,
    )
    g = (
        e.select("user_id", "ts", "event_id", line.alias("line"))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("ts", "event_id", "line"))),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias("body"),
        )
    )
    report = F.concat(
        F.lit("# User "), F.col("user_id").cast("string"),
        F.lit(" activity report ("), F.col("n").cast("string"), F.lit(" events)"),
        F.lit("\n\n"), F.col("body"),
    )
    return g.select("user_id", "n", report.alias("report"))


@register(
    "q32_url_parse_encode",
    """
    WITH u AS (
      SELECT source || '.example.org'                                    AS host,
             '/' || lang || '/doc/' || doc_id                            AS path,
             replace(replace(lang || ' & ' || source, '&', '%26'), ' ', '+') AS q,
             n_chars                                                     AS n
      FROM documents
    )
    SELECT host, count(*) AS n_docs,
           count(DISTINCT path)      AS n_paths,
           count(DISTINCT q)         AS n_terms,
           CAST(sum(n) AS BIGINT)    AS sum_n
    FROM u GROUP BY host
    """,
)
def q32_url_parse_encode(spark, sf_dir):
    """F4/F6 URL scalar family: url_encode + parse_url(HOST/PATH/QUERY).

    Ancestry: urlparse + owner/repo splitting + quote()
    (/root/reference/src/datasmith/scrape/utils.py:33-85,
    scrape_dashboards.py:19-27, build_reports.py:82-97).

    The Spark side BUILDS a URL per document (F5 templating), percent-
    encodes the query term (Java URLEncoder semantics: space->'+',
    '&'->%26), then re-extracts host/path/term/param with parse_url. The
    DuckDB oracle derives the same fields straight from the source columns
    — independent ground truth, so the check verifies the encode+parse
    round-trip, not just self-consistency.
    """
    d = _t(spark, sf_dir, "documents")
    term = F.concat(F.col("lang"), F.lit(" & "), F.col("source"))
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.org/"), F.col("lang"),
        F.lit("/doc/"), F.col("doc_id").cast("string"),
        F.lit("?q="), F.url_encode(term),
        F.lit("&n="), F.col("n_chars").cast("string"),
    )
    parsed = d.select(
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY"), F.lit("q")).alias("q"),
        F.parse_url(url, F.lit("QUERY"), F.lit("n")).cast("long").alias("n"),
    )
    return parsed.groupBy("host").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("path").alias("n_paths"),
        F.countDistinct("q").alias("n_terms"),
        F.sum("n").alias("sum_n"),
    )


# ------------------------------------------------- round-3 coverage widening

_HOT_TEXT = "the exact same boilerplate sentence repeated verbatim everywhere"
_HOT_N = 300
_HOT_CAP = 64


@register(
    "q34_capped_hotkey_pairs",
    rf"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT 500000 + g.x AS doc_id, '{_HOT_TEXT}' AS text
      FROM generate_series(0, {_HOT_N - 1}) g(x)
    ),
    tok AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w FROM corpus
    ),
    sh AS (
      SELECT doc_id AS id,
             unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]) AS s
      FROM tok WHERE len(w) >= 3
    ),
    sig AS (SELECT id, {', '.join(f"min(md5('{i}|' || s)) AS s{i}" for i in range(_minhash_k()))} FROM sh GROUP BY id),
    band AS (SELECT id, {', '.join(f"md5(s{2*b} || s{2*b+1}) AS b{b}" for b in range(_minhash_k() // 2))} FROM sig),
    {_capped_minhash_sql_body(_minhash_k(), _HOT_CAP)}
    SELECT a AS doc_a, b AS doc_b FROM cand
    """,
)
def q34_capped_hotkey_pairs(spark, sf_dir):
    """Hot-key-capped MinHash dedup under a planted boilerplate cluster.

    The corpus is documents plus 300 byte-identical docs — the 100 TB
    hazard: ONE shared band key that would emit ~45k candidate pairs per
    band uncapped. With the frequency cap (operators/pairs.py) the cluster
    collapses to min-id star pairs while every below-cap key still yields
    exact all-pairs; the DuckDB oracle re-derives the IDENTICAL capped
    semantics in SQL, so the driver value-hashes the whole defense."""
    from .operators.dedup import lsh_candidate_pairs, minhash_profiles

    docs = _spread(spark, _t(spark, sf_dir, "documents").select("doc_id", "text"))
    hot = spark.range(_HOT_N).select(
        (F.col("id") + 500000).alias("doc_id"), F.lit(_HOT_TEXT).alias("text")
    )
    return lsh_candidate_pairs(
        minhash_profiles(docs.unionByName(hot)), cap=_HOT_CAP
    )


def _ivf_cells_sql(dims: int = 64) -> tuple[str, str]:
    """(per-row dot exprs 'd0..dC-1', argmax CASE chain) for the oracle."""
    from .operators.similarity import IVF_N_CELLS, ivf_centroids

    cents = ivf_centroids(dims)
    dots = []
    for ci, c in enumerate(cents):
        lit = "[" + ", ".join(f"{v!r}" for v in c) + "]::DOUBLE[]"
        dots.append(f"list_dot_product(embedding::DOUBLE[], {lit}) AS d{ci}")
    whens = []
    for ci in range(IVF_N_CELLS):
        conds = [f"d{ci} >= d{cj}" for cj in range(IVF_N_CELLS) if cj != ci]
        whens.append(f"WHEN {' AND '.join(conds)} THEN {ci}")
    # first-max tie-break: earlier WHEN wins, matching numpy argmax
    case = "CASE " + " ".join(whens) + " ELSE 0 END"
    return ", ".join(dots), case


_IVF_DOTS_SQL, _IVF_CASE_SQL = _ivf_cells_sql()


@register(
    "q35_ivf_ann_search",
    f"""
    WITH d AS (
      SELECT vec_id, embedding::DOUBLE[] AS e,
             list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS n2,
             {_IVF_DOTS_SQL}
      FROM embeddings
    ),
    b AS (SELECT vec_id, e, n2, {_IVF_CASE_SQL} AS cell FROM d),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(list_dot_product(q.e, c.e) / sqrt(q.n2 * c.n2), 4) AS cos
      FROM b q JOIN b c ON c.cell = q.cell AND c.vec_id != q.vec_id
      WHERE q.vec_id < 20
    )
    SELECT query_id, neighbor_id, cos FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rk
      FROM scored
    ) WHERE rk <= 3
    """,
)
def q35_ivf_ann_search(spark, sf_dir):
    """IVF-style ANN: coarse-quantize to frozen max-dot centroid cells, then
    exact top-k cosine within the query's cell (nprobe=1) — the inverted-
    file scale path beside the hyperplane-bucket one (q30). The oracle
    re-derives the cell assignment from the same centroid literals with a
    first-max CASE chain matching numpy argmax's tie-break."""
    from .operators.similarity import ivf_ann_search

    return ivf_ann_search(_t(spark, sf_dir, "embeddings"), n_queries=20, k=3)


# ------------------------------------------------------- audio prep ops

_AUDIO_OPS_FIXTURE = f"{_REPO}/fixtures/oracle_audio_ops_n{_CLIPS_N}.parquet"


@register(
    "q36_resample_clips",
    f"""
    SELECT clip_id, resample_ok, sr_hz, dur_ms, payload_md5
    FROM read_parquet('{_AUDIO_OPS_FIXTURE}')
    """,
)
def q36_resample_clips(spark, sf_dir):
    """Sample-rate normalization to 16 kHz (windowed-sinc, anti-aliased) over
    the pinned clips table — Arrow-batched mapInPandas, undecodable rows
    passed through byte-identical with resample_ok=false.

    Value check is digest-exact: the operator's digest mode hashes its
    resampled payload per clip inside the fused manifest scan (pyarrow
    memory_map reads in the worker — audio bytes never touch the JVM in
    either direction, so a default-heap driver session verifies the full
    table), while the DuckDB oracle reads the committed single-process
    oracle's digests (scripts/make_audio_ops_fixture.py — shared fixed-order
    kernels, independent driver loop); any bit difference in decode,
    resample, or re-encode flips the hash. At scale this is a shuffle-free
    narrow map; only Arrow batch size matters (operators/audio_ops.py).
    """
    from .operators.audio_ops import resample_digest_scan

    return resample_digest_scan(spark, _clips_cache_path(spark, sf_dir), target_sr=16000)


@register(
    "q37_logmel_features",
    f"""
    SELECT clip_id, ok, n_frames, n_mels, feats_md5
    FROM read_parquet('{_AUDIO_OPS_FIXTURE}')
    """,
)
def q37_logmel_features(spark, sf_dir):
    """Log-mel featurization (Hann rfft power -> HTK-mel filterbank ->
    log10 with the engine-wide 1e-10 floor) over the pinned clips table.

    Digest-exact value check like q36: the operator's digest mode hashes
    each clip's float64 feature array bit-for-bit (in the same Arrow pass,
    no array transfer) against the committed oracle's digest. The mel
    projection uses fixed-order (BLAS-free) summation in core/resample.py
    so the fixture is host-portable.
    """
    from .operators.audio_ops import logmel_digest_scan

    return logmel_digest_scan(spark, _clips_cache_path(spark, sf_dir))


_IMAGES_FIXTURE = f"{_REPO}/fixtures/oracle_images_n{_CLIPS_N}.parquet"


def _images_cache_path(spark: SparkSession, sf_dir: str) -> str:
    """Deterministic synthetic image table (n=_CLIPS_N rows), cached as
    parquet — pinned count for the same reason as _clips_cache_path."""
    import os

    from .operators.multimodal import synth_images

    path = f"{_REPO}/.data/images_cache/n{_CLIPS_N}"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        synth_images(spark, _CLIPS_N).write.mode("overwrite").parquet(path)
    return path


@register(
    "q39_image_decode_digest",
    f"""
    SELECT img_id, fmt, width, height, decode_ok, rgb_md5
    FROM read_parquet('{_IMAGES_FIXTURE}')
    """,
)
def q39_image_decode_digest(spark, sf_dir):
    """Image decode over the pinned synthetic image table (rgb8 passthrough,
    pure-stdlib PNG with all five scanline filters, pure-python baseline
    JPEG incl. 4:2:0 and restart markers, plus a torn-stream corrupt lane
    that must flag decode_ok=false, never crash).

    Digest-exact value check like q36: the fused manifest scan decodes
    worker-side (image bytes never in the JVM) and hashes the decoded
    HxWx3 uint8 buffer per row; the DuckDB oracle reads the committed
    single-process oracle's digests (scripts/make_image_fixture.py — shared
    codec kernels + shared synth_image_record rules, independent driver
    loop). The digest is over integer pixels, so no float-portability care
    is needed. At scale this is a shuffle-free narrow map (the multimodal
    conditional-enrich shape, operators/multimodal.py)."""
    from .operators.multimodal import image_digest_scan

    return image_digest_scan(spark, _images_cache_path(spark, sf_dir))


_AUDIO_FP_FIXTURE = f"{_REPO}/fixtures/oracle_audio_fp_n{_CLIPS_N}.parquet"

_FP_KEYS_CACHE: dict = {}


def _fp_keys_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q38's pinned-subset fingerprint key table (exact hex-key lane),
    persisted once per session — q38 and q80 consume the SAME kernel-bound
    fingerprint scan instead of each re-decoding the clips table (the scan
    dominates both queries; the key table itself is ~280k short rows).
    Same app-bounded cache discipline as _clips_post_decode."""
    from pyspark import StorageLevel

    from .operators.audio_fp import FP_AUG_EVERY, FP_EVERY, fingerprint_scan

    path = _clips_cache_path(spark, sf_dir)

    def build():
        return fingerprint_scan(
            spark, path, every=FP_EVERY, aug_every=FP_AUG_EVERY
        ).persist(StorageLevel.MEMORY_AND_DISK)

    return _session_cached(_FP_KEYS_CACHE, spark, path, build)
_FP_JACC_NUM, _FP_JACC_DEN = 35, 100  # key-set Jaccard threshold num/den


@register(
    "q38_audio_fp_neardup",
    rf"""
    WITH keys AS (
      SELECT clip_id AS id, fp_key AS k FROM read_parquet('{_AUDIO_FP_FIXTURE}')
    ),
    melt AS (SELECT id, k FROM keys),
    {_capped_pairs_sql_cte(_default_pair_cap())},
    sizes AS (SELECT id, count(*) AS sz FROM keys GROUP BY id),
    inter AS (
      SELECT c.a, c.b, count(*) AS n_shared
      FROM cand c
      JOIN keys x ON x.id = c.a
      JOIN keys y ON y.id = c.b AND y.k = x.k
      GROUP BY c.a, c.b
    )
    SELECT i.a AS clip_a, i.b AS clip_b, i.n_shared, sa.sz AS sz_a, sb.sz AS sz_b
    FROM inter i
    JOIN sizes sa ON sa.id = i.a
    JOIN sizes sb ON sb.id = i.b
    WHERE {_FP_JACC_DEN} * i.n_shared >= {_FP_JACC_NUM} * (sa.sz + sb.sz - i.n_shared)
    """,
)
def q38_audio_fp_neardup(spark, sf_dir):
    """Audio near-duplicate pairs via Haitsma-Kalker robust fingerprints:
    decode -> 16 kHz sinc resample -> 17-band log-mel -> sign-of-ddE bits
    -> 4-gram hex keys -> capped candidate self-join -> integer-exact
    key-set Jaccard verify (den*inter >= num*union, no float columns).

    Input is the pinned clips subset (every 4th clip) PLUS deterministic
    planted near-duplicates (gain 0.8 + pcm16 requantization, aug_ ids)
    derived in the same decode pass — the ground truth the pairs must
    recover. Split oracle design like q34: the numeric kernel is pinned by
    the committed key fixture (scripts/make_audio_fp_fixture.py,
    independent driver loop over the shared fixed-order kernels), while the
    DuckDB SQL re-derives the ENTIRE distributed part — hot-key-capped pair
    generation and the Jaccard verify — from those keys, so the driver
    value-hashes both the fingerprint math and the join semantics. At
    10^12 clips: narrow fingerprint map (fused scan, bytes never in the
    JVM), one capped self-join on short uniform hex keys, verify on
    candidates only — never all-pairs (operators/audio_fp.py).
    """
    from .operators.audio_fp import audio_neardup_pairs

    # the pair op consumes the key table four ways (key stats, both join
    # sides, set sizes) — the session-persisted key table (shared with
    # q80) makes the expensive fingerprint scan run ONCE per session
    keys = _fp_keys_cached(spark, sf_dir)
    return audio_neardup_pairs(keys, num=_FP_JACC_NUM, den=_FP_JACC_DEN).localCheckpoint(
        eager=True
    )


_AUDIO_FP_BALL_FIXTURE = f"{_REPO}/fixtures/oracle_audio_fp_ball_n{_CLIPS_N}.parquet"
_FP_BALL_NUM, _FP_BALL_DEN = 4, 100  # symmetric radius-1 hit-ratio threshold


@register(
    "q40_audio_fp_mulaw_neardup",
    rf"""
    WITH keys AS (
      SELECT clip_id AS id, fp_ikey AS k FROM read_parquet('{_AUDIO_FP_BALL_FIXTURE}')
    ),
    masks AS (
      SELECT 0::BIGINT AS m
      UNION ALL SELECT (1::BIGINT << CAST(r AS INTEGER)) AS m FROM range(32) t(r)
    ),
    ball AS (SELECT DISTINCT id, xor(k, m) AS k FROM keys CROSS JOIN masks),
    ec AS (SELECT k, count(*) AS ec FROM keys GROUP BY k),
    bc AS (SELECT k, count(*) AS bc FROM ball GROUP BY k),
    cold AS (
      SELECT ec.k FROM ec JOIN bc ON bc.k = ec.k
      WHERE ec.ec <= {_default_pair_cap()} AND bc.bc <= {_default_pair_cap()}
    ),
    hits AS (
      SELECT x.id AS src, y.id AS dst, count(*) AS h
      FROM ball x JOIN cold c ON c.k = x.k JOIN keys y ON y.k = x.k AND y.id != x.id
      GROUP BY x.id, y.id
    ),
    ab AS (SELECT src AS a, dst AS b, h AS hits_ab FROM hits WHERE src < dst),
    ba AS (SELECT dst AS a, src AS b, h AS hits_ba FROM hits WHERE src > dst),
    sizes AS (SELECT id, count(*) AS sz FROM keys GROUP BY id),
    pairs AS (
      SELECT COALESCE(ab.a, ba.a) AS a, COALESCE(ab.b, ba.b) AS b,
             COALESCE(ab.hits_ab, 0) AS hits_ab, COALESCE(ba.hits_ba, 0) AS hits_ba
      FROM ab FULL JOIN ba ON ba.a = ab.a AND ba.b = ab.b
    )
    SELECT p.a AS clip_a, p.b AS clip_b, p.hits_ab, p.hits_ba,
           sa.sz AS sz_a, sb.sz AS sz_b
    FROM pairs p
    JOIN sizes sa ON sa.id = p.a
    JOIN sizes sb ON sb.id = p.b
    WHERE {_FP_BALL_DEN} * (p.hits_ab + p.hits_ba) >= {_FP_BALL_NUM} * (sa.sz + sb.sz)
    """,
)
def q40_audio_fp_mulaw_neardup(spark, sf_dir):
    """Coarse-re-encode-robust audio near-duplicates: the Hamming-ball lane
    that recovers 8-bit mu-law/A-law companding round-trips, which flip too
    many fingerprint bits for q38's exact-key join (documented there as the
    ISMIR-2002 lookup-table non-goal — this query closes it).

    decode -> 16 kHz sinc resample -> 17-band log-mel -> sign-of-ddE bits
    -> integer 2-gram keys -> radius-1 Hamming-ball expansion (33-mask XOR
    explode, JVM-native) -> ONE capped ball-to-exact match join that yields
    candidates AND directional hit counts together -> symmetric
    integer-exact hit-ratio verify (den*(hits_ab+hits_ba) >=
    num*(sz_a+sz_b)).

    Input is the SAME pinned clips subset as q38 (every 4th clip) with
    mu-law-companded plants (gain 0.9 + mu-law round-trip, mul_ ids) — all
    97 recovered, zero false pairs (plant scores 0.071-0.828 vs 0.011 max
    unrelated). Split oracle like q38: the numeric kernel is pinned by the
    committed integer-key fixture (scripts/make_audio_fp_ball_fixture.py);
    the DuckDB SQL re-derives the ENTIRE distributed part — the XOR ball
    expansion itself, frequency capping, the match join, and the verify —
    from those keys, so the driver value-hashes the expansion semantics
    too. At 10^12 clips: narrow 33x explode of small integer rows, one
    capped equi-join on uniform int keys, groupBy scoring — nothing
    all-pairs (operators/audio_fp.py:audio_neardup_pairs_hamming).
    """
    from pyspark import StorageLevel

    from .operators.audio_fp import (
        FP_AUG_EVERY,
        FP_EVERY,
        audio_neardup_pairs_hamming,
        fingerprint_ints_scan,
    )

    ikeys = fingerprint_ints_scan(
        spark,
        _clips_cache_path(spark, sf_dir),
        every=FP_EVERY,
        aug_every=FP_AUG_EVERY,
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # scoped for this query's execution: AQE coalescing packs the ball-table
    # shuffles (33x the key rows) into few fat partitions, whose concurrent
    # sorts OOM a default-memory (1g) driver session; with coalescing off
    # each of the 200 default shuffle partitions sorts ~50k rows. Restored
    # after the eager checkpoint — every other query keeps AQE coalescing.
    coal = "spark.sql.adaptive.coalescePartitions.enabled"
    shuf = "spark.sql.shuffle.partitions"
    old = spark.conf.get(coal, "true")
    old_shuf = spark.conf.get(shuf, "200")
    # 32 shuffle partitions for the ball joins: the rows are tiny ints, so
    # at 200-way each of the six shuffles pays fixed per-partition sort/
    # fetch overhead on ~75k-row slivers — interleaved A/B at local[32]
    # measures 200-way at ~40 s vs 32-way at ~18 s, and a vanilla 1g
    # local[8] session completes fine at 32-way (~470k-row partitions
    # spill-sort; the OOM mode being avoided is AQE coalescing packing
    # the ball into 1-2 multi-million-row partitions, not this).
    spark.conf.set(coal, "false")
    spark.conf.set(shuf, "32")
    try:
        out = audio_neardup_pairs_hamming(
            ikeys, num=_FP_BALL_NUM, den=_FP_BALL_DEN
        ).localCheckpoint(eager=True)
    finally:
        spark.conf.set(coal, old)
        spark.conf.set(shuf, old_shuf)
        ikeys.unpersist()
    return out


# ------------------------------------------------- audio + text quality

_AUDIO_VAD_FIXTURE = f"{_REPO}/fixtures/oracle_audio_vad_n{_CLIPS_N}.parquet"


@register(
    "q41_audio_vad_trim",
    f"""
    SELECT clip_id, ok, n_samples, n_frames, n_active,
           trim_start_ms, trim_end_ms, n_clipped, keep
    FROM read_parquet('{_AUDIO_VAD_FIXTURE}')
    """,
)
def q41_audio_vad_trim(spark, sf_dir):
    """Audio-side quality filter: energy-based voice-activity detection
    (20 ms frames vs a -35 dBFS floor), lead/tail trim points, hard-clipping
    counts, and the composite keep rule — the decoded-PCM counterpart of the
    transcript rules stage (quality_filter x audio).

    Value check is exact (no digest needed): every metric is an integer or
    boolean by the core/vad.py determinism contract (pinned-order framed
    energy fold, integer cross-multiplied keep rule); the DuckDB oracle reads
    the committed single-process pass (scripts/make_audio_vad_fixture.py —
    shared kernel, independent driver loop). Runs as a fused manifest scan:
    audio bytes never enter the JVM, kernel-bound so full session
    parallelism. At 10^12 clips this is a shuffle-free narrow map
    (operators/audio_ops.py vad_trim_scan)."""
    from .core.vad import Q41_ACTIVE_DB
    from .operators.audio_ops import vad_trim_scan

    return vad_trim_scan(
        spark, _clips_cache_path(spark, sf_dir), active_db=Q41_ACTIVE_DB
    )


@register(
    "q42_gopher_quality",
    r"""
    WITH t AS (
      SELECT doc_id, text,
             regexp_split_to_array(trim(text), '\s+') AS w
      FROM documents
    ),
    m AS (
      SELECT doc_id,
             len(w)                                                AS n_words,
             CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT)
                                                                   AS sum_word_len,
             len(list_distinct(w))                                 AS n_uniq_words,
             len(regexp_extract_all(text, '\b(the|a|and|of|to|in)\b')) AS n_stop,
             len(regexp_extract_all(text, '[^a-z0-9 ]'))           AS n_sym,
             length(text)                                          AS n_chars
      FROM t
    )
    SELECT doc_id,
           CAST(n_words AS INT)      AS n_words,
           sum_word_len,
           CAST(n_uniq_words AS INT) AS n_uniq_words,
           CAST(n_stop AS INT)       AS n_stop,
           CAST(n_sym AS INT)        AS n_sym,
           (n_words >= 30 AND n_words <= 1000
            AND 3 * n_words <= sum_word_len AND sum_word_len <= 10 * n_words
            AND n_stop >= 2
            AND 20 * n_sym <= n_chars
            AND 2 * n_uniq_words >= n_words) AS keep
    FROM m
    """,
)
def q42_gopher_quality(spark, sf_dir):
    """Per-document Gopher-style quality rules (word-count bounds, mean word
    length via integer cross-multiplication, stopword minimum, symbol-density
    cap, duplicate-word cap). All-integer metrics so the DuckDB oracle
    re-derives the ENTIRE computation. Whole-stage-codegen narrow map —
    no shuffle, no UDF (operators/text_analysis.py gopher_quality)."""
    from .operators.text_analysis import gopher_quality

    return gopher_quality(_t(spark, sf_dir, "documents"))


@register(
    "q43_contamination_ngrams",
    r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents
    ),
    doc_grams AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS g
      FROM toks, UNNEST(CASE WHEN len(w) >= 3 THEN range(1, len(w) - 1)
                             ELSE [] END) AS t(i)
    ),
    bench AS (
      SELECT DISTINCT doc_id AS bid, g FROM doc_grams WHERE doc_id % 53 = 0
    )
    SELECT d.doc_id, count(DISTINCT d.g) AS n_hits
    FROM doc_grams d JOIN bench b ON b.g = d.g AND b.bid <> d.doc_id
    GROUP BY d.doc_id
    """,
)
def q43_contamination_ngrams(spark, sf_dir):
    """Benchmark-contamination check: distinct word n-grams shared with any
    other document of the benchmark subset (doc_id % 53 == 0 stands in for an
    eval-suite shingle list; real pipelines use 13-grams — n=3 here because
    the synthetic vocabulary is tiny, the plan shape is identical).

    At 100 TB the benchmark shingle set is bounded, so the probe join is
    broadcast (map-side, no corpus shuffle); the only shuffle is the per-doc
    count (operators/text_analysis.py contamination_hits)."""
    from .operators.text_analysis import contamination_hits

    return contamination_hits(
        _spread(spark, _t(spark, sf_dir, "documents")), n=3, bench_mod=53
    )


@register(
    "q44_trim_silence",
    f"""
    SELECT clip_id, trimmed, dur_ms, payload_md5
    FROM read_parquet('{_AUDIO_VAD_FIXTURE}')
    """,
)
def q44_trim_silence(spark, sf_dir):
    """Silence-trim to the VAD-active span as a LOSSLESS byte cut: every
    codec has a fixed itemsize, so the kept span is sliced from the encoded
    payload directly — bit-identical to the source, no decode->re-encode
    loss even for the companded codecs. No-active-span and undecodable rows
    pass through byte-identical with trimmed=false.

    Digest-exact value check like q36: the fused manifest scan hashes the
    trimmed payload per clip worker-side; the DuckDB oracle reads the
    committed single-process pass (same fixture as q41 — one script, shared
    span kernel core/vad.py active_span_samples, independent driver loop).
    Shuffle-free narrow map at 10^12 clips."""
    from .core.vad import Q41_ACTIVE_DB
    from .operators.audio_ops import trim_digest_scan

    return trim_digest_scan(
        spark, _clips_cache_path(spark, sf_dir), active_db=Q41_ACTIVE_DB
    )


@register(
    "q45_stratified_sample",
    """
    WITH ranked AS (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
             ) AS rk
      FROM documents
    )
    SELECT doc_id, lang, CAST(rk AS INT) AS rk FROM ranked WHERE rk <= 25
    """,
)
def q45_stratified_sample(spark, sf_dir):
    """Deterministic per-language stratified sample: rank docs within each
    language by md5(doc_id) (a seedless, engine-portable shuffle) and keep
    the top 25 — balanced training-data sampling that is exactly
    reproducible across engines and runs, so resumes/backfills pick the
    same rows.

    At 100 TB the naive window (shuffle by lang, full sort per stratum) is
    skew-hostile — `en` is the hot key. The scale plan is two-phase: a
    map-side hash prefilter (md5(doc_id) < t where t oversamples k by ~4x
    per stratum's estimated count) cuts each stratum to O(k) survivors
    BEFORE the shuffle, then the exact window runs on the survivors. At
    sf0.01's 500 rows the prefilter would undersample small strata, so this
    registration runs the exact window directly; the prefilter is the
    documented knob, not a semantic change."""
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc()
    )
    return (
        docs.select("doc_id", "lang", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= 25)
    )


_AUDIO_QUALITY_FIXTURE = (
    f"{_REPO}/fixtures/oracle_audio_quality_n{_CLIPS_N}.parquet"
)


@register(
    "q46_spectral_quality",
    f"""
    SELECT clip_id, ok, n_bins, n_harmonic, snr_log2, snr_ok, bw_hz,
           narrowband, keep
    FROM read_parquet('{_AUDIO_QUALITY_FIXTURE}')
    """,
)
def q46_spectral_quality(spark, sf_dir):
    """Spectral audio-quality filter: per-clip SNR estimate (harmonic bins
    vs the median-power noise floor) and effective-bandwidth / narrowband
    detection (the 8 kHz-upsampled-to-16 kHz transcode flag) over the
    averaged 512-point power spectrum — the frequency-domain counterpart of
    the time-domain VAD rules (q41).

    Value check is exact with no digest: every metric is an integer or
    boolean by the core/spectral.py portability contract (pinned-order
    spectrum folds, frexp-based floor-log2 SNR bands, cross-multiplied keep
    predicates — no libm transcendentals anywhere). The DuckDB oracle reads
    the committed single-process pass (scripts/make_audio_quality_fixture.py
    — shared kernel, independent driver loop). Runs as a fused manifest
    scan: audio bytes never enter the JVM; FFT-kernel bound so full session
    parallelism. At 10^12 clips this is a shuffle-free narrow map
    (operators/audio_ops.py spectral_quality_scan)."""
    from .operators.audio_ops import spectral_quality_scan

    return spectral_quality_scan(spark, _clips_cache_path(spark, sf_dir))


@register(
    "q47_speaking_rate",
    f"""
    SELECT clip_id, ok, n_chars, active_ms, rate_keep
    FROM read_parquet('{_AUDIO_QUALITY_FIXTURE}')
    """,
)
def q47_speaking_rate(spark, sf_dir):
    """Transcript-vs-audio speaking-rate sanity filter: the implied
    characters-per-second (stripped transcript length over VAD-active
    voiced time) must land in the plausible [2, 40] cps window — the
    cross-modal check that catches mismatched transcript/audio pairs that
    every single-modality rule passes (empty audio with a long transcript,
    a full clip carrying three words).

    All-integer metrics; rate_keep is the integer cross-multiplied window
    (core/spectral.py speaking_rate_keep), so the committed-fixture oracle
    compare is exact (same fixture as q46 — one script, one pinned input).
    Shuffle-free fused manifest scan at any scale
    (operators/audio_ops.py speaking_rate_scan)."""
    from .operators.audio_ops import speaking_rate_scan

    return speaking_rate_scan(spark, _clips_cache_path(spark, sf_dir))


@register(
    "q48_curriculum_buckets",
    """
    WITH ranked AS (
      SELECT doc_id, n_chars,
             ntile(8) OVER (ORDER BY n_chars ASC, doc_id ASC) AS bucket
      FROM documents
    )
    SELECT CAST(bucket AS INT) AS bucket,
           count(*) AS n_docs,
           min(n_chars) AS min_chars,
           max(n_chars) AS max_chars
    FROM ranked GROUP BY bucket
    """,
)
def q48_curriculum_buckets(spark, sf_dir):
    """Curriculum binning for training-data scheduling: split the corpus
    into 8 equal-count difficulty buckets by document length (ntile over a
    deterministic total order) and report per-bucket stats — the standard
    "train on short/easy first" schedule assignment.

    ntile needs a TOTAL order; a plain window executes it on a single
    partition — fine at fixture scale, skew-hostile at 100 TB. This runs
    the two-phase shape instead (operators/sampling.with_global_rank:
    range-repartitioned local ranks + broadcast partition offsets) and
    derives the bucket from the exact rank with ntile's remainder-first
    arithmetic — value-identical to the ntile window by construction."""
    from .operators.sampling import with_global_rank

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    n = docs.count()  # bounded metadata: one cheap count-star scan
    n_parts = max(1, min(n // 2_000_000 + 1, spark.sparkContext.defaultParallelism))
    ranked = with_global_rank(
        docs, [F.col("n_chars").asc(), F.col("doc_id").asc()], "_rk", n_parts=n_parts
    )
    q, r = divmod(n, 8)
    rk = F.col("_rk")
    # ntile(8): first r buckets hold q+1 rows, the rest q (remainder-first);
    # bucket = ceil(rank / (q+1)) inside the fat head, else
    # r + ceil((rank - r*(q+1)) / q). floor of a correctly-rounded double
    # quotient of exact <2^52 integers is the exact integer floor here.
    if q == 0:
        bucket = rk
    else:
        bucket = F.when(
            rk <= r * (q + 1), F.floor((rk + q) / F.lit(q + 1))
        ).otherwise(r + F.floor((rk - r * (q + 1) + q - 1) / F.lit(q)))
    return (
        ranked.select("doc_id", "n_chars", bucket.cast("int").alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


@register(
    "q49_sequence_packing",
    """
    WITH ordered AS (
      SELECT doc_id, lang, n_chars,
             sum(n_chars) OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum_chars
      FROM documents
    )
    SELECT doc_id, lang, n_chars, cum_chars,
           CAST((cum_chars - n_chars) // 4096 AS INT) AS pack_id
    FROM ordered
    """,
)
def q49_sequence_packing(spark, sf_dir):
    """Deterministic sequence packing: assign each document to a fixed-size
    training pack (4096-char budget) by running-prefix-sum of lengths over a
    seedless md5 shuffle order within each language — the streaming
    first-fit packer most training pipelines run, relationalized so resumes
    and backfills produce identical packs (same property as q45).

    pack_id = floor((cum - own) / budget): a document belongs to the pack
    its first character lands in; packs can overflow the budget by at most
    one document (standard greedy packing semantics). Pure window cumsum —
    whole-stage codegen, no UDF; at 100 TB the shuffle is one hash partition
    by lang with AQE skew splitting on the hot languages, and the in-
    partition sort is the only O(n log n) term."""
    docs = _t(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("lang")
        .orderBy(F.md5(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_chars").over(w).alias("cum_chars")
    return docs.select("doc_id", "lang", "n_chars", cum).withColumn(
        "pack_id",
        F.expr("CAST((cum_chars - n_chars) DIV 4096 AS INT)"),
    )


_AUDIO_NORM_FIXTURE = f"{_REPO}/fixtures/oracle_audio_norm_n{_CLIPS_N}.parquet"


@register(
    "q50_normalize_loudness",
    f"""
    SELECT clip_id, normalized, payload_md5
    FROM read_parquet('{_AUDIO_NORM_FIXTURE}')
    """,
)
def q50_normalize_loudness(spark, sf_dir):
    """Peak-normalize every decodable clip to 57/64 (~-1 dBFS) in its own
    codec — the loudness-leveling prep step between ingest and
    featurization. Digest-exact value check like q36/q44: the fused
    manifest scan hashes the normalized payload worker-side; the DuckDB
    oracle reads the committed single-process pass
    (scripts/make_audio_norm_fixture.py — shared kernel, independent
    driver loop). The exact-binary-fraction target keeps the gain path
    libm-free, so the committed digests are host-portable. Silent and
    undecodable rows pass through byte-identical with normalized=false.
    Shuffle-free narrow map at 10^12 clips
    (operators/audio_ops.py normalize_digest_scan)."""
    from .operators.audio_ops import normalize_digest_scan

    return normalize_digest_scan(spark, _clips_cache_path(spark, sf_dir))


@register(
    "q51_temperature_resample",
    """
    WITH c AS (
      SELECT lang, count(*) AS n_l FROM documents GROUP BY lang
    ),
    t AS (
      SELECT lang, n_l,
             CAST(ceil(sqrt(CAST(n_l AS DOUBLE) * (SELECT max(n_l) FROM c)))
                  AS INT) AS k_l
      FROM c
    ),
    ranked AS (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
             ) AS rk
      FROM documents
    )
    SELECT r.doc_id, r.lang, CAST(r.rk AS INT) AS rk, t.k_l,
           CAST(t.n_l AS INT) AS n_l,
           CAST(t.k_l // t.n_l
                + CASE WHEN r.rk <= t.k_l % t.n_l THEN 1 ELSE 0 END
                AS INT) AS n_copies
    FROM ranked r JOIN t USING (lang) WHERE r.rk <= t.k_l
    """,
)
def q51_temperature_resample(spark, sf_dir):
    """Temperature-based language rebalancing (T=0.5): per-language target
    k_l = ceil(sqrt(n_l * n_max)) — the geometric mean of the stratum size
    and the largest stratum, which upweights low-resource languages exactly
    like temperature sampling of the language distribution at T=0.5
    (p_l^(1/2) renormalized), relationalized so the selection is
    deterministic (md5-rank per stratum, same seedless shuffle as q45/q49).
    Because sqrt(n_l * n_max) >= n_l whenever n_max >= n_l, T=0.5 never
    DROPS a doc — it replicates: the emitted n_copies = k_l DIV n_l plus
    one extra for the first (k_l mod n_l) docs in md5-rank order is each
    doc's exact multiplicity in the rebalanced epoch, so
    sum(n_copies) == k_l per language and low-resource strata surface
    proportionally more often. A training sampler materializes the epoch
    with an explode(sequence(1, n_copies)) — kept out of the registered
    result so the oracle checks the assignment, not a row blowup.

    Engine-portable by construction: sqrt is IEEE-754 correctly rounded
    (unlike pow/log), ceil of it is exact, everything else is integers —
    so Spark and DuckDB agree bit-for-bit on every k_l. Scale shape: the
    per-lang count table is tiny (broadcast), the window is the q45
    stratified-sample shape with the same documented prefilter knob."""
    docs = _t(spark, sf_dir, "documents")
    c = docs.groupBy("lang").agg(F.count("*").alias("n_l"))
    n_max = c.agg(F.max("n_l").alias("m"))
    t = (
        c.crossJoin(F.broadcast(n_max))
        .select(
            "lang",
            F.col("n_l").cast("int").alias("n_l"),
            F.ceil(F.sqrt(F.col("n_l").cast("double") * F.col("m")))
            .cast("int")
            .alias("k_l"),
        )
    )
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc()
    )
    ranked = docs.select("doc_id", "lang", F.row_number().over(w).alias("rk"))
    return (
        ranked.join(F.broadcast(t), "lang")
        .filter(F.col("rk") <= F.col("k_l"))
        .select(
            "doc_id", "lang", "rk", "k_l", "n_l",
            (
                F.expr("k_l DIV n_l")
                + F.when(F.col("rk") <= F.col("k_l") % F.col("n_l"), 1).otherwise(0)
            ).cast("int").alias("n_copies"),
        )
    )


@register(
    "q52_dedup_clusters",
    rf"""
    WITH RECURSIVE {_CORPUS_SQL},
    {_MINHASH_SQL_BODY},
    sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
    inter AS (
      SELECT c.a AS doc_a, c.b AS doc_b, count(*) AS inter
      FROM cand c
      JOIN sh sa ON sa.id = c.a
      JOIN sh sb ON sb.id = c.b AND sb.s = sa.s
      GROUP BY c.a, c.b
    ),
    verified AS (
      SELECT i.doc_a, i.doc_b
      FROM inter i
      JOIN sizes za ON za.id = i.doc_a
      JOIN sizes zb ON zb.id = i.doc_b
      WHERE i.inter::DOUBLE / (za.sz + zb.sz - i.inter)::DOUBLE >= 0.6
    ),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM verified WHERE doc_a != doc_b
      UNION
      SELECT doc_b AS u, doc_a AS v FROM verified WHERE doc_a != doc_b
    ),
    reach(id, lbl) AS (
      SELECT u AS id, u AS lbl FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT e.v AS id, r.lbl FROM reach r JOIN edges e ON e.u = r.id
    ),
    cc AS (SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id),
    csz AS (SELECT cluster_id, CAST(count(*) AS INT) AS n_members
            FROM cc GROUP BY cluster_id)
    SELECT cc.doc_id, cc.cluster_id, csz.n_members,
           (cc.doc_id = cc.cluster_id) AS keep
    FROM cc JOIN csz USING (cluster_id)
    """,
)
def q52_dedup_clusters(spark, sf_dir):
    """Duplicate-cluster closure: the keep/drop DECISION the pair-emitting
    dedup lanes (q21/q22/q25/q26/q31/q38/q40) all feed. Verified MinHash
    near-dup pairs (the q22 computation) are grouped into connected
    components with iterative Hash-Min label propagation
    (operators/components.py — join + min-agg per round, lineage truncated
    by eager localCheckpoint each round, converges in graph-diameter
    rounds; dup clusters are shallow so 2-4 rounds in practice), and the
    min-id doc in each cluster is kept as the canonical survivor. Emits
    (doc_id, cluster_id, n_members, keep) per CLUSTERED doc — unclustered
    docs are implicitly kept and never enter the iteration, so the working
    set is O(dup pairs), not O(corpus).

    The DuckDB oracle re-derives the ENTIRE computation independently:
    same shingle/minhash/band/verify SQL as q22, then a recursive CTE
    propagating min labels over the symmetrized edge set to a transitive
    fixpoint — a genuinely different algorithm (transitive closure) than
    the Spark side's synchronous rounds, agreeing on the exact cluster
    assignment. At sf0.01 this yields 111 clusters over 335 docs with
    multi-hop merges (max cluster size 5 > any single pair)."""
    from .operators.components import dedup_keep_set

    return dedup_keep_set(_verified_pairs(spark, sf_dir))


@register(
    "q53_leakage_safe_split",
    rf"""
    WITH RECURSIVE {_CORPUS_SQL},
    {_MINHASH_SQL_BODY},
    sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
    inter AS (
      SELECT c.a AS doc_a, c.b AS doc_b, count(*) AS inter
      FROM cand c
      JOIN sh sa ON sa.id = c.a
      JOIN sh sb ON sb.id = c.b AND sb.s = sa.s
      GROUP BY c.a, c.b
    ),
    verified AS (
      SELECT i.doc_a, i.doc_b
      FROM inter i
      JOIN sizes za ON za.id = i.doc_a
      JOIN sizes zb ON zb.id = i.doc_b
      WHERE i.inter::DOUBLE / (za.sz + zb.sz - i.inter)::DOUBLE >= 0.6
    ),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM verified WHERE doc_a != doc_b
      UNION
      SELECT doc_b AS u, doc_a AS v FROM verified WHERE doc_a != doc_b
    ),
    reach(id, lbl) AS (
      SELECT u AS id, u AS lbl FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT e.v AS id, r.lbl FROM reach r JOIN edges e ON e.u = r.id
    ),
    cc AS (SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id),
    assigned AS (
      SELECT c0.doc_id,
             coalesce(cc.cluster_id, c0.doc_id) AS group_key,
             md5(CAST(coalesce(cc.cluster_id, c0.doc_id) AS VARCHAR)) AS h
      FROM corpus c0 LEFT JOIN cc ON cc.doc_id = c0.doc_id
    )
    SELECT doc_id, group_key,
           CASE WHEN h < 'e6' THEN 'train'
                WHEN h < 'f3' THEN 'val'
                ELSE 'test' END AS split
    FROM assigned
    """,
)
def q53_leakage_safe_split(spark, sf_dir):
    """Leakage-safe train/val/test split: assignment is keyed by the
    duplicate-CLUSTER representative (q52's connected components), not the
    doc id, so a document and all its near-duplicates land in the same
    split by construction — the eval-contamination failure mode of naive
    per-doc random splits (a test doc's near-dup in train) is structurally
    impossible. Unclustered docs group by themselves (left join +
    coalesce; they never enter the CC iteration). The 90/5/5 assignment is
    the seedless engine-portable convention used across this repo: md5 of
    the group key compared against fixed hex thresholds ('e6' = 230/256 ~
    0.898, 'f3' = 243/256 ~ 0.949) — deterministic, reproducible, and
    identical in Spark and DuckDB (both emit lowercase-hex md5, q45/q49/
    q51 precedent). Scale shape: the CC working set is O(dup pairs); the
    final assignment is a broadcast-sized left join per partition ONLY if
    the cluster table is small — it is O(clustered docs), so it is a plain
    hash join keyed by doc_id, and every downstream consumer partitions by
    split/group_key."""
    from .operators.components import connected_components

    pairs = _verified_pairs(spark, sf_dir)
    cc = connected_components(pairs, "doc_a", "doc_b").withColumnsRenamed(
        {"id": "doc_id", "component": "cluster_id"}
    )
    gk = F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    h = F.md5(gk.cast("string"))
    return (
        _corpus(spark, sf_dir).select("doc_id")
        .join(cc, "doc_id", "left")
        .select(
            "doc_id",
            gk.alias("group_key"),
            F.when(h < "e6", "train").when(h < "f3", "val").otherwise("test").alias("split"),
        )
    )


_AUDIO_SPEED_FIXTURE = f"{_REPO}/fixtures/oracle_audio_speed_n{_CLIPS_N}.parquet"


@register(
    "q54_speed_perturb",
    f"""
    SELECT clip_id, f_num, f_den, sp_ok, sr_hz, dur_ms, payload_md5
    FROM read_parquet('{_AUDIO_SPEED_FIXTURE}')
    """,
)
def q54_speed_perturb(spark, sf_dir):
    """Speed-perturbation augmentation (Kaldi's 0.9x/1.0x/1.1x schedule):
    every decodable clip is re-synthesized at num/den of its original
    playback speed via the Lanczos resample kernel applied with rate ratio
    num:den (y[j] = x(f*j) — tempo AND pitch shift by f, the standard ASR
    training augmentation), keeping the original sample-rate label. One
    input row fans out to three inside the Arrow batch, so the 3x volume
    blowup never crosses the driver and the whole op stays a shuffle-free
    narrow map — the shape that holds at 10^12 clips (the augmented corpus
    is written partition-parallel, never collected).

    Digest-exact value check like q36/q50: the fused manifest scan hashes
    each augmented payload worker-side (bytes never reach the JVM); the
    DuckDB oracle reads the committed single-process pass
    (scripts/make_audio_speed_fixture.py — shared kernel, independent
    driver loop). Factors are exact integer rationals so the resample
    ratio itself carries no float rounding; the identity lane (10,10)
    doubles as a decode->re-encode baseline. Undecodable rows emit one
    passthrough row per factor with sp_ok=false."""
    from .operators.audio_ops import speed_digest_scan

    return speed_digest_scan(spark, _clips_cache_path(spark, sf_dir))


_AUDIO_SEGMENT_FIXTURE = f"{_REPO}/fixtures/oracle_audio_segment_n{_CLIPS_N}.parquet"


@register(
    "q55_segment_clips",
    f"""
    SELECT clip_id, seg_idx, start_ms, dur_ms, ok, payload_md5
    FROM read_parquet('{_AUDIO_SEGMENT_FIXTURE}')
    """,
)
def q55_segment_clips(spark, sf_dir):
    """Fixed-length training-window segmentation: 1000 ms windows cut every
    500 ms (50% overlap) inside each clip's VAD-active span, as BYTE slices
    of the encoded payload (fixed itemsize per codec — bit-identical to the
    source, lossless even for companded codecs; the q44 trim construction
    generalized to a sliding window). The trailing remainder is dropped
    unless no full window fits, in which case the whole active span is the
    single segment — short utterances are kept, not discarded. Undecodable
    / silent rows emit one passthrough row (ok=false) so the table stays
    complete for lineage. One clip fans out to ~13 segments on this corpus
    entirely inside the Arrow batch — shuffle-free narrow map at 10^12
    clips regardless of fan-out.

    Digest-exact value check like q44/q54: the fused manifest scan hashes
    each segment slice worker-side; the DuckDB oracle reads the committed
    single-process pass (scripts/make_audio_segment_fixture.py — shared
    VAD span kernel, independent driver loop). All boundary arithmetic is
    integer, so the only float in the lane is the fixture-proven VAD
    energy test."""
    from .operators.audio_ops import segment_digest_scan

    return segment_digest_scan(spark, _clips_cache_path(spark, sf_dir))


_AUDIO_CMVN_FIXTURE = f"{_REPO}/fixtures/oracle_audio_cmvn_n{_CLIPS_N}.parquet"


@register(
    "q56_cmvn_features",
    f"""
    SELECT clip_id, ok, n_frames, n_mels, feats_md5
    FROM read_parquet('{_AUDIO_CMVN_FIXTURE}')
    """,
)
def q56_cmvn_features(spark, sf_dir):
    """Per-utterance CMVN (Kaldi's cepstral mean-variance normalization):
    each clip's log-mel bands shifted to zero mean and scaled to unit
    variance across the clip's OWN frames — the standard featurization step
    between the spectrogram and the acoustic model. Per-utterance
    normalization needs no corpus statistics, so the fused
    decode -> logmel -> cmvn chain is one Arrow pass and stays a
    shuffle-free narrow map at 10^12 clips (per-SPEAKER cmvn would add one
    broadcast-joined stats table; documented, not needed for this corpus's
    per-clip speakers).

    Digest-exact value check like q37: the fused manifest scan hashes each
    normalized float64 array bit-for-bit; the DuckDB oracle reads the
    committed single-process pass (scripts/make_audio_cmvn_fixture.py).
    Portability: pairwise summation over pinned axes (no BLAS), engine-wide
    1e-10 variance floor (constant bands normalize to exact zero), IEEE
    sqrt/divide."""
    from .operators.audio_ops import cmvn_digest_scan

    return cmvn_digest_scan(spark, _clips_cache_path(spark, sf_dir))


_AUDIO_SPECAUG_FIXTURE = f"{_REPO}/fixtures/oracle_audio_specaug_n{_CLIPS_N}.parquet"


@register(
    "q57_specaugment",
    f"""
    SELECT clip_id, ok, n_frames, n_mels, feats_md5
    FROM read_parquet('{_AUDIO_SPECAUG_FIXTURE}')
    """,
)
def q57_specaugment(spark, sf_dir):
    """SpecAugment (Park et al. 2019) over the CMVN log-mel features: two
    frequency masks (width <= 8 bands) and two time masks (width <= 10% of
    frames) zeroed per clip — zero IS the post-CMVN per-band mean, so
    masking never shifts the statistics the acoustic model normalizes
    against. Mask geometry is a pure integer function of md5(clip_id || 
    lane): seedless, reproducible per clip (idempotent under retries —
    the property a distributed augmentation pipeline actually needs), and
    uniform across clips. decode -> logmel -> cmvn -> mask fused in ONE
    Arrow pass; shuffle-free narrow map at 10^12 clips.

    Digest-exact value check like q56: the fused manifest scan hashes each
    masked float64 array bit-for-bit; the DuckDB oracle reads the
    committed single-process pass (scripts/make_audio_specaug_fixture.py)."""
    from .operators.audio_ops import specaug_digest_scan

    return specaug_digest_scan(spark, _clips_cache_path(spark, sf_dir))


@register(
    "q58_rollup_manifest",
    """
    SELECT lang, source,
           count(*) AS n_docs,
           sum(n_chars) AS sum_chars,
           min(n_chars) AS min_chars,
           max(n_chars) AS max_chars,
           CAST(grouping(lang) AS INT) AS g_lang,
           CAST(grouping(source) AS INT) AS g_source
    FROM documents
    GROUP BY ROLLUP(lang, source)
    """,
)
def q58_rollup_manifest(spark, sf_dir):
    """Hierarchical corpus manifest via ROLLUP: per-(lang, source) stats
    plus per-lang subtotals plus the grand total in ONE aggregation pass —
    the dataset-card rollup a curation pipeline publishes alongside the
    data. GROUPING() flags disambiguate real NULL keys from rollup
    subtotal rows (the standard trap with rollup results). All measures
    are integer (count / sum / min / max of bigint), so both engines agree
    exactly.

    Scale shape: Spark executes ROLLUP as ONE shuffle with partial
    (map-side) aggregation replicating each row into its grouping sets —
    no per-level re-scan of the corpus; at 10^12 docs the alternative
    (three separate groupBys + union) would triple the scan and shuffle
    volume. Catalyst's Expand node feeds the same hash-aggregate as any
    plain groupBy."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.rollup("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            F.grouping("lang").cast("int").alias("g_lang"),
            F.grouping("source").cast("int").alias("g_source"),
        )
    )


@register(
    "q59_skew_profile",
    """
    WITH per_key AS (
      SELECT 'events.user_id' AS key_col, CAST(user_id AS VARCHAR) AS k
      FROM events
      UNION ALL
      SELECT 'documents.lang' AS key_col, lang AS k FROM documents
    ),
    counted AS (
      SELECT key_col, k, count(*) AS cnt FROM per_key GROUP BY key_col, k
    )
    SELECT key_col,
           CAST(length(bin(cnt)) - 1 AS INT) AS log2_bucket,
           count(*) AS n_keys,
           min(cnt) AS min_cnt,
           max(cnt) AS max_cnt,
           sum(cnt) AS sum_rows
    FROM counted
    GROUP BY key_col, 2
    """,
)
def q59_skew_profile(spark, sf_dir):
    """Join-key skew profile: the diagnostic run BEFORE choosing a shuffle
    strategy. Per-key row counts bucketed by floor(log2(count)) — the
    histogram that tells you whether a key column needs salting, an AQE
    skew-join split, or nothing (this repo's hot-key cap in
    operators/pairs.py is the downstream consumer of exactly this
    information). floor(log2) is computed as length(bin(cnt))-1 — pure
    integer bit-length, no libm log, so Spark and DuckDB agree on every
    boundary count (a float log2 disagrees at exact powers of two).

    Scale shape: one partial-aggregated count per key, then a second tiny
    aggregation over ~64 buckets — the same two-phase shape as any
    distinct-count rollup; never collects the key list."""
    events = _t(spark, sf_dir, "events").select(
        F.lit("events.user_id").alias("key_col"),
        F.col("user_id").cast("string").alias("k"),
    )
    langs = _t(spark, sf_dir, "documents").select(
        F.lit("documents.lang").alias("key_col"), F.col("lang").alias("k")
    )
    counted = events.unionByName(langs).groupBy("key_col", "k").agg(
        F.count("*").alias("cnt")
    )
    return (
        counted.groupBy(
            "key_col",
            (F.length(F.bin(F.col("cnt"))) - 1).cast("int").alias("log2_bucket"),
        )
        .agg(
            F.count("*").alias("n_keys"),
            F.min("cnt").alias("min_cnt"),
            F.max("cnt").alias("max_cnt"),
            F.sum("cnt").alias("sum_rows"),
        )
    )


DUP_SPAN_K = 10  # tokens per span (Lee et al. use 50; this corpus's docs are short)


@register(
    "q60_dup_spans",
    rf"""
    WITH {_CORPUS_SQL},
    tok AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w FROM corpus
    ),
    sp AS (
      SELECT doc_id,
             unnest([{{'p': i, 's': w[i+0] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7] || ' ' || w[i+8] || ' ' || w[i+9]}} for i in range(1, len(w) - 8)]) AS z
      FROM tok WHERE len(w) >= 10
    ),
    spans AS (SELECT doc_id, CAST(z.p AS INT) AS pos, md5(z.s) AS h FROM sp),
    shared AS (SELECT h FROM spans GROUP BY h HAVING count(DISTINCT doc_id) >= 2)
    SELECT s.doc_id, s.pos, s.h AS span_md5 FROM spans s JOIN shared USING (h)
    """,
)
def q60_dup_spans(spark, sf_dir):
    """Positional exact-substring dedup (the Lee et al. 2022 'Deduplicating
    Training Data' construction at k=10 tokens): every k-token span whose
    exact text occurs in at least one OTHER document is emitted as
    (doc_id, pos, span_md5) — the removal input for cut-the-span dedup,
    strictly finer than the doc-level flags of q20-q22 (a doc quoting one
    boilerplate paragraph keeps the rest). Within-doc repeats do NOT count
    (count(DISTINCT doc_id) >= 2): the target is cross-document
    contamination, same philosophy as q43.

    Scale shape: spans are never joined doc-to-doc — the shared-span test
    is a groupBy(span-hash) distinct-doc count plus a semi-join back, so a
    boilerplate span in millions of docs costs its row count, never a pair
    blowup (the q34 lesson applied by construction). Tokenization is the
    engine-pinned split(lower(trim(text)), '\\s+') shared with the whole
    MinHash family."""
    docs = _corpus(spark, sf_dir)
    k = DUP_SPAN_K
    w = F.col("_w")
    cnt = F.size(w) - (k - 1)
    zipped = F.arrays_zip(*[F.slice(w, 1 + j, cnt) for j in range(k)])
    spans = (
        docs.withColumn("_w", F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
        .filter(F.size(w) >= k)
        .select("doc_id", F.posexplode(zipped).alias("_p", "_z"))
        .select(
            "doc_id",
            (F.col("_p") + 1).cast("int").alias("pos"),
            F.md5(
                F.concat_ws(" ", *[F.col("_z").getField(str(j)) for j in range(k)])
            ).alias("span_md5"),
        )
        # spans feed the shared-hash rollup AND the emit join; without the
        # checkpoint the zip+md5 explode re-executes for both consumers
        .localCheckpoint(eager=True)
    )
    shared = (
        spans.groupBy("span_md5")
        .agg(F.countDistinct("doc_id").alias("_nd"))
        .filter(F.col("_nd") >= 2)
        .select("span_md5")
    )
    return spans.join(shared, "span_md5").select("doc_id", "pos", "span_md5")


@register(
    "q61_cut_dup_spans",
    rf"""
    WITH {_CORPUS_SQL},
    tok AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w FROM corpus
    ),
    sp AS (
      SELECT doc_id,
             unnest([{{'p': i, 's': w[i+0] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7] || ' ' || w[i+8] || ' ' || w[i+9]}} for i in range(1, len(w) - 8)]) AS z
      FROM tok WHERE len(w) >= 10
    ),
    spans AS (SELECT doc_id, CAST(z.p AS INT) AS pos, md5(z.s) AS h FROM sp),
    keeper AS (
      SELECT h, min(doc_id) AS keep_doc FROM spans GROUP BY h
      HAVING count(DISTINCT doc_id) >= 2
    ),
    removal AS (
      SELECT s.doc_id, s.pos FROM spans s JOIN keeper k USING (h)
      WHERE s.doc_id != k.keep_doc
    ),
    covered AS (
      SELECT DISTINCT doc_id, pos + j AS tokpos
      FROM removal, range(0, 10) t(j)
    ),
    toks AS (
      SELECT doc_id, unnest(w) AS tok, generate_subscripts(w, 1) AS tokpos FROM tok
    ),
    kept AS (
      SELECT t.doc_id, t.tokpos, t.tok
      FROM toks t LEFT JOIN covered c ON c.doc_id = t.doc_id AND c.tokpos = t.tokpos
      WHERE c.doc_id IS NULL
    ),
    agg AS (
      SELECT doc_id,
             coalesce(string_agg(tok, ' ' ORDER BY tokpos), '') AS clean_text,
             count(*) AS n_kept
      FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id,
           coalesce(a.clean_text, '') AS clean_text,
           CAST(coalesce(a.n_kept, 0) AS INT) AS n_kept,
           CAST(len(t.w) - coalesce(a.n_kept, 0) AS INT) AS n_removed
    FROM tok t LEFT JOIN agg a USING (doc_id)
    """,
)
def q61_cut_dup_spans(spark, sf_dir):
    """Substring-removal dedup, the transform q60's flags feed (Lee et al.
    2022 policy): for every cross-document duplicated k-token span, the
    minimum doc_id holds the canonical copy and every OTHER occurrence is
    cut — a token goes if ANY removal span covers it. Planted exact copies
    scrub to empty (their canonical twin keeps everything); a doc quoting
    one boilerplate paragraph loses only that paragraph. Output text is
    whitespace-normalized (the engine-pinned tokenization is lossy by
    design; both engines emit identical normalized text, and n_kept /
    n_removed are integer-exact).

    Scale shape: the only joins are span-hash -> keeper (groupBy + 
    semi-shaped join, never doc-to-doc) and token-position anti-join
    against the covered set, both hash-partitioned by doc_id/hash; the
    ordered re-aggregation is sort_array(collect_list(struct)) per doc —
    one doc's tokens, never a global sort."""
    docs = _corpus(spark, sf_dir)
    k = DUP_SPAN_K
    w = F.col("_w")
    tok = docs.withColumn(
        "_w", F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    ).select("doc_id", "_w")
    cnt = F.size(w) - (k - 1)
    zipped = F.arrays_zip(*[F.slice(w, 1 + j, cnt) for j in range(k)])
    spans = (
        tok.filter(F.size(w) >= k)
        .select("doc_id", F.posexplode(zipped).alias("_p", "_z"))
        .select(
            "doc_id",
            (F.col("_p") + 1).cast("int").alias("pos"),
            F.md5(
                F.concat_ws(" ", *[F.col("_z").getField(str(j)) for j in range(k)])
            ).alias("h"),
        )
    )
    keeper = (
        spans.groupBy("h")
        .agg(
            F.min("doc_id").alias("keep_doc"),
            F.countDistinct("doc_id").alias("_nd"),
        )
        .filter(F.col("_nd") >= 2)
        .select("h", "keep_doc")
    )
    removal = spans.join(keeper, "h").filter(
        F.col("doc_id") != F.col("keep_doc")
    ).select("doc_id", "pos")
    covered = removal.select(
        "doc_id",
        F.explode(F.sequence(F.col("pos"), F.col("pos") + (k - 1))).alias("tokpos"),
    ).distinct()
    toks = tok.select(
        "doc_id", F.posexplode(F.col("_w")).alias("_p", "tok")
    ).select("doc_id", (F.col("_p") + 1).alias("tokpos"), "tok")
    kept = toks.join(covered, ["doc_id", "tokpos"], "left_anti")
    agg = kept.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("tokpos", "tok"))),
                lambda s: s.getField("tok"),
            ),
        ).alias("clean_text"),
        F.count("*").cast("int").alias("n_kept"),
    )
    return (
        tok.select("doc_id", F.size("_w").alias("_n"))
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("int").alias("n_kept"),
            (F.col("_n") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("int")
            .alias("n_removed"),
        )
    )


_CORPUS_ALL_SQL = _CORPUS_SQL.replace("corpus AS (", "corpus_all AS (", 1)


@register(
    "q62_text_curation_report",
    rf"""
    WITH RECURSIVE {_CORPUS_ALL_SQL},
    gm AS (
      SELECT doc_id, text, regexp_split_to_array(trim(text), '\s+') AS w FROM corpus_all
    ),
    g AS (
      SELECT doc_id,
             (len(w) >= 30 AND len(w) <= 1000
              AND 3 * len(w) <= CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT)
              AND CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT) <= 10 * len(w)
              AND len(regexp_extract_all(text, '\b(the|a|and|of|to|in)\b')) >= 2
              AND 20 * len(regexp_extract_all(text, '[^a-z0-9 ]')) <= length(text)
              AND 2 * len(list_distinct(w)) >= len(w)) AS keep
      FROM gm
    ),
    corpus AS (
      SELECT c.doc_id, c.text FROM corpus_all c JOIN g USING (doc_id) WHERE g.keep
    ),
    {_MINHASH_SQL_BODY},
    sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
    inter AS (
      SELECT c.a AS doc_a, c.b AS doc_b, count(*) AS inter
      FROM cand c
      JOIN sh sa ON sa.id = c.a
      JOIN sh sb ON sb.id = c.b AND sb.s = sa.s
      GROUP BY c.a, c.b
    ),
    verified AS (
      SELECT i.doc_a, i.doc_b
      FROM inter i
      JOIN sizes za ON za.id = i.doc_a
      JOIN sizes zb ON zb.id = i.doc_b
      WHERE i.inter::DOUBLE / (za.sz + zb.sz - i.inter)::DOUBLE >= 0.6
    ),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM verified WHERE doc_a != doc_b
      UNION
      SELECT doc_b AS u, doc_a AS v FROM verified WHERE doc_a != doc_b
    ),
    reach(id, lbl) AS (
      SELECT u AS id, u AS lbl FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT e.v AS id, r.lbl FROM reach r JOIN edges e ON e.u = r.id
    ),
    cc AS (SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id),
    final AS (
      SELECT c.doc_id,
             coalesce(cc.cluster_id, c.doc_id) AS group_key,
             (cc.doc_id IS NULL OR cc.cluster_id = c.doc_id) AS survivor
      FROM corpus c LEFT JOIN cc USING (doc_id)
    ),
    assigned AS (
      SELECT doc_id, group_key,
             CASE WHEN md5(CAST(group_key AS VARCHAR)) < 'e6' THEN 'train'
                  WHEN md5(CAST(group_key AS VARCHAR)) < 'f3' THEN 'val'
                  ELSE 'test' END AS split
      FROM final WHERE survivor
    )
    SELECT split, count(*) AS n_docs, CAST(grouping(split) AS INT) AS g_split
    FROM assigned GROUP BY ROLLUP(split)
    """,
)
def q62_text_curation_report(spark, sf_dir):
    """The text-curation flagship: the whole chain composed end-to-end —
    Gopher quality gates (q42) -> MinHash near-dup pairs verified by exact
    Jaccard, computed over KEPT docs only (q21/q22; filtering before the
    widest shuffle is the order a real pipeline runs) -> connected-component
    cluster closure keeping the min-id canonical doc (q52) -> leakage-safe
    split by cluster representative (q53) -> per-split ROLLUP counts (q58).
    Returns the dataset card's headline table: documents per split plus the
    grand total. Each stage is individually oracle-checked elsewhere; this
    query pins that the COMPOSITION agrees too — the DuckDB oracle
    re-derives the entire chain (gates, shingles, bands, verify, recursive
    transitive closure, split, rollup) independently.

    Scale notes: the gates are a codegen narrow map BEFORE the shingle
    explode (cuts the widest shuffle by the drop rate); dedup state is
    O(dup pairs); the final rollup is 4 rows. This is the q27 of the text
    side."""
    from .operators.components import connected_components
    from .operators.dedup import (
        jaccard_verify_sets,
        lsh_candidate_pairs,
        minhash_profiles,
    )
    from .operators.text_analysis import gopher_quality

    corpus_all = _corpus(spark, sf_dir)
    kept = (
        corpus_all.join(
            gopher_quality(corpus_all).select("doc_id", "keep"), "doc_id"
        )
        .filter(F.col("keep"))
        .select("doc_id", "text")
    )
    prof = minhash_profiles(kept, with_sets=True).localCheckpoint(eager=True)
    cand = lsh_candidate_pairs(prof)
    pairs = jaccard_verify_sets(
        prof.select("id", "_ts", "sz"), cand, threshold=0.6
    ).localCheckpoint(eager=True)
    cc = connected_components(pairs, "doc_a", "doc_b").withColumnsRenamed(
        {"id": "doc_id", "component": "cluster_id"}
    )
    final = kept.select("doc_id").join(cc, "doc_id", "left")
    survivor = final.filter(
        F.col("cluster_id").isNull() | (F.col("cluster_id") == F.col("doc_id"))
    )
    gk = F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    h = F.md5(gk.cast("string"))
    assigned = survivor.select(
        F.when(h < "e6", "train").when(h < "f3", "val").otherwise("test").alias("split")
    )
    return assigned.rollup("split").agg(
        F.count("*").alias("n_docs"),
        F.grouping("split").cast("int").alias("g_split"),
    )


_AUDIO_NOISE_FIXTURE = f"{_REPO}/fixtures/oracle_audio_noise_n{_CLIPS_N}.parquet"


@register(
    "q63_noise_augment",
    f"""
    SELECT clip_id, augmented, payload_md5
    FROM read_parquet('{_AUDIO_NOISE_FIXTURE}')
    """,
)
def q63_noise_augment(spark, sf_dir):
    """Additive-noise augmentation at an exact 10 dB target SNR: uniform
    white noise from a counter-based Philox stream keyed by md5(clip_id) —
    deterministic per clip (idempotent under task retries, the same
    property as q57's masks), independent across clips — scaled so
    sig_rms/noise_rms is exactly 10^(1/2), computed libm-free (IEEE sqrt,
    fixed-order _sumsq_tree RMS terms, uniform noise by exact 53-bit
    division). Re-encoded in the clip's OWN codec like q50; silent and
    undecodable rows pass through byte-identical with augmented=false.
    Shuffle-free narrow map at 10^12 clips.

    Digest-exact value check like q50: the fused manifest scan hashes each
    augmented payload worker-side; the DuckDB oracle reads the committed
    single-process pass (scripts/make_audio_noise_fixture.py)."""
    from .operators.audio_ops import noise_digest_scan

    return noise_digest_scan(spark, _clips_cache_path(spark, sf_dir))


_AUDIO_TEMPO_FIXTURE = f"{_REPO}/fixtures/oracle_audio_tempo_n{_CLIPS_N}.parquet"


@register(
    "q64_tempo_perturb",
    f"""
    SELECT clip_id, f_num, f_den, tp_ok, sr_hz, dur_ms, payload_md5
    FROM read_parquet('{_AUDIO_TEMPO_FIXTURE}')
    """,
)
def q64_tempo_perturb(spark, sf_dir):
    """WSOLA tempo perturbation (Verhelst & Roelands 1995) at 0.9x/1.1x:
    time-stretch WITHOUT pitch change — the complement of q54's resampling
    speed change (which shifts pitch with tempo); together they span the
    two standard prosody augmentations. Output frames sit on a fixed Hann
    50%-overlap grid; each takes the input segment whose alignment within
    +/-64 samples best continues the previous one, scored by an EXACT
    int64 cross-correlation over pcm16-quantized frames — the argmax (the
    one decision a float ulp could flip) is host-portable by construction,
    so the committed digests hold everywhere the other audio fixtures do.
    Too-short clips (< 2 frames) pass through with tp_ok=false. One clip
    fans out to two rows inside the Arrow batch; shuffle-free narrow map.

    Digest-exact value check like q54: fused manifest scan hashes each
    stretched payload worker-side vs the committed single-process pass
    (scripts/make_audio_tempo_fixture.py)."""
    from .operators.audio_ops import tempo_digest_scan

    return tempo_digest_scan(spark, _clips_cache_path(spark, sf_dir))


_IMAGE_FP_FIXTURE = f"{_REPO}/fixtures/oracle_image_fp_n{_CLIPS_N}.parquet"
_IMG_MAX_HAMMING = 10  # near-dup verify threshold (of 64 dHash bits)


def _image_fp_sql() -> str:
    """q65 oracle: from the committed single-process dHash fixture, re-derive
    the ENTIRE near-dup computation in SQL — band melt, hot-key cap,
    candidate pair join, exact 64-bit Hamming verify via bit_count(xor)."""
    melts = "\n      UNION ALL\n      ".join(
        f"SELECT id, '{b}#' || b{b} AS k FROM h" for b in range(4)
    )
    dist = " + ".join(f"bit_count(xor(ha.b{b}::BIGINT, hb.b{b}::BIGINT))" for b in range(4))
    return f"""
    WITH h AS (
      SELECT img_id AS id, b0, b1, b2, b3 FROM read_parquet('{_IMAGE_FP_FIXTURE}')
    ),
    melt AS (
      {melts}
    ),
    {_capped_pairs_sql_cte(_default_pair_cap())}
    SELECT c.a AS img_a, c.b AS img_b, ({dist})::INT AS hamming
    FROM cand c
    JOIN h ha ON ha.id = c.a
    JOIN h hb ON hb.id = c.b
    WHERE {dist} <= {_IMG_MAX_HAMMING}
    """


@register("q65_image_neardup", _image_fp_sql())
def q65_image_neardup(spark, sf_dir):
    """Image near-duplicate pairs via perceptual difference hash (dHash):
    decode (pure-python PNG/JPEG/rgb8, worker-side) -> integer-exact 9x8
    luma-grid dHash as four 16-bit bands -> hot-key-capped banded candidate
    join -> exact 64-bit Hamming verify (JVM-native bitwiseXOR + bit_count,
    candidates only). Completes the near-dup matrix across modalities
    (text q21/q22/q26/q31/q60, audio q38/q40, embeddings q25, images HERE).

    Ground truth: every 40th decodable image of the pinned n=4000 table
    also plants a deterministic exposure/levels variant (gain 265/256,
    brightness +4) under an imgaug_ id from the SAME decode pass — planted
    pairs land at Hamming <= 4 with a clean band each (measured max 4),
    unrelated images at >= 21, so the 10-bit verify separates exactly.

    Split oracle like q38/q40: the hash kernel is pinned by the committed
    fixture (scripts/make_image_fp_fixture.py, integer-exact so
    host-portable); banding, cap, pair join and Hamming verify are ALL
    re-derived in DuckDB SQL. At 10^12 images: narrow hash map, capped
    short-key shuffle, verify on candidates only — never all-pairs."""
    from .operators.image_fp import IMG_AUG_EVERY, image_hash_scan, image_neardup_pairs

    hashes = image_hash_scan(
        spark, _images_cache_path(spark, sf_dir), aug_every=IMG_AUG_EVERY
    )
    return image_neardup_pairs(hashes, max_hamming=_IMG_MAX_HAMMING)


def _lm_counts_sql() -> str:
    """q66 oracle: the ENTIRE distributed LM-training computation re-derived
    in DuckDB — lowercase+pad, per-position trigram and bigram-context raw
    hashes, the uint64 xorshift+multiply finalization (emulated exactly with
    HUGEINT modular arithmetic and a 32-bit-split wrapping multiply, since
    SQL has no overflowing 64-bit product), bucket fold, and the count
    aggregation. Bit-for-bit the core/lm._tri_bi_hashes pipeline."""
    from .core.langid import _P1, _P2, _P3

    p1, p2, p3 = int(_P1), int(_P2), int(_P3)
    t64, t32 = 1 << 64, 1 << 32

    def cp(off: int) -> str:
        return f"unicode(substr(t, i + {off}, 1))::HUGEINT"

    tri = f"{cp(0)} * {p1} + {cp(1)} * {p2} + {cp(2)} * {p3}"
    bi = f"{cp(0)} * {p1} + {cp(1)} * {p2}"
    return f"""
    WITH d AS (
      SELECT lang, '  ' || lower(text) || ' ' AS t
      FROM documents
      WHERE text IS NOT NULL AND trim(text) <> '' AND lang IS NOT NULL
    ),
    raw AS (
      SELECT lang, 'tri' AS kind,
             unnest(list_transform(range(1, length(t) - 1), i -> {tri})) AS r
      FROM d
      UNION ALL
      SELECT lang, 'bi' AS kind,
             unnest(list_transform(range(1, length(t) - 1), i -> {bi})) AS r
      FROM d
    ),
    u AS (
      SELECT lang, kind,
             xor((r % {t64}::HUGEINT)::UBIGINT,
                 (r % {t64}::HUGEINT)::UBIGINT >> 31) AS x
      FROM raw
    ),
    f AS (
      SELECT lang, kind,
             ((((x::HUGEINT // {t32}) * {p2} % {t32}) * {t32}
               + (x::HUGEINT % {t32}) * {p2}) % {t64}::HUGEINT
              % 65536)::BIGINT AS bucket
      FROM u
    )
    SELECT lang, kind, bucket, count(*)::BIGINT AS n
    FROM f GROUP BY lang, kind, bucket
    """


@register("q66_lm_train_counts", _lm_counts_sql())
def q66_lm_train_counts(spark, sf_dir):
    """Distributed LM training: build the hashed trigram + bigram-context
    count tables that core/lm.PerplexityModel scores with, from the
    documents corpus — the engine trains its own quality models.

    Scale shape: the Arrow-batched map emits PER-BATCH PARTIAL counts
    (one bincount per (lang, kind) in the batch), bounding shuffle volume
    at langs x 2 x 65,536 rows per batch regardless of corpus size, ahead
    of ONE (lang, kind, bucket) hash aggregation. Counts are integers, so
    the distributed sum is bit-identical to a serial pass and a model
    assembled from the result scores bit-identically
    (tests/test_text_models.py::TestLmTrainCounts).

    Oracle: the FULL computation re-derived in DuckDB SQL, including the
    uint64 xorshift hash finalization emulated with HUGEINT modular
    arithmetic (see _lm_counts_sql)."""
    from .operators.text_analysis import lm_train_counts

    return lm_train_counts(_t(spark, sf_dir, "documents"))


def _langid_counts_sql() -> str:
    """q67 oracle: the distributed langid-training computation re-derived in
    DuckDB — lowercase+pad, order-salted 1/2/3-gram raw hashes, the uint64
    xorshift(29) * P2 xorshift(32) finalization emulated with HUGEINT
    modular arithmetic (32-bit-split wrapping multiply), bucket fold
    (N_BUCKETS=32768), count agg. Bit-for-bit core/langid.ngram_hashes."""
    from .core.langid import N_BUCKETS as LID_BUCKETS
    from .core.langid import _ORDER_SALT, _P1, _P2, _P3

    p1, p2, p3, salt = int(_P1), int(_P2), int(_P3), int(_ORDER_SALT)
    t64, t32 = 1 << 64, 1 << 32

    def cp(off: int) -> str:
        return f"unicode(substr(t, i + {off}, 1))::HUGEINT"

    uni = f"{cp(0)} * {p1}"
    bi = f"{cp(0)} * {p1} + {cp(1)} * {p2} + {salt}"
    tri = f"{cp(0)} * {p1} + {cp(1)} * {p2} + {cp(2)} * {p3} + 2 * {salt}::HUGEINT"
    return f"""
    WITH d AS (
      SELECT lang, ' ' || lower(text) || ' ' AS t
      FROM documents
      WHERE text IS NOT NULL AND trim(text) <> '' AND lang IS NOT NULL
    ),
    raw AS (
      SELECT lang, unnest(list_transform(range(1, length(t) + 1), i -> {uni})) AS r FROM d
      UNION ALL
      SELECT lang, unnest(list_transform(range(1, length(t)), i -> {bi})) FROM d
      UNION ALL
      SELECT lang, unnest(list_transform(range(1, length(t) - 1), i -> {tri})) FROM d
    ),
    x1 AS (
      SELECT lang, xor((r % {t64}::HUGEINT)::UBIGINT,
                       (r % {t64}::HUGEINT)::UBIGINT >> 29) AS x
      FROM raw
    ),
    m AS (
      SELECT lang,
             ((((x::HUGEINT // {t32}) * {p2} % {t32}) * {t32}
               + (x::HUGEINT % {t32}) * {p2}) % {t64}::HUGEINT)::UBIGINT AS y
      FROM x1
    )
    SELECT lang, (xor(y, y >> 32) % {LID_BUCKETS})::BIGINT AS bucket,
           count(*)::BIGINT AS n
    FROM m GROUP BY lang, bucket
    """


@register("q67_langid_train_counts", _langid_counts_sql())
def q67_langid_train_counts(spark, sf_dir):
    """Distributed langid training: build the hashed 1/2/3-gram count table
    core/langid.LangIdModel scores with, from the documents corpus — q66's
    companion; together they train BOTH frozen quality models the curation
    chain applies, so the full model lifecycle (train -> freeze -> score)
    runs on the engine.

    Same scale shape as q66: per-batch partial bincounts bound the shuffle
    at langs x 32,768 rows per batch ahead of ONE hash aggregation; integer
    counts make the distributed sum bit-identical to a serial pass, and a
    LangIdModel assembled from the result predicts bit-identically
    (tests/test_text_models.py::TestLangidTrainCounts). Oracle: the FULL
    computation re-derived in DuckDB SQL (see _langid_counts_sql)."""
    from .operators.text_analysis import langid_train_counts

    return langid_train_counts(_t(spark, sf_dir, "documents"))


@register(
    "q68_ppl_band_calibration",
    f"""
    SELECT lang,
           count(*)::BIGINT AS n_scored,
           min(ppl) AS min_ppl,
           max(ppl) AS max_ppl,
           min(ppl) * 0.35 AS band_lo,
           max(ppl) * 2.50 AS band_hi
    FROM read_parquet('{_ORACLE_FIXTURE}')
    WHERE lang IS NOT NULL AND isfinite(ppl)
    GROUP BY lang
    """,
)
def q68_ppl_band_calibration(spark, sf_dir):
    """Perplexity keep-band calibration from corpus quantiles: score every
    clip's transcript under its detected language's LM (the label kernel's
    langid+ppl tail, _clips_labels), then derive per-language keep bands as
    lo = min(ppl) * 0.35 / hi = max(ppl) * 2.50 — the exact held-out
    calibration rule core/lm.py freezes at train time (_BAND_LO/HI_FACTOR),
    recomputed distributed over a real corpus. With q66/q67 (distributed
    model training) this closes the full model lifecycle on the engine:
    train counts -> assemble -> calibrate bands -> score/filter.

    At 10^12 clips: the scoring pass is the shared fused scan; calibration
    is one tiny per-lang aggregate (map-side combinable min/max/count).

    Oracle: aggregates the committed independent single-process labels
    fixture (the q27 pattern) — the min/max/factor arithmetic re-derived
    in SQL; per-row ppl equality is pinned by test_pipeline.py."""
    scored = _clips_labels(spark, sf_dir)
    inf = F.lit(float("inf"))
    return (
        scored.filter(F.col("lang").isNotNull() & (F.col("ppl") < inf))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_scored"),
            F.min("ppl").alias("min_ppl"),
            F.max("ppl").alias("max_ppl"),
            (F.min("ppl") * F.lit(0.35)).alias("band_lo"),
            (F.max("ppl") * F.lit(2.50)).alias("band_hi"),
        )
    )


def _kmv_sql() -> str:
    from .operators.sketches import kmv_sql

    return kmv_sql("documents", "text", "lang")


@register("q69_kmv_distinct", _kmv_sql())
def q69_kmv_distinct(spark, sf_dir):
    """KMV (k-minimum-values) distinct-content cardinality per language —
    the dedup-planning statistic ("how much unique text is in this
    bucket?") as a deterministic MERGEABLE sketch instead of a full
    distinct: keep the k=64 smallest md5 values per group; estimate
    D = (k-1) * 2^60 / v_k. Unlike HLL (approx_count_distinct), KMV over
    md5 is exactly reproducible in any engine, so the sketch itself is
    value-checked against DuckDB — determinism AND mergeability
    (union = merge + re-trim), the properties a 10^12-row planner needs.

    Scale shape: per-Arrow-batch bounded partial (k smallest distinct per
    group per batch) -> the final per-group selection sees batches x k
    candidates, never the full distinct set; the n_exact comparison column
    is the only full shuffle and exists to exhibit sketch accuracy (drop
    it at scale). Oracle: the ENTIRE computation re-derived in SQL incl.
    the hex->int parse (operators/sketches.kmv_sql)."""
    from .operators.sketches import kmv_distinct

    return kmv_distinct(_t(spark, sf_dir, "documents"), key="text", group="lang")


_VOCAB_K = 400


@register(
    "q70_vocab_topk",
    rf"""
    WITH tok AS (
      SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
      FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
    ),
    cnt AS (SELECT token, count(*)::BIGINT AS n FROM tok WHERE token <> '' GROUP BY token)
    SELECT row_number() OVER (ORDER BY n DESC, token) AS rank, token, n
    FROM cnt ORDER BY n DESC, token LIMIT {_VOCAB_K}
    """,
)
def q70_vocab_topk(spark, sf_dir):
    """Tokenizer vocabulary construction: top-K whitespace tokens by corpus
    frequency with deterministic ranks (ties broken by token — a total
    order, so the vocab is reproducible bit-for-bit run to run). The
    engine-pinned tokenization is shared with the MinHash/token-stats
    family (split(trim(text), '\\s+')).

    Scale shape: groupBy(token) is a map-side-combinable count (Zipf-heavy
    keys combine before the shuffle); the global top-K runs as
    TakeOrderedAndProject (per-partition heads merged on the driver-side
    limit), so no reducer ever sees the full vocabulary; the final rank
    window orders K rows, not the corpus."""
    from .operators.text_analysis import tokens_col

    docs = _t(spark, sf_dir, "documents")
    tok = (
        docs.filter(F.col("text").isNotNull() & (F.trim("text") != ""))
        .select(F.explode(tokens_col(F.col("text"))).alias("token"))
        .filter(F.col("token") != "")
    )
    cnt = tok.groupBy("token").agg(F.count("*").alias("n"))
    topk = cnt.orderBy(F.desc("n"), F.asc("token")).limit(_VOCAB_K)
    w = Window.orderBy(F.desc("n"), F.asc("token"))
    return topk.select(F.row_number().over(w).alias("rank"), "token", "n")


_AUDIO_REVERB_FIXTURE = f"{_REPO}/fixtures/oracle_audio_reverb_n{_CLIPS_N}.parquet"


@register(
    "q71_reverb_augment",
    f"""
    SELECT clip_id, augmented, payload_md5
    FROM read_parquet('{_AUDIO_REVERB_FIXTURE}')
    """,
)
def q71_reverb_augment(spark, sf_dir):
    """Reverberation augmentation: convolve each clip with a deterministic
    synthetic room impulse response (direct path + six signed early
    reflections + exponentially decaying tail, all from a Philox stream
    keyed by md5(clip_id) — idempotent under task retries, independent
    across clips; energy-normalized so loudness is comparable) — the third
    standard robustness augmentation beside additive noise (q63) and the
    prosody perturbations (q54/q64). Re-encoded in the clip's OWN codec;
    undecodable rows pass through byte-identical with augmented=false.
    Shuffle-free narrow map at 10^12 clips.

    Digest-exact value check like q63: the fused manifest scan hashes each
    reverberated payload worker-side; the DuckDB oracle reads the committed
    single-process pass (scripts/make_audio_reverb_fixture.py). The
    convolution runs through the same deterministic pocketfft the q37/q38
    fixtures already pin."""
    from .operators.audio_ops import reverb_digest_scan

    return reverb_digest_scan(spark, _clips_cache_path(spark, sf_dir))


def _kmeans_sql_ctes(src: str, k: int, iters: int, dims: int = 64) -> str:
    """CTE chain re-deriving operators/clustering.kmeans_assign in DuckDB
    over a `{src}` relation with (vec_id, embedding): lattice quantization,
    seedless md5 init, `iters` unrolled Lloyd rounds (assignment with
    lowest-cid tie-break; per-dim integer floor-mean updates; empty
    clusters keep their centroid), ending in CTE `afin(vec_id, cluster,
    dist)`. Every value is integer-exact, so the mirror is bit-for-bit."""
    dist = (
        "list_sum(list_transform(range(1, {d}), "
        "i -> (p.xq[i] - c.c[i]) * (p.xq[i] - c.c[i])))".format(d=dims + 1)
    )
    parts = [
        f"""pts AS (
      SELECT vec_id,
             list_transform({src}.embedding,
                            v -> floor((v::DOUBLE + 1.0) * 65536)::BIGINT) AS xq
      FROM {src}
    ),
    rk AS (
      SELECT vec_id, xq,
             row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS r
      FROM pts
    ),
    c0 AS (SELECT (r - 1)::INT AS cid, xq AS c FROM rk WHERE r <= {k})"""
    ]
    for t in range(iters):
        parts.append(
            f"""d{t} AS (
      SELECT p.vec_id, c.cid, {dist} AS dist FROM pts p CROSS JOIN c{t} c
    ),
    a{t} AS (
      SELECT d.vec_id, min(d.cid) AS cluster
      FROM d{t} d
      JOIN (SELECT vec_id, min(dist) AS md FROM d{t} GROUP BY vec_id) m
        ON m.vec_id = d.vec_id AND d.dist = m.md
      GROUP BY d.vec_id
    ),
    u{t} AS (
      SELECT a.cluster AS cid, t.i,
             (sum(p.xq[t.i]) // count(*))::BIGINT AS cv
      FROM a{t} a
      JOIN pts p ON p.vec_id = a.vec_id
      CROSS JOIN range(1, {dims + 1}) t(i)
      GROUP BY a.cluster, t.i
    ),
    c{t + 1} AS (
      SELECT c.cid, coalesce(uu.c2, c.c) AS c
      FROM c{t} c
      LEFT JOIN (SELECT cid, list(cv ORDER BY i) AS c2 FROM u{t} GROUP BY cid) uu
        ON uu.cid = c.cid
    )"""
        )
    parts.append(
        f"""dfin AS (
      SELECT p.vec_id, c.cid, {dist} AS dist FROM pts p CROSS JOIN c{iters} c
    ),
    afin AS (
      SELECT d.vec_id, min(d.cid)::INT AS cluster, min(m.md)::BIGINT AS dist
      FROM dfin d
      JOIN (SELECT vec_id, min(dist) AS md FROM dfin GROUP BY vec_id) m
        ON m.vec_id = d.vec_id AND d.dist = m.md
      GROUP BY d.vec_id
    )"""
    )
    return ",\n    ".join(parts)


@register(
    "q73_kmeans_clusters",
    f"""
    WITH {_kmeans_sql_ctes("embeddings", 10, 3)}
    SELECT vec_id, cluster, dist FROM afin
    """,
)
def q73_kmeans_clusters(spark, sf_dir):
    """Distributed k-means (Lloyd's, k=10, 3 rounds) on the embeddings
    table — an ITERATIVE ML algorithm as DataFrame ops under the same
    value-check discipline as the relational operators. Integer-exact end
    to end: embeddings quantized to a 2^16 lattice (all quantization steps
    are exact float ops), distances are int64 sums (order-free), centroid
    updates are integer floor-means, ties break to the lowest centroid id,
    and the seedless md5 init is the q45 construction — so the DuckDB
    oracle re-derives the ENTIRE iteration bit-for-bit (no float reduction
    anywhere, nothing to drift).

    Scale shape: assignment is a shuffle-free narrow map against k
    broadcast centroids; each update is ONE map-side-combinable
    aggregation; driver traffic is k x dims ints per round (bounded
    metadata). dist (exact distance to the final centroid) doubles as the
    per-row quality signal and pins the centroid values through the value
    check."""
    from .operators.clustering import kmeans_assign

    return kmeans_assign(_t(spark, sf_dir, "embeddings"))


_SEMDEDUP_TAU = 1_000_000_000  # squared lattice units; planted <= ~3e5, unrelated >= ~4.4e9


@register(
    "q74_semdedup_pairs",
    f"""
    WITH corpus AS (
      SELECT vec_id, embedding::DOUBLE[] AS embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 10000 AS vec_id,
             list_transform(embedding, v -> v::DOUBLE + 0.001) AS embedding
      FROM embeddings WHERE vec_id < 20
    ),
    {_kmeans_sql_ctes("corpus", 10, 3)}
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           list_sum(list_transform(range(1, 65),
                    i -> (pa.xq[i] - pb.xq[i]) * (pa.xq[i] - pb.xq[i])))::BIGINT
             AS sq_dist
    FROM afin a
    JOIN afin b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
    JOIN pts pa ON pa.vec_id = a.vec_id
    JOIN pts pb ON pb.vec_id = b.vec_id
    WHERE list_sum(list_transform(range(1, 65),
                   i -> (pa.xq[i] - pb.xq[i]) * (pa.xq[i] - pb.xq[i])))
          <= {_SEMDEDUP_TAU}
    """,
)
def q74_semdedup_pairs(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): semantic near-duplicate pairs searched
    ONLY within a k-means cluster — the cluster assignment bounds the pair
    join the way LSH bands bound the text/audio dedup joins (never
    all-pairs). Corpus salted with 20 planted near-duplicates (every
    dimension shifted +0.001, vec_id + 10000 — the q25 construction made
    NEAR instead of exact); all 20 co-cluster with their source and land
    at lattice distance <= ~3e5 vs >= ~4.4e9 for unrelated same-cluster
    vectors, so tau = 1e9 recovers exactly the planted set.

    Oracle: the FULL computation — salting, quantization, every k-means
    round, the cluster-bounded pair join and the exact integer distance
    verify — re-derived in DuckDB SQL."""
    from .operators.clustering import semantic_dup_pairs

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform("embedding", lambda v: v.cast("double") + F.lit(0.001)).alias(
            "embedding"
        ),
    )
    base = emb.select(
        "vec_id",
        F.transform("embedding", lambda v: v.cast("double")).alias("embedding"),
    )
    return semantic_dup_pairs(base.unionByName(planted), tau=_SEMDEDUP_TAU)


_BPE_MERGES_N = 24
_BPE_FIXTURE = f"{_REPO}/fixtures/oracle_bpe_n{_CLIPS_N}_m{_BPE_MERGES_N}.parquet"


@register(
    "q75_bpe_train",
    f"""
    SELECT "rank", "left", "right", pair_count
    FROM read_parquet('{_BPE_FIXTURE}')
    """,
)
def q75_bpe_train(spark, sf_dir):
    """Distributed BPE tokenizer training over the pinned clips'
    transcripts — the engine's third trained artifact beside the langid
    (q67) and LM (q66) count tables, completing the tokenizer half of the
    training-data story (q70 built the word vocabulary; THIS learns the
    subword merges).

    Distributed shape: ONE corpus pass builds the word-frequency table
    (10^12 docs collapse to a bounded distinct-word table), then every
    merge round runs on that table only — native arrays_zip pair counting
    (one aggregation), one collected argmax row (total-order tie-break:
    count desc, lexicographically smallest pair), one Arrow-batched
    rewrite via the shared core/bpe.merge_seq kernel, lineage flattened
    per round. Pure string/integer computation — nothing to drift.

    Oracle: the committed single-process reference training run
    (scripts/make_bpe_fixture.py over core/bpe.bpe_train — an independent
    serial implementation of the same algorithm); the distributed trainer
    must reproduce it merge-for-merge, count-for-count."""
    from .operators.bpe_train import bpe_merges_df

    clips = spark.read.parquet(_clips_cache_path(spark, sf_dir))
    return bpe_merges_df(clips.select(F.col("transcript").alias("text")), _BPE_MERGES_N)


_BPE_ENCODE_FIXTURE = (
    f"{_REPO}/fixtures/oracle_bpe_encode_n{_CLIPS_N}_m{_BPE_MERGES_N}.parquet"
)


@register(
    "q76_bpe_encode",
    f"""
    SELECT "rank", token, n FROM read_parquet('{_BPE_ENCODE_FIXTURE}')
    """,
)
def q76_bpe_encode(spark, sf_dir):
    """BPE encode — the train -> apply loop closed: tokenize the corpus
    with the q75-trained merge table (rank-order application, the standard
    BPE encoder) and emit the top-50 subword tokens by frequency under a
    deterministic total order.

    Shape: encoding runs per DISTINCT word over the bounded word-frequency
    table (one Arrow-batched narrow map — the corpus itself is touched
    only by the word-count pass), with the merge list captured as a
    broadcast-sized constant (the q73 centroid shape); then one
    map-side-combinable count and the q70 top-K. The merge table is q75's
    independently verified artifact, read from the committed fixture so
    the two queries stay modular (train | apply).

    Oracle: the committed single-process encode+count pass
    (scripts/make_bpe_encode_fixture.py) over the same merges — pure
    string/integer computation."""
    import pandas as pd

    from .operators.bpe_train import bpe_encode_counts

    merges_fx = pd.read_parquet(_BPE_FIXTURE)
    merges = [(r["left"], r["right"]) for _, r in merges_fx.iterrows()]
    clips = spark.read.parquet(_clips_cache_path(spark, sf_dir))
    return bpe_encode_counts(
        clips.select(F.col("transcript").alias("text")), merges, top=50
    )


@register(
    "q77_vocab_coverage",
    rf"""
    WITH tok AS (
      SELECT lang, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
      FROM documents
      WHERE text IS NOT NULL AND trim(text) <> '' AND lang IS NOT NULL
    ),
    toks AS (SELECT lang, token FROM tok WHERE token <> ''),
    cnt AS (SELECT token, count(*)::BIGINT AS n FROM toks GROUP BY token),
    vocab AS (
      SELECT token FROM cnt ORDER BY n DESC, token LIMIT {_VOCAB_K}
    )
    SELECT t.lang,
           count(*)::BIGINT AS n_tokens,
           sum(CASE WHEN v.token IS NULL THEN 0 ELSE 1 END)::BIGINT AS n_covered,
           sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov
    FROM toks t LEFT JOIN vocab v ON v.token = t.token
    GROUP BY t.lang
    """,
)
def q77_vocab_coverage(spark, sf_dir):
    """Vocabulary coverage audit: per-language token counts split into
    covered-by-vocab vs out-of-vocabulary under the q70 top-K vocabulary —
    the acceptance check a tokenizer vocab must pass before a training run
    commits to it (low-resource languages are exactly where a
    frequency-ranked vocab silently under-covers; this emits the number
    that decision needs, all-integer).

    Shape: the vocab is a K-row broadcast side; coverage is one broadcast
    left join + one map-side-combinable aggregation over the token stream —
    no extra shuffle beyond the count that built the vocab."""
    from .operators.text_analysis import tokens_col

    docs = _t(spark, sf_dir, "documents")
    toks = (
        docs.filter(
            F.col("text").isNotNull() & (F.trim("text") != "") & F.col("lang").isNotNull()
        )
        .select("lang", F.explode(tokens_col(F.col("text"))).alias("token"))
        .filter(F.col("token") != "")
    )
    vocab = (
        toks.groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(_VOCAB_K)
        .select("token", F.lit(True).alias("_inv"))
    )
    return (
        toks.join(F.broadcast(vocab), "token", "left")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.col("_inv").isNotNull().cast("long")).alias("n_covered"),
            F.sum(F.col("_inv").isNull().cast("long")).alias("n_oov"),
        )
    )


_AUDIO_TRANSCODE_FIXTURE = f"{_REPO}/fixtures/oracle_audio_transcode_n{_CLIPS_N}.parquet"


@register(
    "q78_transcode_normalize",
    f"""
    SELECT clip_id, codec_out, transcoded, payload_md5
    FROM read_parquet('{_AUDIO_TRANSCODE_FIXTURE}')
    """,
)
def q78_transcode_normalize(spark, sf_dir):
    """Codec normalization: decode whatever arrives (pcm16/pcm8/float32/
    mulaw/alaw) and re-encode in ONE canonical codec (pcm16) — the
    ingest-side stage that gives every downstream operator uniform
    samples. Rows already in the target codec pass through BYTE-IDENTICAL
    (no lossy decode->re-encode round trip); undecodable rows pass through
    flagged. Shuffle-free narrow map at 10^12 clips.

    Digest-exact value check like q50/q63: the fused manifest scan hashes
    each normalized payload worker-side; the DuckDB oracle reads the
    committed single-process pass (scripts/make_audio_transcode_fixture.py
    — pure integer/quantization computation, host-portable)."""
    from .operators.audio_ops import transcode_digest_scan

    return transcode_digest_scan(spark, _clips_cache_path(spark, sf_dir))


_IMAGE_THUMB_FIXTURE = f"{_REPO}/fixtures/oracle_image_thumb_n{_CLIPS_N}.parquet"


@register(
    "q79_image_thumbnails",
    f"""
    SELECT img_id, fmt, thumb_ok, thumb_md5
    FROM read_parquet('{_IMAGE_THUMB_FIXTURE}')
    """,
)
def q79_image_thumbnails(spark, sf_dir):
    """Image thumbnail derivation: decode (rgb8/PNG/JPEG via the shared
    pure-python codecs) then nearest-neighbor resize to a pinned 16x12
    geometry — the preview/feature-extraction resize every multimodal
    training pipeline carries, now oracle-checked like the decode lane
    (q39). Integer index arithmetic only, so digests are host-portable;
    corrupt streams flag thumb_ok=false rather than crash the task.
    Shuffle-free narrow map at 10^12 images.

    Digest-exact value check: the fused manifest scan decodes and resizes
    worker-side (bytes never in the JVM) and hashes each thumbnail; the
    DuckDB oracle reads the committed single-process pass
    (scripts/make_image_thumb_fixture.py)."""
    from .operators.multimodal import thumbnail_digest_scan

    return thumbnail_digest_scan(spark, _images_cache_path(spark, sf_dir))


_DECON_NUM, _DECON_DEN = 30, 100  # eval-containment threshold num/den
_DECON_EVAL_DF_CAP = 10  # drop keys shared by > this many eval clips
_DECON_EVAL_EVERY = 40  # eval suite = plant originals (== FP_AUG_EVERY)


@register(
    "q80_eval_decontamination",
    rf"""
    WITH keys AS (
      SELECT clip_id AS id, fp_key AS k FROM read_parquet('{_AUDIO_FP_FIXTURE}')
    ),
    ev AS (
      SELECT DISTINCT id AS eid FROM keys
      WHERE id LIKE 'clip_%'
        AND CAST(string_split(id, '_')[2] AS INTEGER) % {_DECON_EVAL_EVERY} = 0
    ),
    evk AS (SELECT e.eid, k.k FROM keys k JOIN ev e ON e.eid = k.id),
    evdf AS (SELECT k, count(DISTINCT eid) AS ec FROM evk GROUP BY k),
    evk2 AS (
      SELECT v.eid, v.k FROM evk v
      JOIN evdf d ON d.k = v.k AND d.ec <= {_DECON_EVAL_DF_CAP}
    ),
    esz AS (SELECT eid, count(*) AS sz FROM evk2 GROUP BY eid),
    inter AS (
      SELECT t.id AS tid, v.eid, count(*) AS n_shared
      FROM keys t JOIN evk2 v ON v.k = t.k
      WHERE t.id <> v.eid
      GROUP BY t.id, v.eid
    )
    SELECT i.tid AS clip_id, count(*) AS n_eval_hits,
           CAST(max(i.n_shared) AS BIGINT) AS max_shared
    FROM inter i JOIN esz s ON s.eid = i.eid
    WHERE {_DECON_DEN} * i.n_shared >= {_DECON_NUM} * s.sz
    GROUP BY i.tid
    """,
)
def q80_eval_decontamination(spark, sf_dir):
    """Eval-suite decontamination over audio fingerprints: flag every
    corpus clip whose Haitsma-Kalker key set contains >= 30% of some eval
    clip's keys — the audio twin of the q43 text-contamination probe, and
    the decontamination gate every training pipeline runs before a release
    (an eval clip that leaked into the training corpus, at any gain or
    re-quantization, must be caught and dropped).

    Input is the SAME pinned fingerprint subset as q38 (every 4th clip,
    plus planted gain+requant near-duplicates under aug_ ids); the eval
    suite is the plant originals (index % 40 == 0, 97 decodable clips), so
    the planted aug_ copies are the known leaked members the query must
    recover — all 97 flag, zero false positives at num/den = 30/100.
    Asymmetric exact-integer containment (den*|Kt n Ke| >= num*|Ke|), not
    Jaccard: a long training clip swallowing a short eval clip must flag.

    Split oracle like q38: the committed key fixture pins the fingerprint
    math; the DuckDB SQL re-derives the ENTIRE distributed part — eval key
    selection, the eval-side document-frequency cap, candidate join,
    containment verify, per-clip rollup — from those keys. At 10^12 clips
    the eval suite is bounded so its keys BROADCAST: candidate generation
    is a map-side join over the corpus key stream (no corpus shuffle, no
    self-join, no cap machinery — per-key fanout is bounded by the eval
    suite); only partial-aggregated hit counts shuffle
    (operators/audio_fp.py decontaminate_by_eval_keys)."""
    from .operators.audio_fp import FP_AUG_EVERY, decontaminate_by_eval_keys

    # the oracle SQL selects the eval suite with a literal modulus; fail
    # loudly here if the plant cadence is ever retuned without it
    assert FP_AUG_EVERY == _DECON_EVAL_EVERY, (FP_AUG_EVERY, _DECON_EVAL_EVERY)
    # session-persisted key table shared with q38 — ONE fingerprint scan
    keys = _fp_keys_cached(spark, sf_dir)
    eval_ids = keys.select("clip_id").distinct().filter(
        F.col("clip_id").startswith("clip_")
        & (F.split("clip_id", "_").getItem(1).cast("int") % FP_AUG_EVERY == 0)
    )
    out = decontaminate_by_eval_keys(
        keys, eval_ids, num=_DECON_NUM, den=_DECON_DEN,
        eval_df_cap=_DECON_EVAL_DF_CAP,
    ).localCheckpoint(eager=True)
    return out


_HIST_BIN_SAMPLES = 8000  # decoded-length histogram bin width (samples)


@register(
    "q81_duration_histogram",
    f"""
    WITH src AS (
      SELECT codec, n_samples FROM read_parquet('{_ORACLE_FIXTURE}')
      WHERE decode_ok AND n_samples IS NOT NULL
    ),
    h AS (
      SELECT codec AS grp, CAST(floor(n_samples / {_HIST_BIN_SAMPLES}) AS BIGINT) AS bin,
             count(*) AS n
      FROM src GROUP BY 1, 2
    ),
    c AS (
      SELECT grp, bin, n,
             sum(n) OVER (PARTITION BY grp ORDER BY bin) AS cum_n,
             sum(n) OVER (PARTITION BY grp) AS total
      FROM h
    )
    SELECT grp, bin, n, CAST(cum_n AS BIGINT) AS cum_n, CAST(total AS BIGINT) AS total,
           (100 * cum_n >= 50 * total AND 100 * (cum_n - n) < 50 * total) AS is_p50,
           (100 * cum_n >= 90 * total AND 100 * (cum_n - n) < 90 * total) AS is_p90,
           (100 * cum_n >= 99 * total AND 100 * (cum_n - n) < 99 * total) AS is_p99
    FROM c
    """,
)
def q81_duration_histogram(spark, sf_dir):
    """Per-codec decoded-length distribution manifest: fixed 8000-sample
    bins over the decoded PCM length, cumulative counts, and exact
    integer-logic percentile-bin markers (p50/p90/p99) — the distribution
    profile a corpus release ships per codec/language/source, and the
    deterministic alternative to approx_percentile (whose sketch never
    value-matches across engines; same argument as q69's KMV).

    The DuckDB oracle runs the identical computation over the committed
    single-process pipeline fixture (oracle_labels_n4000.parquet), so the
    value check covers the decode (n_samples), the binning, the window
    logic, and the percentile markers. Spark side shares the fused
    scan+decode pass with q27/q28 via the session-persisted post-decode
    frame. At 10^12 clips: ONE map-side-combined groupBy down to
    (codecs x bins) rows; the windows run on the aggregated bins only
    (operators/sketches.py binned_histogram)."""
    from .operators.sketches import binned_histogram

    post = _clips_post_decode(spark, sf_dir)
    return binned_histogram(
        post.filter(F.col("decode_ok") & F.col("n_samples").isNotNull()),
        value="n_samples",
        group="codec",
        bin_width=_HIST_BIN_SAMPLES,
    )


@register(
    "q82_bloom_store_dedup",
    """
    WITH sig AS (
      SELECT doc_id,
             md5(concat_ws('|', lang, source,
                           CAST(CAST(floor(n_chars / 10) AS BIGINT) AS VARCHAR))) AS h
      FROM documents
    ),
    store AS (SELECT DISTINCT h FROM sig WHERE doc_id % 3 = 0),
    inc AS (SELECT doc_id, h FROM sig WHERE doc_id % 3 <> 0)
    SELECT i.doc_id, i.h
    FROM inc i WHERE NOT EXISTS (SELECT 1 FROM store s WHERE s.h = i.h)
    """,
)
def q82_bloom_store_dedup(spark, sf_dir):
    """Incremental dedup against a seen-signature store through a Bloom
    membership prefilter: incoming docs (doc_id % 3 != 0) keep only rows
    whose content signature (lang|source|length-bucket md5) was never seen
    by the already-processed store (doc_id % 3 == 0).

    The bloom is the 10^12-key answer to "was this key already processed":
    the store collapses to a <=16 Ki-row (word, bits) artifact via ONE
    map-side-combined bit_or groupBy; per-batch membership is k=3
    broadcast probes — JVM-native xxhash64/shift/bitwiseAND inside
    whole-stage codegen, NO shuffle of the batch; only the maybe-members
    (false positives + true duplicates) reach the exact anti-join. Blooms
    have no false negatives, so the composition is VALUE-EQUAL to the
    plain left-anti join — which is exactly what the DuckDB oracle runs
    (NOT EXISTS), value-checking that the probabilistic structure only
    prunes and never decides (operators/bloom.py; equality also asserted
    directly by tests/test_bloom.py)."""
    from .operators.bloom import anti_join_via_bloom

    sig = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(
            F.concat_ws(
                "|",
                F.col("lang"),
                F.col("source"),
                F.floor(F.col("n_chars") / 10).cast("long").cast("string"),
            )
        ).alias("h"),
    )
    store = sig.filter(F.col("doc_id") % 3 == 0).select("h").distinct()
    inc = sig.filter(F.col("doc_id") % 3 != 0)
    return anti_join_via_bloom(inc, store, "h")


_DRIFT_THR_PCT = 4  # flag when |keep-rate delta| between cohorts > 4%


@register(
    "q83_keep_rate_drift",
    f"""
    WITH l AS (
      SELECT lang, keep,
             CAST(string_split(clip_id, '_')[2] AS INTEGER) < 2000 AS cohort_a
      FROM read_parquet('{_ORACLE_FIXTURE}') WHERE lang IS NOT NULL
    ),
    agg AS (
      SELECT lang,
             CAST(sum(CASE WHEN cohort_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(sum(CASE WHEN cohort_a AND keep THEN 1 ELSE 0 END) AS BIGINT) AS keep_a,
             CAST(sum(CASE WHEN NOT cohort_a THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             CAST(sum(CASE WHEN NOT cohort_a AND keep THEN 1 ELSE 0 END) AS BIGINT) AS keep_b
      FROM l GROUP BY lang
    )
    SELECT lang, n_a, keep_a, n_b, keep_b,
           (n_a > 0 AND n_b > 0 AND
            100 * abs(keep_a * n_b - keep_b * n_a) > {_DRIFT_THR_PCT} * n_a * n_b) AS drift
    FROM agg
    """,
)
def q83_keep_rate_drift(spark, sf_dir):
    """Filter-health drift monitor: per-language keep-rate comparison
    between two ingest cohorts (clip index < 2000 vs >= 2000 stands in for
    yesterday's vs today's partition), flagging languages whose keep rate
    moved by more than 4 percentage points — the alarm a production
    curation pipeline wires to its filter-stage metrics (a drifting keep
    rate means the upstream data OR a filter changed; the reference's
    per-stage metrics tables exist for exactly this reading).

    The rate comparison is integer cross-multiplied
    (100*|keep_a*n_b - keep_b*n_a| > thr*n_a*n_b) so every emitted column
    and the flag itself are engine-exact — no float rate ever materializes.
    The DuckDB oracle runs the identical computation over the committed
    pipeline fixture. Spark side shares the session-persisted post-decode
    frame with q27/q28/q81 and runs the langid stage over it; ONE
    map-side-combined groupBy per cohort-conditional sum at any scale."""
    labels = _clips_labels(spark, sf_dir)
    coh = labels.filter(F.col("lang").isNotNull()).withColumn(
        "cohort_a", F.split("clip_id", "_").getItem(1).cast("int") < 2000
    )
    agg = coh.groupBy("lang").agg(
        F.sum(F.col("cohort_a").cast("long")).alias("n_a"),
        F.sum((F.col("cohort_a") & F.col("keep")).cast("long")).alias("keep_a"),
        F.sum((~F.col("cohort_a")).cast("long")).alias("n_b"),
        F.sum(((~F.col("cohort_a")) & F.col("keep")).cast("long")).alias("keep_b"),
    )
    return agg.select(
        "lang", "n_a", "keep_a", "n_b", "keep_b",
        (
            (F.col("n_a") > 0) & (F.col("n_b") > 0)
            & (
                100 * F.abs(F.col("keep_a") * F.col("n_b") - F.col("keep_b") * F.col("n_a"))
                > _DRIFT_THR_PCT * F.col("n_a") * F.col("n_b")
            )
        ).alias("drift"),
    )


_AUDIO_PITCH_FIXTURE = f"{_REPO}/fixtures/oracle_audio_pitch_n{_CLIPS_N}.parquet"


@register(
    "q84_pitch_perturb",
    f"""
    SELECT clip_id, f_num, f_den, ps_ok, sr_hz, dur_ms, payload_md5
    FROM read_parquet('{_AUDIO_PITCH_FIXTURE}')
    """,
)
def q84_pitch_perturb(spark, sf_dir):
    """Pitch shift WITHOUT tempo change at ~+/-2 semitones (9/8 and 8/9):
    the third prosody axis completing the augmentation triad — q54 resample
    (pitch+tempo together), q64 WSOLA (tempo only), q84 (pitch only). The
    classical two-stage composition of the engine's existing kernels:
    Lanczos-resample to den/num length (replayed at the original rate every
    frequency scales by num/den), then WSOLA-stretch by den/num to restore
    the duration without touching the new pitch. Host-portable because the
    only ulp-flippable decision — the WSOLA alignment argmax — is an exact
    int64 cross-correlation and the sinc stage is a fixed-order sum.
    Too-short clips pass through with ps_ok=false. One clip fans out to
    two rows inside the Arrow batch; shuffle-free narrow map at 10^12
    clips.

    Digest-exact value check like q64: fused manifest scan hashes each
    shifted payload worker-side vs the committed single-process pass
    (scripts/make_audio_pitch_fixture.py)."""
    from .operators.audio_ops import pitch_digest_scan

    return pitch_digest_scan(spark, _clips_cache_path(spark, sf_dir))


@register(
    "q85_augment_router",
    f"""
    SELECT clip_id, 'noise' AS aug, augmented AS ok, payload_md5
    FROM read_parquet('{_AUDIO_NOISE_FIXTURE}')
    WHERE CAST(string_split(clip_id, '_')[2] AS INTEGER) % 5 = 0
    UNION ALL
    SELECT clip_id, 'reverb' AS aug, augmented AS ok, payload_md5
    FROM read_parquet('{_AUDIO_REVERB_FIXTURE}')
    WHERE CAST(string_split(clip_id, '_')[2] AS INTEGER) % 5 = 1
    UNION ALL
    SELECT clip_id, 'speed' AS aug, sp_ok AS ok, payload_md5
    FROM read_parquet('{_AUDIO_SPEED_FIXTURE}')
    WHERE CAST(string_split(clip_id, '_')[2] AS INTEGER) % 5 = 2
      AND f_num = 11 AND f_den = 10
    UNION ALL
    SELECT clip_id, 'tempo' AS aug, tp_ok AS ok, payload_md5
    FROM read_parquet('{_AUDIO_TEMPO_FIXTURE}')
    WHERE CAST(string_split(clip_id, '_')[2] AS INTEGER) % 5 = 3
      AND f_num = 11 AND f_den = 10
    UNION ALL
    SELECT clip_id, 'pitch' AS aug, ps_ok AS ok, payload_md5
    FROM read_parquet('{_AUDIO_PITCH_FIXTURE}')
    WHERE CAST(string_split(clip_id, '_')[2] AS INTEGER) % 5 = 4
      AND f_num = 9 AND f_den = 8
    """,
)
def q85_augment_router(spark, sf_dir):
    """Deterministic augmentation-policy router: every clip receives
    exactly ONE of the five augmentation lanes — additive noise (q63),
    reverberation (q71), speed 1.1x (q54), tempo 1.1x (q64), or pitch
    +2 st (q84) — selected per clip, here by datagen index % 5 so the
    oracle can reproduce the routing (augment_route_digest_scan defaults
    to crc32(clip_id) % 5 for arbitrary ids). This is the "augment the corpus
    evenly across policies" pass a training pipeline runs before export:
    one decode per clip, one kernel by route, ONE fused shuffle-free scan
    — never five passes over the bytes.

    The oracle is assembled entirely from the five lanes' OWN committed
    fixtures (union of route-filtered selects) — no new fixture, so this
    query value-checks that the router composes the lanes bit-for-bit with
    their standalone forms (operators/audio_ops.py _aug_route_pdf)."""
    from .operators.audio_ops import augment_route_digest_scan

    return augment_route_digest_scan(
        spark,
        _clips_cache_path(spark, sf_dir),
        route_fn=lambda cid: int(cid.rsplit("_", 1)[1]) % 5,
    )


@register(
    "q86_snapshot_diff",
    """
    WITH oldv AS (
      SELECT doc_id,
             md5(concat_ws('|', text, lang, source,
                 CAST(CASE WHEN doc_id % 5 = 2 THEN n_chars + 1 ELSE n_chars END
                      AS VARCHAR))) AS h
      FROM documents WHERE doc_id % 7 <> 1
    ),
    newv AS (
      SELECT doc_id,
             md5(concat_ws('|', text, lang, source, CAST(n_chars AS VARCHAR))) AS h
      FROM documents WHERE doc_id % 7 <> 3
    )
    SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN n.doc_id IS NULL THEN 'removed'
                ELSE 'changed' END AS status
    FROM oldv o FULL OUTER JOIN newv n ON o.doc_id = n.doc_id
    WHERE o.doc_id IS NULL OR n.doc_id IS NULL OR o.h <> n.h
    """,
)
def q86_snapshot_diff(spark, sf_dir):
    """Snapshot changelog: row-level diff between two versions of a keyed
    corpus table — which keys were added, removed, or content-changed by
    an ingest. The two versions are synthesized deterministically from the
    one documents table so the oracle reproduces them exactly: the old
    snapshot drops doc_id%7==1 (those become 'added') and perturbs n_chars
    for doc_id%5==2 (those become 'changed'); the new snapshot drops
    doc_id%7==3 (those become 'removed').

    The operator (operators/incremental.py snapshot_diff) projects each
    side to (key, md5-of-content) BEFORE the join, so at 10^12 rows the
    full-outer equi-join shuffles 32-byte fingerprints, never payloads,
    and the unchanged majority is pruned by the hash inequality before
    anything downstream sees a row. This is the audit a MERGE-based
    curation pipeline runs between Iceberg snapshots (ref digest-compare
    resume ancestry in the operator docstring)."""
    from .operators.incremental import snapshot_diff

    docs = _t(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 7 != 1).select(
        "doc_id", "text", "lang", "source",
        F.when(F.col("doc_id") % 5 == 2, F.col("n_chars") + 1)
        .otherwise(F.col("n_chars"))
        .alias("n_chars"),
    )
    new = docs.filter(F.col("doc_id") % 7 != 3)
    return snapshot_diff(old, new, "doc_id", ["text", "lang", "source", "n_chars"])


_BUDGET_CHARS = 2000  # per-language corpus-assembly budget (chars)
_DOC_COST_CAP = 160   # per-document contribution cap (the sequence-length cap)


@register(
    "q87_budget_fill",
    f"""
    WITH priced AS (
      SELECT doc_id, lang, least(n_chars, {_DOC_COST_CAP}) AS cost
      FROM documents WHERE n_chars > 0
    ),
    ranked AS (
      SELECT doc_id, lang, cost,
             sum(cost) OVER (PARTITION BY lang ORDER BY cost DESC, doc_id ASC
                             ROWS UNBOUNDED PRECEDING) AS cum
      FROM priced
    )
    SELECT doc_id, lang, cost FROM ranked WHERE cum - cost < {_BUDGET_CHARS}
    """,
)
def q87_budget_fill(spark, sf_dir):
    """Per-language budget fill: assemble a corpus slice by taking the
    costliest documents first (cost DESC, doc_id ASC — a deterministic
    total order) until each language's cumulative budget is reached, where
    a document's cost is its char count capped at the sequence length
    (least(n_chars, 160) — a doc only ever contributes one training
    sequence). A row is kept iff the running total BEFORE it is under
    budget, so the fill may overshoot by at most one document. This is the
    "fill N hours / N tokens per language with the best material" pass a
    training-data pipeline runs at export; the cap is also what makes the
    boundary interesting — every language has a large tied value-group at
    cost=160 that straddles the budget.

    Unlike q45/q48 (which document their skew-safe variant), this query
    IMPLEMENTS the two-phase shape that survives a hot `en` stratum at
    10^12 rows — no per-row window over any full language partition:
      1. ONE map-side-combined groupBy down to (lang, n_chars, cnt);
      2. the prefix-sum window runs on that tiny value table only, and
         integer math (k = min(cnt, (B - cum_before + v - 1) DIV v))
         yields each value-group's exact kept-count;
      3. fully-kept groups pass through a broadcast semi-join (no window
         at all); ONLY the single boundary value-group per language is
         row_number()-ranked, and its partition is that group alone.
    The DuckDB oracle runs the plain one-window form — value-equal by the
    cum-before identity cbv + (i-1)*v — so the check proves the
    decomposition, not just the arithmetic."""
    from .operators.sketches import budget_fill

    docs = _t(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    priced = docs.select(
        "doc_id", "lang",
        F.least(F.col("n_chars"), F.lit(_DOC_COST_CAP)).alias("cost"),
    )
    return budget_fill(priced, group="lang", key="doc_id", cost="cost",
                       budget=_BUDGET_CHARS)


_CMS_HH_THR = 900  # heavy-hitter threshold (token occurrences)


@register(
    "q88_cms_heavy_hitters",
    f"""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    tf AS (SELECT tok, count(*) AS cnt FROM toks WHERE tok <> '' GROUP BY tok),
    g AS (
      SELECT j,
             CAST(concat('0x', substr(md5(concat(tok, '#', CAST(j AS VARCHAR))), 1, 8))
                  AS BIGINT) % 32 AS b,
             tok, cnt
      FROM tf CROSS JOIN range(4) t(j)
    ),
    sketch AS (SELECT j, b, sum(cnt) AS c FROM g GROUP BY j, b),
    est AS (
      SELECT g.tok, min(s.c) AS est_cnt, min(g.cnt) AS true_cnt
      FROM g JOIN sketch s ON g.j = s.j AND g.b = s.b
      GROUP BY g.tok
    )
    SELECT tok, CAST(est_cnt AS BIGINT) AS est_cnt, CAST(true_cnt AS BIGINT) AS true_cnt
    FROM est WHERE est_cnt >= {_CMS_HH_THR}
    """,
)
def q88_cms_heavy_hitters(spark, sf_dir):
    """Token heavy hitters through a CountMin sketch (d=4 rows x w=32
    buckets, deterministic md5 bucketing): the mergeable frequency-sketch
    companion to q69's KMV cardinality sketch — "which tokens dominate
    this corpus" answered with d*w bounded state instead of a full-vocab
    shuffle, the way a 10^12-token pipeline watches its distribution.
    The registered sizing deliberately collides (vocab 31 > w 32 cells
    per row): several emitted rows have est_cnt > true_cnt and four pass
    the threshold only through collisions — the textbook one-sided CMS
    error, value-checked exactly because both engines build the identical
    sketch (DuckDB folds the d-row expansion over exact counts; Spark
    sketches the raw stream — equal by sum-through-groups).

    Scale shape: ONE map-side-combined groupBy down to <=128 cells is the
    only pass over the token stream; the probe joins the DISTINCT
    vocabulary against the broadcast sketch (operators/sketches.py
    cms_sketch / cms_heavy_hitters; merge property pinned by
    tests/test_sketches.py)."""
    from .operators.sketches import cms_heavy_hitters

    toks = (
        _spread(spark, _t(spark, sf_dir, "documents"))
        .select(F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    return cms_heavy_hitters(toks, "tok", threshold=_CMS_HH_THR)


_AUDIO_MIX_FIXTURE = f"{_REPO}/fixtures/oracle_audio_mix_n{_CLIPS_N}.parquet"


@register(
    "q89_overlap_mix",
    f"""
    SELECT clip_id, ovl_id, mixed, payload_md5
    FROM read_parquet('{_AUDIO_MIX_FIXTURE}')
    """,
)
def q89_overlap_mix(spark, sf_dir):
    """Speech-overlap (babble) augmentation at an exact 10 dB target SIR:
    base clip i in [0, N/2) is mixed with overlay clip i + N/2 — the one
    augmentation lane whose input is a PAIR of payloads, so unlike the
    narrow-map lanes (q54/q63/q64/q71/q84) it carries a real equi-join:
    both sides hash-partition on the pair key, the overlay payload
    crosses the wire exactly once, and the mix kernel runs Arrow-batched
    over the joined rows (operators/audio_ops.py mix_overlay_clips). At
    10^12 clips both sides are written bucketed on the pair key (the q82
    store convention) and the join is zero-exchange.

    The kernel (core/resample.py mix_overlay) resamples the overlay to
    the base rate when the rates differ (the engine's own Lanczos sinc),
    fits it to the base length, scales it so rms(base)/rms(overlay) is
    exactly 10^(1/2) (libm-free: IEEE sqrt, fixed-order _sumsq_tree RMS),
    adds, and re-encodes in the BASE clip's codec. Undecodable/silent
    sides pass the base through byte-identical with mixed=false.

    Digest-exact value check like q63: the DuckDB oracle reads the
    committed single-process pass (scripts/make_audio_mix_fixture.py);
    the index pairing is pinned there so any engine reproduces it."""
    from .operators.audio_ops import mix_overlay_clips

    clips = spark.read.parquet(_clips_cache_path(spark, sf_dir))
    half = _CLIPS_N // 2
    idx = F.split(F.col("clip_id"), "_").getItem(1).cast("long")
    base = clips.withColumn("pair_id", idx).filter(F.col("pair_id") < half)
    ovl = (
        clips.withColumn("pair_id", idx - half)
        .filter(F.col("pair_id") >= 0)
        .filter(F.col("pair_id") < half)
    )
    return mix_overlay_clips(base, ovl, on="pair_id", sir_db=10, digest=True)


@register(
    "q90_editdist_neardup",
    rf"""
    WITH {_CORPUS_SQL},
    {_MINHASH_SQL_BODY},
    texts AS (SELECT doc_id, text, length(text) AS tl FROM corpus)
    SELECT c.a AS doc_a, c.b AS doc_b,
           round(1.0 - levenshtein(ta.text, tb.text)::DOUBLE
                       / greatest(ta.tl, tb.tl, 1)::DOUBLE, 4) AS edit_sim
    FROM cand c
    JOIN texts ta ON ta.doc_id = c.a
    JOIN texts tb ON tb.doc_id = c.b
    WHERE 1.0 - levenshtein(ta.text, tb.text)::DOUBLE
                / greatest(ta.tl, tb.tl, 1)::DOUBLE >= 0.8
    """,
)
def q90_editdist_neardup(spark, sf_dir):
    """Character-level edit-distance near-dup verification of LSH
    candidates — the third verify family beside shingle-Jaccard (q22) and
    winnowing (q31), and the only one whose kernel is a single JVM
    built-in: `F.levenshtein` runs inside whole-stage codegen, so the
    verify stage has ZERO Python and no explode/re-aggregation. Candidates
    are the same banded-MinHash, hot-key-capped pairs as q21 (the cap is
    mirrored in the oracle's shared SQL body); the quadratic DP runs only
    on that bounded sliver, never all-pairs. DuckDB's `levenshtein` is the
    same unit-cost character DP, so the oracle is value-exact."""
    from .operators.dedup import editdist_verify, lsh_candidate_pairs, minhash_profiles

    corpus = _corpus(spark, sf_dir)
    cand = lsh_candidate_pairs(minhash_profiles(corpus))
    return editdist_verify(corpus, cand, threshold=0.8)


@register(
    "q91_pps_weighted_sample",
    """
    WITH keyed AS (
      SELECT doc_id, lang,
             CAST(greatest(length(text), 1) AS INT) AS w,
             (CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)::DOUBLE
                / 4294967296.0) / greatest(length(text), 1)::DOUBLE AS key
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, lang, w,
             row_number() OVER (PARTITION BY lang ORDER BY key ASC, doc_id ASC) AS rk
      FROM keyed
    )
    SELECT lang, doc_id, w, CAST(rk AS INT) AS rk FROM ranked WHERE rk <= 20
    """,
)
def q91_pps_weighted_sample(spark, sf_dir):
    """Per-language weighted sample, 20 docs each, inclusion probability
    ~ proportional to text length — sequential Poisson sampling
    [Ohlsson 1998]: rank by key u/w and keep the k smallest. The ln-free
    order-sampling variant is chosen deliberately: the A-ES exponential
    key (u^(1/w)) needs libm `pow`, whose last-ulp behavior differs
    between engines, while this key is md5 + two correctly-rounded IEEE
    divisions — bit-identical in Spark and DuckDB, so the sample itself
    (not a digest of it) is the value check. The companion to q45's
    UNIFORM stratified sample: "sample docs ∝ tokens / clips ∝ duration"
    is how a training-data pipeline balances token budget, not row count.

    Scale (operators/sampling.py pps_sample): unlike q45, the skew story
    is IMPLEMENTED, not documented — a broadcast per-group threshold
    t_g = 4k/sum_w prefilters each stratum to ~4k expected survivors
    map-side BEFORE the window shuffle, and any deficient group (< k
    survivors) falls back to the exact window over that group alone, so
    the result is value-equal to the plain one-window form (which is what
    the oracle runs) by construction. At sf0.01's 500-row strata the
    fallback path does fire for the small languages — the oracle check
    covers both branches."""
    from .operators.sampling import pps_sample

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.greatest(F.length("text"), F.lit(1)).alias("w")
    )
    return pps_sample(
        docs, k=20, group_col="lang", weight_col="w", id_col="doc_id"
    ).select("lang", "doc_id", "w", "rk")


@register(
    "q92_asof_attribution",
    """
    SELECT c.user_id, c.event_id AS click_id,
           extract(epoch FROM c.ts) AS click_ep,
           v.event_id AS view_id,
           extract(epoch FROM v.ts) AS view_ep,
           v.value AS view_value
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON c.user_id = v.user_id AND c.ts >= v.ts
    """,
)
def q92_asof_attribution(spark, sf_dir):
    """As-of (point-in-time) join: attribute each click to the latest
    view by the same user at-or-before it — the operator Spark lacks
    natively (DuckDB/kdb/Pandas have ASOF) and whose naive SQL rewrite is
    a per-key range cross-product. Runs the BUCKETED form
    (operators/asof.py asof_join_bucketed): windows inside (user, day)
    partitions — bounded by bucket width no matter how hot the key — plus
    a tiny per-bucket carry table that closes matches across boundaries,
    value-equal to the plain union+window form (pinned in pytest). The
    oracle is DuckDB's native ASOF LEFT JOIN — a fully independent
    implementation of the same inclusive semantics.

    At 10^12 events: one shuffle per side keyed (user, bucket); no range
    join, no cross product; the carry stage aggregates to one row per
    (user, bucket) before its window, so the skew ceiling is bucket
    width, tunable orthogonally to key heat."""
    from .operators.asof import asof_join_bucketed

    e = _t(spark, sf_dir, "events")
    ep = lambda c: F.col(c).cast("timestamp").cast("double")
    clicks = e.filter(F.col("event_type") == "click").select("user_id", "ts", "event_id")
    views = e.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id", "value"
    )
    out = asof_join_bucketed(
        clicks, views, on="user_id", ts="ts",
        right_cols=["event_id", "value"], tiebreak="event_id",
        bucket_sec=86400,
    )
    return out.select(
        "user_id",
        F.col("event_id").alias("click_id"),
        ep("ts").alias("click_ep"),
        F.col("r_event_id").alias("view_id"),
        F.col("r_ts").cast("timestamp").cast("double").alias("view_ep"),
        F.col("r_value").alias("view_value"),
    )


@register(
    "q93_interval_point_join",
    """
    WITH iv AS (
      SELECT user_id, event_id AS view_id, ts AS vstart,
             ts + to_minutes(CAST(ceil(value) AS BIGINT)) AS vend
      FROM events WHERE event_type = 'view'
    ),
    pt AS (
      SELECT user_id, event_id AS click_id, ts AS cts
      FROM events WHERE event_type = 'click'
    )
    SELECT i.user_id, i.view_id,
           extract(epoch FROM i.vstart) AS view_ep,
           p.click_id,
           extract(epoch FROM p.cts) AS click_ep
    FROM iv i
    JOIN pt p
      ON i.user_id = p.user_id
     AND p.cts >= i.vstart AND p.cts <= i.vend
    """,
)
def q93_interval_point_join(spark, sf_dir):
    """Interval-containment (range) join: every view event opens an
    attribution window [ts, ts + ceil(value) minutes]; emit every click
    by the same user inside it (inclusive both ends). The second
    temporal-join class Spark has no native plan for — Catalyst plans
    `ON key AND ts BETWEEN lo AND hi` as a per-key equi-join with the
    range as a post-filter, quadratic on a hot key.

    Runs operators/asof.py interval_point_join: intervals bucket-explode
    (≤ ceil(490 min / 30 min)+1 = 18 rows each, bounded because window
    length is bounded), points map to exactly ONE bucket, plain equi-join
    on (user, bucket) + exact residual — each qualifying pair produced
    exactly once, no dedup pass. The oracle is DuckDB's own range join
    (IEJoin), a fully independent implementation of the same semantics.

    At 10^12 events: shuffle keyed (user, bucket) so per-partition width
    is capped by bucket width regardless of user heat; explode factor is
    window/bucket, tunable. The range predicate itself never reaches a
    join condition — it is a residual filter on an equi-join."""
    from .operators.asof import interval_point_join

    e = _t(spark, sf_dir, "events")
    ep = lambda c: F.col(c).cast("timestamp").cast("double")
    iv = (
        e.filter(F.col("event_type") == "view")
        .select(
            "user_id",
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("vstart"),
            F.expr(
                "ts + make_interval(0, 0, 0, 0, 0, CAST(ceil(value) AS INT), 0)"
            ).alias("vend"),
        )
    )
    pt = e.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("cts"),
    )
    out = interval_point_join(
        iv, pt, on="user_id", start="vstart", end="vend", point_ts="cts",
        bucket_sec=1800,
    )
    return out.select(
        "user_id",
        "view_id",
        ep("vstart").alias("view_ep"),
        F.col("p_click_id").alias("click_id"),
        F.col("p_cts").cast("timestamp").cast("double").alias("click_ep"),
    )


@register(
    "q94_funnel_stages",
    """
    WITH t0 AS (
      SELECT user_id, min(ts) AS t FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    t1 AS (
      SELECT e.user_id, min(e.ts) AS t
      FROM events e JOIN t0 ON e.user_id = t0.user_id
      WHERE e.event_type = 'click'
        AND e.ts >= t0.t AND e.ts <= t0.t + to_seconds(259200)
      GROUP BY e.user_id
    ),
    t2 AS (
      SELECT e.user_id, min(e.ts) AS t
      FROM events e JOIN t1 ON e.user_id = t1.user_id
      WHERE e.event_type = 'purchase'
        AND e.ts >= t1.t AND e.ts <= t1.t + to_seconds(259200)
      GROUP BY e.user_id
    )
    SELECT CAST(0 AS INT) AS stage_idx, 'view' AS stage, count(*) AS users FROM t0
    UNION ALL
    SELECT CAST(1 AS INT), 'click', count(*) FROM t1
    UNION ALL
    SELECT CAST(2 AS INT), 'purchase', count(*) FROM t2
    """,
)
def q94_funnel_stages(spark, sf_dir):
    """Ordered funnel: users whose first view is followed by a click
    within 3 days, then a purchase within 3 days of that click —
    earliest-chaining semantics (ClickHouse windowFunnel's shape).
    Runs operators/funnel.py funnel_stages: each step is a conditional
    min-window over the SAME user partition, so the whole funnel is ONE
    shuffle (exchange reused across the chained window selects) + a
    rollup on the already-partitioned key; no joins at all. The oracle
    re-derives each stage with chained filtered aggregates in DuckDB —
    a structurally different plan (3 joins) computing the same values.

    At 10^12 events: one shuffle keyed by user; per-partition width is
    per-user event count. The oracle's join-chain shape (what a SQL user
    would write) re-shuffles per stage — the operator exists precisely
    to collapse k stages into one exchange."""
    from .operators.funnel import funnel_stages

    e = _t(spark, sf_dir, "events")
    return funnel_stages(
        e,
        user_col="user_id",
        ts_col="ts",
        steps=[
            ("view", F.col("event_type") == "view"),
            ("click", F.col("event_type") == "click"),
            ("purchase", F.col("event_type") == "purchase"),
        ],
        window_sec=259200,
    )


@register(
    "q95_cohort_retention",
    """
    WITH firstd AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS c FROM events GROUP BY user_id
    ),
    act AS (
      SELECT DISTINCT e.user_id, f.c,
             CAST(floor(date_diff('day', f.c, CAST(e.ts AS DATE)) / 7.0) AS INT) AS k
      FROM events e JOIN firstd f ON e.user_id = f.user_id
    )
    SELECT CAST(c AS VARCHAR) AS cohort_day, k AS offset_k, count(*) AS users
    FROM act GROUP BY 1, 2
    """,
)
def q95_cohort_retention(spark, sf_dir):
    """Cohort-retention matrix: cohort = user's first active day;
    retention at week-offset k = distinct cohort users active in day
    window [7k, 7k+7). Runs operators/funnel.py cohort_retention — all
    DATE/integer arithmetic (no epoch doubles), min-window + shared
    distinct/rollup exchange, zero joins; the oracle re-derives it the
    SQL-user way (aggregate + join + distinct), a structurally different
    plan with the same values."""
    from .operators.funnel import cohort_retention

    out = cohort_retention(
        _t(spark, sf_dir, "events"), user_col="user_id", ts_col="ts",
        offset_days=7,
    )
    return out.withColumn("cohort_day", F.col("cohort_day").cast("string"))


@register(
    "q96_gapfill_locf",
    """
    WITH daily AS (
      SELECT user_id, d, value FROM (
        SELECT user_id, CAST(ts AS DATE) AS d, value,
               row_number() OVER (
                 PARTITION BY user_id, CAST(ts AS DATE)
                 ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE event_type = 'purchase'
      ) WHERE rn = 1
    ),
    span AS (
      SELECT user_id, min(d) AS lo, max(d) AS hi FROM daily GROUP BY user_id
    ),
    grid AS (
      SELECT user_id,
             CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
                                         CAST(hi AS TIMESTAMP),
                                         INTERVAL 1 DAY)) AS DATE) AS d
      FROM span
    )
    SELECT g.user_id, CAST(g.d AS VARCHAR) AS day, o.value
    FROM grid g
    ASOF LEFT JOIN daily o ON g.user_id = o.user_id AND g.d >= o.d
    """,
)
def q96_gapfill_locf(spark, sf_dir):
    """Gap-fill to a regular daily grid with last-observation-carried-
    forward over each user's purchase history — irregular log → fixed-
    step series, the standard featurization before any sequence model.
    Runs operators/asof.py gapfill_locf (max-struct daily collapse →
    sequence/explode grid → asof_join composition). Same-day ties break
    by latest (ts, event_id), pinned by the oracle's row_number ORDER BY.
    The oracle is generate_series + DuckDB's native ASOF — an independent
    engine implementation of the whole semantics."""
    from .operators.asof import gapfill_locf

    e = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    out = gapfill_locf(
        e.select("user_id", "ts", "event_id", "value"),
        on="user_id", ts="ts", value_cols=["value"], tiebreak="event_id",
    )
    return out.withColumn("day", F.col("day").cast("string"))


@register(
    "q97_pmi_collocations",
    """
    WITH tk AS (
      SELECT list_filter(string_split_regex(lower(text), '[^a-z]+'),
                         x -> x <> '') AS t
      FROM documents
    ),
    uni AS (
      SELECT w, count(*) AS c
      FROM (SELECT unnest(t) AS w FROM tk) GROUP BY w
    ),
    bigrows AS (
      SELECT z FROM (SELECT unnest(list_zip(t, t[2:])) AS z FROM tk)
      WHERE z[2] IS NOT NULL
    ),
    big AS (
      SELECT z[1] AS w1, z[2] AS w2, count(*) AS c12
      FROM bigrows GROUP BY 1, 2 HAVING count(*) >= 5
    ),
    tot AS (SELECT sum(greatest(len(t) - 1, 0)) AS n_total FROM tk)
    SELECT b.w1, b.w2, b.c12, u1.c AS c1, u2.c AS c2,
           CAST(t.n_total * b.c12 AS DOUBLE)
             / CAST(u1.c * u2.c AS DOUBLE) AS lift
    FROM big b
    JOIN uni u1 ON u1.w = b.w1
    JOIN uni u2 ON u2.w = b.w2
    CROSS JOIN tot t
    ORDER BY lift DESC, b.w1 ASC, b.w2 ASC
    LIMIT 50
    """,
)
def q97_pmi_collocations(spark, sf_dir):
    """Top-50 bigram collocations by PMI lift [Church & Hanks 1990] over
    the documents corpus — the vocabulary/phrase-mining pass of a text
    curation pipeline. The monotone-log trick makes this oracle-exact:
    rank by the rational N*c12/(c1*c2) (BIGINT products, one IEEE
    division) instead of calling log, so Spark and DuckDB produce
    bit-identical scores and the cutoff is pinned by the total order
    (lift, w1, w2). Runs operators/text_analysis.py pmi_collocations:
    tokenize + arrays_zip self-pairing in codegen, one explode, counts,
    unigram attach AFTER the min-count filter (so the 'the'-head skew
    joins only surviving bigrams), TakeOrderedAndProject top-k."""
    from .operators.text_analysis import pmi_collocations

    return pmi_collocations(
        _t(spark, sf_dir, "documents"), min_count=5, k=50
    )


@register(
    "q98_inverted_index",
    """
    WITH tf AS (
      SELECT term, doc_id, count(*) AS tf FROM (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                                  x -> x <> '')) AS term
        FROM documents
      ) GROUP BY term, doc_id
    )
    SELECT term, CAST(0 AS INT) AS shard,
           count(*) AS df,
           CAST(sum(tf) AS BIGINT) AS tf_total,
           list(doc_id || ':' || tf ORDER BY doc_id) AS postings
    FROM tf GROUP BY term
    """,
)
def q98_inverted_index(spark, sf_dir):
    """Inverted-index (posting list) construction: one row per term with
    document frequency, corpus term frequency and the doc_id-sorted
    posting list as 'doc:tf' strings — the retrieval-index build step of
    an eval/dedup stack. Runs operators/text_analysis.py inverted_index
    (shard_log2=0 here; the 2^s posting-shard hot-term defense is pinned
    union-equal to the unsharded index in pytest). Two shuffles: (term,
    doc) tf, then per-term list agg with engine-side sort_array."""
    from .operators.text_analysis import inverted_index

    return inverted_index(_t(spark, sf_dir, "documents"))


@register(
    "q99_tfidf_top_terms",
    """
    WITH tf AS (
      SELECT doc_id, term, count(*) AS tf FROM (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                                  x -> x <> '')) AS term
        FROM documents
      ) GROUP BY doc_id, term
    ),
    dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, dft.df,
             CAST(tf.tf * n.n_docs AS DOUBLE) / CAST(dft.df AS DOUBLE) AS score
      FROM tf JOIN dft USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, df, score, rk FROM (
      SELECT *, CAST(row_number() OVER (
        PARTITION BY doc_id ORDER BY score DESC, term ASC) AS INT) AS rk
      FROM scored
    ) WHERE rk <= 3
    """,
)
def q99_tfidf_top_terms(spark, sf_dir):
    """Per-document top-3 keywords by tf-idf — rank by the rational
    tf*N/df (log-free, bit-identical across engines; see q97) with the
    per-doc cutoff pinned by the (score desc, term asc) total order.
    Runs operators/text_analysis.py tfidf_top_terms: tf counts, df agg,
    term-keyed attach, broadcast N, row_number inside each doc partition
    (bounded by per-doc vocabulary — no global sort anywhere)."""
    from .operators.text_analysis import tfidf_top_terms

    return tfidf_top_terms(_t(spark, sf_dir, "documents"), k=3)


_Q100_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "q100_pivot_daily_matrix",
    """
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
    """
    + ",\n    ".join(
        f"count(*) FILTER (WHERE event_type = '{t}') AS {t}_n,\n"
        f"    CAST(coalesce(sum(CAST(round(value * 100) AS BIGINT))"
        f" FILTER (WHERE event_type = '{t}'), 0) AS BIGINT) AS {t}_cents"
        for t in _Q100_TYPES
    )
    + """
    FROM events GROUP BY 1
    """,
)
def q100_pivot_daily_matrix(spark, sf_dir):
    """Pivot/crosstab: the wide daily activity matrix (one row per day,
    one (count, exact-cents sum) column pair per event type) — Spark's
    native `groupBy().pivot(col, values).agg(...)` with the value list
    PINNED so the output schema is static (an unpinned pivot runs a
    distinct-scan job and the schema floats with the data — wrong for a
    production table). Money sums in integer cents (round(value*100) as
    BIGINT) so no float-summation-order term anywhere; the oracle is the
    FILTER-aggregate form, value-identical by construction.

    At 10^12 events: one shuffle on day; the pivot is map-side partial
    (each task emits one partial row per day) so reducer width is
    days × types, independent of row count."""
    e = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    out = (
        e.select(
            F.col("ts").cast("timestamp").cast("date").cast("string").alias("day"),
            "event_type",
            cents.alias("_cents"),
        )
        .groupBy("day")
        .pivot("event_type", _Q100_TYPES)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum("_cents"), F.lit(0)).cast("bigint").alias("cents"),
        )
    )
    # spark names pivot agg columns '<value>_<alias>' already
    return out


@register(
    "q101_rolling_zscore_flags",
    """
    WITH p AS (
      SELECT user_id, event_id, ts,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ),
    wstats AS (
      SELECT user_id, event_id, ts, cents,
             count(cents) OVER tw AS n_prev,
             sum(cents)   OVER tw AS s,
             sum(cents * cents) OVER tw AS ss
      FROM p
      WINDOW tw AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                    ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)
    )
    SELECT user_id, event_id,
           extract(epoch FROM ts) AS ep,
           cents,
           CAST(n_prev AS BIGINT) AS n_prev,
           coalesce(n_prev >= 5 AND
             (n_prev * cents - s) * (n_prev * cents - s)
               > 4 * (n_prev * ss - s * s), FALSE) AS flagged
    FROM wstats
    """,
)
def q101_rolling_zscore_flags(spark, sf_dir):
    """Rolling z-score anomaly detection over each user's purchase
    stream: flag a purchase > 2 trailing-window population-stddevs from
    the trailing-10 mean. Runs operators/detection.py
    rolling_zscore_flags — the float-free construction: integer cents,
    BIGINT (n, S, SS) window sums, and the z-test multiplied through by
    n^2 to (n*x-S)^2 > 4(n*SS-S^2), so the oracle reproduces every flag
    bit-for-bit with no epsilon and no float-summation-order caveat.
    ONE user-keyed window shuffle; total order (ts, event_id) pins the
    frame."""
    from .operators.detection import rolling_zscore_flags

    e = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    p = e.select(
        "user_id", "event_id", F.col("ts").cast("timestamp").alias("ts"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    out = rolling_zscore_flags(
        p, key_col="user_id", ts_col="ts", id_col="event_id",
        cents_col="cents", window=10, min_n=5, z=2,
    )
    return out.select(
        "user_id", "event_id",
        F.col("ts").cast("timestamp").cast("double").alias("ep"),
        "cents", "n_prev", "flagged",
    )


@register(
    "q102_pareto_skyline",
    """
    WITH m AS (
      SELECT user_id,
             CAST(coalesce(sum(CAST(round(value * 100) AS BIGINT))
               FILTER (WHERE event_type = 'purchase'), 0) AS BIGINT) AS spend_cents,
             CAST(-count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS neg_errors
      FROM events GROUP BY user_id
    )
    SELECT p.user_id, p.spend_cents, -p.neg_errors AS n_errors FROM m p
    WHERE NOT EXISTS (
      SELECT 1 FROM m q
      WHERE q.spend_cents >= p.spend_cents AND q.neg_errors >= p.neg_errors
        AND (q.spend_cents > p.spend_cents OR q.neg_errors > p.neg_errors)
    )
    """,
)
def q102_pareto_skyline(spark, sf_dir):
    """Pareto skyline: users on the non-dominated frontier of (total
    purchase cents, fewest error events — maximize (spend, -errors)) —
    the selection shape used to
    pick pareto-optimal sources/configs for a training mix. Runs
    operators/skyline.py skyline2d, the sort-sweep-as-two-windows form
    (bucketed local frontier + tiny global pass — no self-join); the
    oracle is the literal quadratic NOT-EXISTS dominance definition in
    DuckDB, a maximally independent restatement. Integer metrics keep
    both engines bit-identical."""
    from .operators.skyline import skyline2d

    e = _t(spark, sf_dir, "events")
    m = e.groupBy("user_id").agg(
        F.coalesce(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.round(F.col("value") * 100).cast("bigint"),
                )
            ),
            F.lit(0),
        ).cast("bigint").alias("spend_cents"),
        (-F.count(F.when(F.col("event_type") == "error", F.lit(1))))
        .cast("bigint")
        .alias("neg_errors"),
    )
    sky = skyline2d(m, x="spend_cents", y="neg_errors", id_col="user_id")
    return sky.select(
        "user_id", "spend_cents", (-F.col("neg_errors")).alias("n_errors")
    )


@register(
    "q103_ols_spend_trend",
    """
    WITH p AS (
      SELECT user_id,
             CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS x,
             CAST(round(value * 100) AS BIGINT) AS y
      FROM events WHERE event_type = 'purchase'
    ),
    agg AS (
      SELECT user_id, count(*) AS n,
             sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx
      FROM p GROUP BY user_id
    )
    SELECT user_id, n,
           CAST(n * sxy - sx * sy AS BIGINT) AS num,
           CAST(n * sxx - sx * sx AS BIGINT) AS den,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
           CAST(sy * (n * sxx - sx * sx) - (n * sxy - sx * sy) * sx AS DOUBLE)
             / CAST(n * (n * sxx - sx * sx) AS DOUBLE) AS intercept
    FROM agg WHERE n >= 2 AND n * sxx - sx * sx != 0
    """,
)
def q103_ols_spend_trend(spark, sf_dir):
    """Per-user spend-trend regression: OLS slope/intercept of purchase
    cents against day index — the drift-detection primitive (is this
    entity's metric rising or falling?). Runs operators/detection.py
    group_ols_trend, the all-integer closed form: BIGINT sums (exact,
    order-independent — no float-summation-order caveat), exact BIGINT
    numerator/denominator in the output, and ONE IEEE division each for
    slope/intercept, so the oracle reproduces the regression
    bit-for-bit. One groupBy shuffle with map-side partials."""
    from .operators.detection import group_ols_trend

    e = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    p = e.select(
        "user_id",
        F.datediff(
            F.col("ts").cast("timestamp").cast("date"), F.lit("2024-01-01").cast("date")
        ).cast("bigint").alias("x"),
        F.round(F.col("value") * 100).cast("bigint").alias("y"),
    )
    return group_ols_trend(p, key_col="user_id", x_col="x", y_col="y")


@register(
    "q104_event_paths",
    """
    WITH ordered AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts ASC, event_id ASC) AS rn
      FROM events
    ),
    paths AS (
      SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
      FROM ordered WHERE rn <= 8 GROUP BY user_id
    )
    SELECT path, count(*) AS n_users FROM paths GROUP BY path
    ORDER BY n_users DESC, path ASC LIMIT 20
    """,
)
def q104_event_paths(spark, sf_dir):
    """User-journey path mining: each user's first 8 event types in
    (ts, event_id) order as a '>' path, top-20 paths by frequency with
    the (count desc, path asc) total order pinning the cutoff. Runs
    operators/funnel.py event_paths — row_number inside the user
    partition, sort_array over (rn, type) structs for an engine-side
    deterministic path order (bare collect_list is arrival-ordered —
    a real distributed-correctness trap), tiny path rollup, then
    TakeOrderedAndProject."""
    from .operators.funnel import event_paths

    return event_paths(
        _t(spark, sf_dir, "events"),
        user_col="user_id", ts_col="ts", id_col="event_id",
        type_col="event_type", max_len=8, k=20,
    )


@register(
    "q105_markov_transitions",
    """
    WITH seq AS (
      SELECT user_id, event_type AS dst,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts ASC, event_id ASC) AS src
      FROM events
    ),
    pairs AS (
      SELECT src, dst, count(*) AS n FROM seq WHERE src IS NOT NULL
      GROUP BY 1, 2
    ),
    marg AS (SELECT src, CAST(sum(n) AS BIGINT) AS n_src FROM pairs GROUP BY src)
    SELECT p.src, p.dst, p.n, m.n_src,
           CAST(p.n AS DOUBLE) / CAST(m.n_src AS DOUBLE) AS prob
    FROM pairs p JOIN marg m ON p.src = m.src
    """,
)
def q105_markov_transitions(spark, sf_dir):
    """First-order Markov transition matrix of user behavior: n(src→dst)
    via lag() in (ts, event_id) order, row marginals, and transition
    probability as ONE IEEE division of exact BIGINTs (bit-identical
    across engines). Runs operators/funnel.py markov_transitions — one
    user-keyed window shuffle, |types|^2 rollup, broadcast marginal
    attach."""
    from .operators.funnel import markov_transitions

    return markov_transitions(
        _t(spark, sf_dir, "events"),
        user_col="user_id", ts_col="ts", id_col="event_id",
        type_col="event_type",
    )


@register(
    "q106_trimmed_mean_spend",
    """
    WITH p AS (
      SELECT user_id, event_id, CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ),
    r AS (
      SELECT user_id, cents,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY cents ASC, event_id ASC) AS rk,
             count(*) OVER (PARTITION BY user_id) AS n
      FROM p
    ),
    k AS (
      SELECT user_id, n, cents FROM (
        SELECT *, CAST(floor(n * 10 / 100.0) AS BIGINT) AS cut FROM r
      ) WHERE rk > cut AND rk <= n - cut
    )
    SELECT user_id, CAST(max(n) AS BIGINT) AS n, count(*) AS kept_n,
           CAST(sum(cents) AS BIGINT) AS kept_sum,
           CAST(sum(cents) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS tmean
    FROM k GROUP BY user_id
    """,
)
def q106_trimmed_mean_spend(spark, sf_dir):
    """10% two-sided trimmed mean of purchase cents per user — the
    robust per-entity average. Runs operators/detection.py
    group_trimmed_mean: exact trim bounds from a (value, id)-total-order
    row_number (deterministic under duplicate values), BIGINT kept sum,
    mean as ONE IEEE division — oracle reproduces it bit-for-bit. One
    window shuffle; the rollup reuses the key partitioning."""
    from .operators.detection import group_trimmed_mean

    e = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    p = e.select(
        "user_id", "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    return group_trimmed_mean(
        p, key_col="user_id", val_col="cents", id_col="event_id", trim_pct=10
    )


@register(
    "q107_cube_doc_stats",
    """
    SELECT lang, source,
           CAST(GROUPING(lang, source) AS INT) AS gid,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM documents
    GROUP BY CUBE (lang, source)
    """,
)
def q107_cube_doc_stats(spark, sf_dir):
    """CUBE (all grouping sets) over (lang, source): per-cell, per-lang,
    per-source and grand-total document counts and exact char sums in
    one pass — the multidimensional manifest a curation dashboard reads.
    Native `df.cube()` with `grouping_id()` disambiguating rollup NULLs
    from data NULLs (both engines use the same bit convention: MSB =
    first cube column, 1 = aggregated). Spark plans a single Expand +
    one aggregate exchange — the cells share one shuffle rather than
    4 separate groupBys."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.cube("lang", "source")
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .select("lang", "source", "gid", "n_docs", "sum_chars")
    )


@register(
    "q108_small_order_parts",
    """
    WITH small AS (
      SELECT l_partkey, l_extendedprice FROM lineitem l1
      WHERE 5 * CAST(l_quantity AS BIGINT)
              * (SELECT count(*) FROM lineitem l2
                 WHERE l2.l_partkey = l1.l_partkey)
            < (SELECT sum(CAST(l_quantity AS BIGINT)) FROM lineitem l2
               WHERE l2.l_partkey = l1.l_partkey)
    )
    SELECT l_partkey, count(*) AS n_small,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS small_cents
    FROM small GROUP BY l_partkey
    """,
)
def q108_small_order_parts(spark, sf_dir):
    """Correlated-scalar-subquery decorrelation (TPC-H Q17's shape):
    lineitems whose quantity is below 20% of their part's average
    quantity. The oracle states the semantics the SQL-user way — two
    correlated scalar subqueries per row; the Spark side is the
    EXPLICITLY decorrelated single-pass plan: per-part (sum, count)
    window over ONE partkey shuffle, then the avg test as the integer
    cross-multiplication 5*qty*n < S (l_quantity is integral; no
    division, no float — bit-exact parity), then a rollup on the same
    key. At 10^12 rows the naive correlated form is a per-row re-scan;
    the window form is one exchange."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.col("l_quantity").cast("bigint").alias("q"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
    )
    w = Window.partitionBy("l_partkey")
    flagged = (
        li.withColumn("_s", F.sum("q").over(w))
        .withColumn("_n", F.count(F.lit(1)).over(w))
        .filter(F.col("q") * 5 * F.col("_n") < F.col("_s"))
    )
    return flagged.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_small"),
        F.sum("cents").cast("bigint").alias("small_cents"),
    )


_Q109_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]


@register(
    "q109_profile_events",
    "\n    UNION ALL\n".join(
        f"""
    SELECT '{c}' AS "column", count(*) AS n,
           CAST(count(*) - count({c}) AS BIGINT) AS n_null,
           count(DISTINCT {c}) AS n_distinct
    FROM events"""
        for c in _Q109_COLS
    ),
)
def q109_profile_events(spark, sf_dir):
    """Table profile: per-column row/null/exact-distinct counts over the
    events table — the data-quality audit published beside every
    ingestion run. Runs operators/profile.py profile_table: ONE
    aggregate pass for all columns (struct-array explode fans the single
    result row out to one row per column), vs the oracle's
    one-scan-per-column UNION ALL restatement. Exact distincts plan as
    a single Expand+exchange; the operator's exact=False flips to HLL++
    for 10^12-row tables (documented; kept exact here because sketches
    never value-match across engines)."""
    from .operators.profile import profile_table

    return profile_table(_t(spark, sf_dir, "events").select(*_Q109_COLS))


def _q110_sql() -> str:
    from .operators.layout import zorder_key_sql

    z = zorder_key_sql(
        "CAST(user_id AS BIGINT)",
        "CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT)",
    )
    return f"""
    SELECT event_id, CAST({z} AS BIGINT) AS zkey,
           CAST({z} >> 22 AS BIGINT) AS zbucket
    FROM events
    """


@register("q110_zorder_keys", None)
def q110_zorder_keys(spark, sf_dir):
    """Z-order (Morton) clustering keys over (user_id, day) — the layout
    pass behind multi-dimensional scan pruning (Delta/Iceberg Z-ORDER):
    sorting files by the interleaved code keeps BOTH dimensions local,
    so min/max file stats prune user-predicates AND time-predicates.
    Runs operators/layout.py zorder_key, the magic-mask bit spread in
    native Column ops (whole-stage codegen, shuffle-free); the oracle
    emits the IDENTICAL expression as SQL text (zorder_key_sql) — the
    key is value-checked bit-for-bit. zbucket (top 10 bits) is the
    coarse file-assignment id zorder_layout range-partitions by."""
    from .operators.layout import zorder_key

    e = _t(spark, sf_dir, "events")
    day = F.datediff(
        F.col("ts").cast("timestamp").cast("date"), F.lit("2024-01-01").cast("date")
    ).cast("bigint")
    z = zorder_key(F.col("user_id").cast("bigint"), day)
    return e.select(
        "event_id",
        z.cast("bigint").alias("zkey"),
        F.shiftright(z, 22).cast("bigint").alias("zbucket"),
    )


ORACLE_SQL["q110_zorder_keys"] = _q110_sql()


@register(
    "q111_weighted_median_price",
    """
    WITH li AS (
      SELECT l_suppkey,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
             CAST(l_quantity AS BIGINT) AS w,
             l_orderkey * 16 + l_linenumber AS rid
      FROM lineitem
    ),
    c AS (
      SELECT l_suppkey, cents, rid,
             sum(w) OVER (PARTITION BY l_suppkey
                          ORDER BY cents ASC, rid ASC
                          ROWS UNBOUNDED PRECEDING) AS cum,
             sum(w) OVER (PARTITION BY l_suppkey) AS tot
      FROM li
    )
    SELECT l_suppkey, min(cents) AS wmedian,
           CAST(min(tot) AS BIGINT) AS w_total
    FROM c WHERE 2 * cum >= tot GROUP BY l_suppkey
    """,
)
def q111_weighted_median_price(spark, sf_dir):
    """Exact weighted median of line price (cents) per supplier,
    weighted by quantity — the robust per-entity price point. Runs
    operators/detection.py group_weighted_median: lower-weighted-median
    convention (first value whose 2*cumulative-weight >= total — all
    BIGINT, no float midpoint), (value, id) total order so duplicates
    are deterministic; one window shuffle + same-key rollup. The oracle
    restates it with running-sum windows in DuckDB, bit-for-bit."""
    from .operators.detection import group_weighted_median

    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
        F.col("l_quantity").cast("bigint").alias("w"),
        (F.col("l_orderkey") * 16 + F.col("l_linenumber")).alias("rid"),
    )
    return group_weighted_median(
        li, key_col="l_suppkey", val_col="cents", weight_col="w", id_col="rid"
    )


@register(
    "q112_rfm_segments",
    """
    WITH m AS (
      SELECT user_id,
             CAST(date_diff('day', max(CAST(ts AS DATE)), DATE '2024-01-31')
                  AS BIGINT) AS r_days,
             count(*) AS f_n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS m_cents
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    q AS (
      SELECT user_id, r_days, f_n, m_cents,
        CAST(floor((row_number() OVER (ORDER BY r_days ASC, user_id ASC) - 1) * 4.0
             / count(*) OVER ()) AS INT) + 1 AS r_q,
        CAST(floor((row_number() OVER (ORDER BY f_n DESC, user_id ASC) - 1) * 4.0
             / count(*) OVER ()) AS INT) + 1 AS f_q,
        CAST(floor((row_number() OVER (ORDER BY m_cents DESC, user_id ASC) - 1) * 4.0
             / count(*) OVER ()) AS INT) + 1 AS m_q
      FROM m
    )
    SELECT user_id, r_days, f_n, m_cents, r_q, f_q, m_q,
           r_q * 100 + f_q * 10 + m_q AS segment
    FROM q
    """,
)
def q112_rfm_segments(spark, sf_dir):
    """RFM segmentation: per-user recency (days from last purchase to
    the corpus anchor date), frequency and exact monetary cents, each
    quartiled by EXACT RANK ARITHMETIC — q = (rank-1)*4 div n + 1 over
    a (metric, user_id) total order — instead of ntile, so the bucket
    assignment is pure integer math, identical in any engine AND
    computable distributed (rank + broadcast n; ntile's remainder-first
    semantics needs a single frame). Best quartile = 1 (most recent /
    most frequent / highest spend). Segment code = r*100+f*10+m.

    Runs at ENTITY grain (one row per user) with the range-partitioned
    sort + partition-offset rank (operators/sampling.with_global_rank) —
    no single-partition window; same integer quartile formula on the
    exact rank, so values are unchanged."""
    from .operators.sampling import with_global_rank

    e = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    m = e.groupBy("user_id").agg(
        F.datediff(
            F.lit("2024-01-31").cast("date"),
            F.max(F.col("ts").cast("timestamp").cast("date")),
        ).cast("bigint").alias("r_days"),
        F.count(F.lit(1)).alias("f_n"),
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint").alias("m_cents"),
    ).localCheckpoint(eager=True)  # feeds three independent rank passes
    n = m.count()  # bounded: one scalar off the pinned entity table
    n_parts = max(1, min(n // 2_000_000 + 1, spark.sparkContext.defaultParallelism))

    def quart(metric, order, name):
        ranked = with_global_rank(
            m.select("user_id", metric), order, "_rk", n_parts=n_parts
        )
        return ranked.select(
            "user_id",
            (F.floor((F.col("_rk") - 1) * 4 / F.lit(n)).cast("int") + 1).alias(name),
        )

    rq = quart("r_days", [F.col("r_days").asc(), F.col("user_id").asc()], "r_q")
    fq = quart("f_n", [F.col("f_n").desc(), F.col("user_id").asc()], "f_q")
    mq = quart("m_cents", [F.col("m_cents").desc(), F.col("user_id").asc()], "m_q")
    out = m.join(rq, "user_id").join(fq, "user_id").join(mq, "user_id").select(
        "user_id", "r_days", "f_n", "m_cents", "r_q", "f_q", "m_q"
    )
    return out.withColumn(
        "segment", F.col("r_q") * 100 + F.col("f_q") * 10 + F.col("m_q")
    )


@register(
    "q113_priority_late_orders",
    """
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey
        AND CAST(l.l_shipdate AS DATE)
              > CAST(o.o_orderdate AS DATE) + INTERVAL 90 DAY
    )
    GROUP BY o_orderpriority
    """,
)
def q113_priority_late_orders(spark, sf_dir):
    """EXISTS semi-join (TPC-H Q4's shape): orders with at least one
    lineitem shipped more than 90 days after the order date, counted by
    priority. The oracle states the correlated EXISTS; the Spark side is
    the explicit LEFT SEMI join with the cross-side date predicate as a
    join residual — each order emitted at most once regardless of how
    many late lines it has (the semantics a rewrite through a plain
    join + distinct would pay a dedup for). DATE arithmetic only —
    integer-exact in both engines."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority",
        F.col("o_orderdate").cast("timestamp").cast("date").alias("_od"),
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.col("l_shipdate").cast("timestamp").cast("date").alias("_sd"),
    )
    late = o.join(
        li,
        (o["o_orderkey"] == li["l_orderkey"])
        & (li["_sd"] > F.date_add(o["_od"], 90)),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders")
    )


@register(
    "q114_returned_revenue_star",
    """
    SELECT c.c_custkey, c.c_name, n.n_name,
           count(*) AS n_lines,
           CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
                AS BIGINT) AS revenue_bp
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue_bp DESC, c.c_custkey ASC
    LIMIT 20
    """,
)
def q114_returned_revenue_star(spark, sf_dir):
    """Star join (TPC-H Q10's shape): lost revenue from returned items
    per customer — fact table filtered map-side (returnflag pushed to
    the parquet scan), then a three-dimension join chain where customer
    and nation take explicit broadcast hints (bounded dims) and the
    orders join is the one real shuffle. Revenue is EXACT integer
    basis-point-cents: cents * (100 - discount_pct), both factors
    integers recovered by round() — no float product anywhere, so the
    oracle matches bit-for-bit. Top-20 by the (revenue, custkey) total
    order via TakeOrderedAndProject."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R").select(
        "l_orderkey",
        (
            F.round(F.col("l_extendedprice") * 100).cast("bigint")
            * (100 - F.round(F.col("l_discount") * 100).cast("bigint"))
        ).alias("_bp"),
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    j = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
    )
    agg = j.groupBy("c_custkey", "c_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum("_bp").cast("bigint").alias("revenue_bp"),
    )
    return agg.orderBy(
        F.col("revenue_bp").desc(), F.col("c_custkey").asc()
    ).limit(20)


_Q115_EDGES = [
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
]


@register(
    "q115_referential_audit",
    "\n    UNION ALL\n".join(
        f"""
    SELECT '{child}.{fk}' AS edge, count(*) AS n_child,
           CAST(count(*) FILTER (WHERE {fk} IS NULL) AS BIGINT) AS n_null_fk,
           CAST(count(*) FILTER (
             WHERE {fk} IS NOT NULL AND {fk} NOT IN
               (SELECT {pk} FROM {parent})) AS BIGINT) AS n_orphan
    FROM {child}"""
        for child, fk, parent, pk in _Q115_EDGES
    ),
)
def q115_referential_audit(spark, sf_dir):
    """Referential-integrity audit: for every FK edge of the warehouse
    schema, the child row count, null-FK count and ORPHAN count (FK
    values with no parent) in one result — the cross-table half of the
    q109 profile every ingestion gate runs. Each edge is a left-anti
    join against the parent's key projection (broadcast for the bounded
    dims, shuffle for orders at scale) — the oracle states the same
    audit as NOT IN subqueries. All counts exact integers."""
    out = None
    for child, fk, parent, pk in _Q115_EDGES:
        c = _t(spark, sf_dir, child)
        p = _t(spark, sf_dir, parent).select(pk)
        orphan = (
            c.filter(F.col(fk).isNotNull())
            .join(p, c[fk] == p[pk], "left_anti")
            .agg(F.count(F.lit(1)).alias("n_orphan"))
        )
        base = c.agg(
            F.count(F.lit(1)).alias("n_child"),
            F.sum(F.col(fk).isNull().cast("bigint")).cast("bigint")
            .alias("n_null_fk"),
        )
        row = (
            base.crossJoin(F.broadcast(orphan))
            .select(
                F.lit(f"{child}.{fk}").alias("edge"),
                "n_child",
                "n_null_fk",
                F.col("n_orphan").cast("bigint").alias("n_orphan"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


@register(
    "q116_basket_pairs",
    """
    WITH basket AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d, event_type
      FROM events
    ),
    nb AS (
      SELECT count(*) AS n_baskets
      FROM (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events)
    ),
    pairs AS (
      SELECT a.event_type AS item_a, b.event_type AS item_b, count(*) AS n
      FROM basket a
      JOIN basket b ON a.user_id = b.user_id AND a.d = b.d
                   AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT item_a, item_b, n, nb.n_baskets,
           CAST(n AS DOUBLE) / CAST(nb.n_baskets AS DOUBLE) AS support
    FROM pairs CROSS JOIN nb
    """,
)
def q116_basket_pairs(spark, sf_dir):
    """Market-basket pair mining: co-occurring event types per (user,
    day) basket, with exact support = pair count / basket count (ONE
    IEEE division of BIGINTs). The Spark side avoids the oracle's
    basket self-join entirely: collect_set per basket (native), then
    the ordered pairs explode from the sorted item array inside
    codegen (flatten of an indexed transform — |items|^2/2 rows per
    basket, bounded by the type vocabulary, NOT by basket event
    count). One distinct-shuffle + a tiny pair rollup; at 10^12
    events the basket table is (entities x days) grain, and per-basket
    pair fanout is capped by vocabulary size — the reason pairwise
    itemset mining is tractable where a row self-join is not."""
    e = _t(spark, sf_dir, "events")
    basket = (
        e.select(
            "user_id",
            F.col("ts").cast("timestamp").cast("date").alias("d"),
            "event_type",
        )
        .groupBy("user_id", "d")
        .agg(F.sort_array(F.collect_set("event_type")).alias("items"))
    )
    n_baskets = basket.agg(F.count(F.lit(1)).alias("n_baskets"))
    items = F.col("items")
    idx = F.sequence(F.lit(0), F.size(items) - 2)
    pairs_col = F.flatten(
        F.transform(
            idx,
            lambda i: F.transform(
                F.slice(items, i + 2, F.size(items)),
                lambda y: F.struct(
                    F.element_at(items, i + 1).alias("item_a"),
                    y.alias("item_b"),
                ),
            ),
        )
    )
    pairs = (
        basket.filter(F.size(items) >= 2)
        .select(F.explode(pairs_col).alias("p"))
        .groupBy(F.col("p.item_a").alias("item_a"), F.col("p.item_b").alias("item_b"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return pairs.crossJoin(F.broadcast(n_baskets)).select(
        "item_a", "item_b", "n", "n_baskets",
        (F.col("n").cast("double") / F.col("n_baskets").cast("double"))
        .alias("support"),
    )


@register(
    "q117_source_novelty",
    """
    WITH fp AS (
      SELECT doc_id, source,
             md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
      FROM documents
    ),
    first_claim AS (
      SELECT fp, min(doc_id) AS first_doc FROM fp GROUP BY fp
    ),
    claimed AS (
      SELECT f.source, count(*) AS n_first
      FROM fp f JOIN first_claim c
        ON f.fp = c.fp AND f.doc_id = c.first_doc
      GROUP BY f.source
    ),
    tot AS (SELECT source, count(*) AS n_docs FROM fp GROUP BY source)
    SELECT t.source, t.n_docs, coalesce(c.n_first, 0) AS n_first,
           CAST(coalesce(c.n_first, 0) AS DOUBLE) / CAST(t.n_docs AS DOUBLE)
             AS novelty_rate
    FROM tot t LEFT JOIN claimed c ON t.source = c.source
    """,
)
def q117_source_novelty(spark, sf_dir):
    """Source-novelty attribution — the curation-ROI report: for each
    ingestion source, how many of its documents are the FIRST claim on
    their content fingerprint (min doc_id per md5 of normalized text —
    the q20 exact-dedup key), i.e. how much unique content the source
    actually contributes vs re-crawls. One min-struct aggregate per
    fingerprint (map-side partials; no window, no self-join: the
    argmin row is recovered as max(struct(-doc_id, source)) so the
    attribution rides the SAME aggregate) + a source rollup; novelty
    rate is ONE IEEE division of exact BIGINTs."""
    from .operators.text_analysis import fingerprint_col

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", fingerprint_col(F.col("text")).alias("fp")
    )
    first = (
        d.groupBy("fp")
        .agg(F.max(F.struct((-F.col("doc_id")).alias("_neg"), F.col("source"))).alias("_m"))
        .select(F.col("_m.source").alias("source"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_first"))
    )
    tot = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        tot.join(first, "source", "left")
        .select(
            "source", "n_docs",
            F.coalesce(F.col("n_first"), F.lit(0)).cast("bigint").alias("n_first"),
            (
                F.coalesce(F.col("n_first"), F.lit(0)).cast("double")
                / F.col("n_docs").cast("double")
            ).alias("novelty_rate"),
        )
    )


@register(
    "q118_time_to_purchase",
    """
    WITH c AS (
      SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'
    ),
    p AS (
      SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
    )
    SELECT c.user_id, c.event_id AS click_id,
           extract(epoch FROM c.ts) AS click_ep,
           (SELECT p.event_id FROM p
             WHERE p.user_id = c.user_id AND p.ts >= c.ts
             ORDER BY p.ts ASC, p.event_id DESC LIMIT 1) AS purchase_id,
           extract(epoch FROM (
             SELECT min(p.ts) FROM p
              WHERE p.user_id = c.user_id AND p.ts >= c.ts)) AS purchase_ep
    FROM c
    """,
)
def q118_time_to_purchase(spark, sf_dir):
    """FORWARD as-of join: attach to each click the EARLIEST purchase by
    the same user at-or-after it — the time-to-conversion primitive
    (the mirror of q92's attribution). Runs operators/asof.py asof_join
    with direction='forward': the same single union+window shuffle with
    the scan order flipped; equal-ts ties break max-event_id (pinned by
    the oracle's ORDER BY ts ASC, event_id DESC LIMIT 1). The oracle
    states the semantics as correlated earliest-at-or-after subqueries
    — per-row rescans a 10^12-row engine cannot afford, which is the
    point of the operator."""
    from .operators.asof import asof_join

    e = _t(spark, sf_dir, "events")
    ep = lambda c: F.col(c).cast("timestamp").cast("double")
    clicks = e.filter(F.col("event_type") == "click").select("user_id", "ts", "event_id")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    out = asof_join(
        clicks, purchases, on="user_id", ts="ts",
        right_cols=["event_id"], tiebreak="event_id", direction="forward",
    )
    return out.select(
        "user_id",
        F.col("event_id").alias("click_id"),
        ep("ts").alias("click_ep"),
        F.col("r_event_id").alias("purchase_id"),
        F.col("r_ts").cast("timestamp").cast("double").alias("purchase_ep"),
    )


@register(
    "q119_incremental_rollup",
    """
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_type,
           count(*) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s,
           CAST(min(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS mn,
           CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS mx
    FROM events GROUP BY 1, 2
    """,
)
def q119_incremental_rollup(spark, sf_dir):
    """Incremental view maintenance: the per-(day, type) rollup is NOT
    computed over the full table — the events before day 25 play the
    MATERIALIZED base (rollup_partial), the rest arrive as a late
    delta partial, and merge_rollups combines them (sum of counts/sums,
    min/max of min/max — one union + one re-aggregate). The oracle
    recomputes the rollup from scratch over all rows, so the green row
    PROVES base+delta maintenance == full recompute, the property that
    lets a 10^12-row rollup absorb late data by touching only affected
    cells. All-integer cents; mergeable-aggregate row format (n,s,mn,mx)
    shared with operators/incremental.py."""
    from .operators.incremental import merge_rollups, rollup_partial

    e = _t(spark, sf_dir, "events").select(
        F.col("ts").cast("timestamp").cast("date").cast("string").alias("day"),
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    cutoff = "2024-01-25"
    base = rollup_partial(
        e.filter(F.col("day") < cutoff), ["day", "event_type"], "cents"
    )
    delta = rollup_partial(
        e.filter(F.col("day") >= cutoff), ["day", "event_type"], "cents"
    )
    return merge_rollups([base, delta], ["day", "event_type"])


@register(
    "q120_cluster_canonical",
    rf"""
    WITH RECURSIVE {_CORPUS_SQL},
    {_MINHASH_SQL_BODY},
    sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
    inter AS (
      SELECT c.a AS doc_a, c.b AS doc_b, count(*) AS inter
      FROM cand c
      JOIN sh sa ON sa.id = c.a
      JOIN sh sb ON sb.id = c.b AND sb.s = sa.s
      GROUP BY c.a, c.b
    ),
    verified AS (
      SELECT i.doc_a, i.doc_b
      FROM inter i
      JOIN sizes za ON za.id = i.doc_a
      JOIN sizes zb ON zb.id = i.doc_b
      WHERE i.inter::DOUBLE / (za.sz + zb.sz - i.inter)::DOUBLE >= 0.6
    ),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM verified WHERE doc_a != doc_b
      UNION
      SELECT doc_b AS u, doc_a AS v FROM verified WHERE doc_a != doc_b
    ),
    reach(id, lbl) AS (
      SELECT u AS id, u AS lbl FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT e.v AS id, r.lbl FROM reach r JOIN edges e ON e.u = r.id
    ),
    cc AS (SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id),
    ranked AS (
      SELECT cc.cluster_id, cc.doc_id, length(co.text) AS n_chars,
             row_number() OVER (PARTITION BY cc.cluster_id
                                ORDER BY length(co.text) DESC, cc.doc_id ASC)
               AS rk
      FROM cc JOIN corpus co ON co.doc_id = cc.doc_id
    )
    SELECT r.cluster_id,
           CAST(count(*) AS INT) AS n_members,
           CAST(min(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT) AS canonical_id,
           CAST(min(CASE WHEN rk = 1 THEN n_chars END) AS BIGINT) AS canonical_chars
    FROM ranked r GROUP BY r.cluster_id
    """,
)
def q120_cluster_canonical(spark, sf_dir):
    """Quality-aware canonical selection per duplicate cluster — the
    half of the dedup decision q52 leaves implicit: instead of keeping
    the min-id member, keep the HIGHEST-QUALITY copy (longest text,
    doc_id tiebreak — a total order). Runs the q52 component machinery
    (banded MinHash pairs → Hash-Min label propagation), then the
    canonical rides ONE max-struct aggregate per cluster
    (max(struct(n_chars, -doc_id)) — no window over the corpus). The
    oracle re-derives everything: same recursive-CTE closure, then a
    rank-1 window — a different algorithm agreeing on every cluster's
    canonical."""
    from .operators.components import connected_components

    pairs = _verified_pairs(spark, sf_dir)
    cc = connected_components(pairs, src="doc_a", dst="doc_b")
    lens = _corpus(spark, sf_dir).select(
        F.col("doc_id").alias("id"), F.length("text").cast("bigint").alias("n_chars")
    )
    return _q120_canonical(cc, lens)


@register(
    "q121_mad_outliers",
    """
    WITH p AS (
      SELECT user_id, event_id,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ),
    med AS (
      SELECT user_id, min(cents) AS med FROM (
        SELECT user_id, cents,
               sum(1) OVER (PARTITION BY user_id
                            ORDER BY cents ASC, event_id ASC
                            ROWS UNBOUNDED PRECEDING) AS cum,
               count(*) OVER (PARTITION BY user_id) AS n
        FROM p
      ) WHERE 2 * cum >= n GROUP BY user_id
    ),
    dev AS (
      SELECT p.user_id, p.event_id, p.cents, m.med,
             abs(p.cents - m.med) AS d
      FROM p JOIN med m ON p.user_id = m.user_id
    ),
    mad AS (
      SELECT user_id, min(d) AS mad FROM (
        SELECT user_id, d,
               sum(1) OVER (PARTITION BY user_id
                            ORDER BY d ASC, event_id ASC
                            ROWS UNBOUNDED PRECEDING) AS cum,
               count(*) OVER (PARTITION BY user_id) AS n
        FROM dev
      ) WHERE 2 * cum >= n GROUP BY user_id
    )
    SELECT d.user_id, d.event_id, d.cents,
           CAST(d.med AS BIGINT) AS med, CAST(a.mad AS BIGINT) AS mad,
           (d.d > 3 * a.mad) AS outlier
    FROM dev d JOIN mad a ON d.user_id = a.user_id
    """,
)
def q121_mad_outliers(spark, sf_dir):
    """MAD (median-absolute-deviation) outlier flags per user — the
    ROBUST detector that, unlike the q101 z-score, a single extreme
    value cannot mask (the classic breakdown-point argument). ALL
    integer: lower median of cents (2*cum >= n — the q111 machinery
    with unit weights), integer absolute deviations, lower median of
    those, flag = dev > 3*MAD as an exact BIGINT compare. Two median
    window passes + two same-key joins; the oracle re-derives every
    flag bit-for-bit."""
    from .operators.detection import group_weighted_median

    e = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    p = e.select(
        "user_id", "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    ).withColumn("_w", F.lit(1))
    med = group_weighted_median(
        p, key_col="user_id", val_col="cents", weight_col="_w", id_col="event_id"
    ).select("user_id", F.col("wmedian").alias("med"))
    dev = p.join(med, "user_id").withColumn(
        "d", F.abs(F.col("cents") - F.col("med"))
    )
    mad = group_weighted_median(
        dev.withColumnRenamed("d", "dval"),
        key_col="user_id", val_col="dval", weight_col="_w", id_col="event_id",
    ).select("user_id", F.col("wmedian").alias("mad"))
    return (
        dev.join(mad, "user_id")
        .select(
            "user_id", "event_id", "cents",
            F.col("med").cast("bigint").alias("med"),
            F.col("mad").cast("bigint").alias("mad"),
            (F.col("d") > 3 * F.col("mad")).alias("outlier"),
        )
    )


@register(
    "q122_percent_rank_scaling",
    """
    SELECT doc_id, lang, n_chars,
           percent_rank() OVER (PARTITION BY lang
                                ORDER BY n_chars ASC, doc_id ASC) AS pr
    FROM documents
    """,
)
def q122_percent_rank_scaling(spark, sf_dir):
    """Per-group percent-rank feature scaling: each document's length
    mapped to [0,1] within its language — the rank-based normalization
    that survives heavy tails where min-max scaling saturates. Native
    percent_rank over a (value, id) total order: (rank-1)/(n-1) is one
    IEEE division of exact integers, and the tie-free total order makes
    it engine-identical. One window shuffle at group grain."""
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.col("n_chars").asc(), F.col("doc_id").asc()
    )
    return d.select(
        "doc_id", "lang", "n_chars", F.percent_rank().over(w).alias("pr")
    )


@register(
    "q123_source_distribution_drift",
    """
    WITH s AS (
      SELECT source, lang, count(*) AS c FROM documents GROUP BY 1, 2
    ),
    ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_s FROM s GROUP BY source),
    g AS (SELECT lang, CAST(sum(c) AS BIGINT) AS c_g FROM s GROUP BY lang),
    ng AS (SELECT CAST(sum(c_g) AS BIGINT) AS n_g FROM g),
    cells AS (
      SELECT ns.source, g.lang, coalesce(s.c, 0) AS c_s, ns.n_s, g.c_g, ng.n_g
      FROM ns CROSS JOIN g
      LEFT JOIN s ON s.source = ns.source AND s.lang = g.lang
      CROSS JOIN ng
    )
    SELECT source,
           CAST(sum(abs(c_s * n_g - c_g * n_s)) AS BIGINT) AS l1_num,
           CAST(min(n_s) * min(n_g) AS BIGINT) AS l1_den,
           CAST(sum(abs(c_s * n_g - c_g * n_s)) AS DOUBLE)
             / CAST(min(n_s) * min(n_g) AS DOUBLE) AS l1
    FROM cells GROUP BY source
    """,
)
def q123_source_distribution_drift(spark, sf_dir):
    """Per-source distribution drift: L1 distance between each source's
    language mix and the corpus-wide mix — the mix-monitoring alarm a
    curation pipeline runs per ingest batch. The float trap is summing
    |c_s/n_s - c_g/n_g| (different denominators, order-dependent); put
    every term over the COMMON denominator n_s*n_g instead and the L1
    numerator is an exact BIGINT sum of |c_s*n_g - c_g*n_s| — emitted
    with the denominator, plus ONE IEEE division for the score. Tiny
    aggregates throughout (|sources| x |langs| cells); missing cells
    materialize as zeros via the dimension cross join."""
    d = _t(spark, sf_dir, "documents")
    s = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("c"))
    ns = s.groupBy("source").agg(F.sum("c").cast("bigint").alias("n_s"))
    g = s.groupBy("lang").agg(F.sum("c").cast("bigint").alias("c_g"))
    ng = g.agg(F.sum("c_g").cast("bigint").alias("n_g"))
    cells = (
        ns.crossJoin(F.broadcast(g))
        .join(s, ["source", "lang"], "left")
        .crossJoin(F.broadcast(ng))
        .select(
            "source", "lang", "n_s", "c_g", "n_g",
            F.coalesce(F.col("c"), F.lit(0)).alias("c_s"),
        )
    )
    term = F.abs(F.col("c_s") * F.col("n_g") - F.col("c_g") * F.col("n_s"))
    return cells.groupBy("source").agg(
        F.sum(term).cast("bigint").alias("l1_num"),
        (F.min("n_s") * F.min("n_g")).cast("bigint").alias("l1_den"),
        (
            F.sum(term).cast("double")
            / (F.min("n_s") * F.min("n_g")).cast("double")
        ).alias("l1"),
    )


@register(
    "q124_interval_coverage",
    """
    WITH iv AS (
      SELECT user_id,
             epoch_us(ts) AS s,
             epoch_us(ts + to_minutes(CAST(ceil(value) AS BIGINT))) AS e
      FROM events WHERE event_type = 'view'
    ),
    marked AS (
      SELECT user_id, s, e,
             CASE WHEN s > coalesce(max(e) OVER (
               PARTITION BY user_id ORDER BY s ASC, e ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
             THEN 1 ELSE 0 END AS new_island
      FROM iv
    ),
    islands AS (
      SELECT user_id, s, e,
             sum(new_island) OVER (PARTITION BY user_id
                                   ORDER BY s ASC, e ASC
                                   ROWS UNBOUNDED PRECEDING) AS island
      FROM marked
    ),
    merged AS (
      SELECT user_id, island, min(s) AS lo, max(e) AS hi
      FROM islands GROUP BY user_id, island
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_islands,
           CAST(sum(hi - lo) AS BIGINT) AS covered_us
    FROM merged GROUP BY user_id
    """,
)
def q124_interval_coverage(spark, sf_dir):
    """Interval-union coverage: total wall time each user is inside at
    least one view window — the de-overlapped "active exposure"
    metric (the union-of-intervals sweep every sessionizer/billing
    system needs; q93's join counts pairs, this merges overlaps). The
    classic island construction as TWO windows over ONE (user) sort:
    new-island flag when start > max(all previous ends) (handles
    nested intervals — a plain lag(end) would not), island id =
    running sum of flags, then min/max per island. Exact microsecond
    BIGINTs end to end (unix_micros / epoch_us — no float epochs), so
    the oracle reproduces coverage bit-for-bit."""
    e = _t(spark, sf_dir, "events").filter(F.col("event_type") == "view")
    iv = e.select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("s"),
        F.unix_micros(
            F.expr(
                "CAST(ts AS TIMESTAMP) + make_interval(0, 0, 0, 0, 0, CAST(ceil(value) AS INT), 0)"
            )
        ).alias("e"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("s").asc(), F.col("e").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = iv.withColumn(
        "new_island",
        (F.col("s") > F.coalesce(F.max("e").over(w), F.lit(-1)))
        .cast("int"),
    )
    wi = (
        Window.partitionBy("user_id")
        .orderBy(F.col("s").asc(), F.col("e").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    islands = marked.withColumn("island", F.sum("new_island").over(wi))
    merged = islands.groupBy("user_id", "island").agg(
        F.min("s").alias("lo"), F.max("e").alias("hi")
    )
    return merged.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_islands"),
        F.sum(F.col("hi") - F.col("lo")).cast("bigint").alias("covered_us"),
    )


@register(
    "q125_k_anonymity_audit",
    """
    WITH q AS (
      SELECT doc_id, lang, source,
             CAST(floor(n_chars / 100.0) AS BIGINT) AS len_bucket
      FROM documents
    ),
    cls AS (
      SELECT lang, source, len_bucket, count(*) AS class_size
      FROM q GROUP BY 1, 2, 3
    )
    SELECT q.lang, q.source, q.len_bucket, cls.class_size,
           (cls.class_size < 5) AS at_risk
    FROM q JOIN cls USING (lang, source, len_bucket)
    GROUP BY 1, 2, 3, 4, 5
    """,
)
def q125_k_anonymity_audit(spark, sf_dir):
    """k-anonymity audit over the quasi-identifier tuple (lang, source,
    length-bucket): each equivalence class's size and whether it falls
    below k=5 — the re-identification screen a dataset release runs
    before publishing metadata columns. One groupBy on the quasi-id
    tuple; the at-risk flag is an exact integer compare. (The per-doc
    risk table is this joined back by class — emitted here at class
    grain to keep the artifact release-sized.)"""
    d = _t(spark, sf_dir, "documents")
    q = d.select(
        "lang", "source",
        F.floor(F.col("n_chars") / 100.0).cast("bigint").alias("len_bucket"),
    )
    cls = q.groupBy("lang", "source", "len_bucket").agg(
        F.count(F.lit(1)).alias("class_size")
    )
    return cls.select(
        "lang", "source", "len_bucket", "class_size",
        (F.col("class_size") < 5).alias("at_risk"),
    )


@register(
    "q126_gini_concentration",
    """
    WITH r AS (
      SELECT lang, n_chars,
             row_number() OVER (PARTITION BY lang
                                ORDER BY n_chars ASC, doc_id ASC) AS rk
      FROM documents
    )
    SELECT lang, count(*) AS n,
           CAST(2 * sum(rk * n_chars) - (count(*) + 1) * sum(n_chars)
                AS BIGINT) AS gini_num,
           CAST(count(*) * sum(n_chars) AS BIGINT) AS gini_den,
           CAST(2 * sum(rk * n_chars) - (count(*) + 1) * sum(n_chars) AS DOUBLE)
             / CAST(count(*) * sum(n_chars) AS DOUBLE) AS gini
    FROM r GROUP BY lang
    """,
)
def q126_gini_concentration(spark, sf_dir):
    """Exact Gini coefficient of document-length concentration per
    language — the imbalance metric a mix designer watches (G=0: all
    docs contribute equally; G→1: a few docs carry the corpus). The
    rank formulation G = (2*Σ rank*x - (n+1)*Σx) / (n*Σx) over an
    ascending (value, id) total order keeps EVERYTHING in BIGINT sums
    — numerator and denominator are emitted exactly, plus ONE IEEE
    division; no sorting of floats, no pair enumeration (the naive
    mean-absolute-difference form is O(n^2)). One window shuffle at
    group grain + the rollup on the same key."""
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.col("n_chars").asc(), F.col("doc_id").asc()
    )
    r = d.select("lang", "n_chars", F.row_number().over(w).alias("rk"))
    num = 2 * F.sum(F.col("rk") * F.col("n_chars")) - (
        F.count(F.lit(1)) + 1
    ) * F.sum("n_chars")
    den = F.count(F.lit(1)) * F.sum("n_chars")
    return r.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        num.cast("bigint").alias("gini_num"),
        den.cast("bigint").alias("gini_den"),
        (num.cast("double") / den.cast("double")).alias("gini"),
    )


@register(
    "q127_quality_gate_auc",
    r"""
    WITH t AS (
      SELECT doc_id, lang, text, length(text) AS n_chars,
             regexp_split_to_array(trim(text), '\s+') AS w
      FROM documents
    ),
    m AS (
      SELECT lang, n_chars,
             (len(w) >= 30 AND len(w) <= 1000
              AND 3 * len(w) <= CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT)
              AND CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT) <= 10 * len(w)
              AND len(regexp_extract_all(text, '\b(the|a|and|of|to|in)\b')) >= 2
              AND 20 * len(regexp_extract_all(text, '[^a-z0-9 ]')) <= n_chars
              AND 2 * len(list_distinct(w)) >= len(w)) AS keep
      FROM t
    ),
    r AS (
      SELECT lang, keep,
             2 * rank() OVER (PARTITION BY lang ORDER BY n_chars ASC)
               + count(*) OVER (PARTITION BY lang, n_chars) - 1 AS mr2
      FROM m
    ),
    agg AS (
      SELECT lang,
             sum(CASE WHEN keep THEN mr2 ELSE 0 END) AS pos_mr2,
             sum(CASE WHEN keep THEN 1 ELSE 0 END) AS n_pos,
             count(*) AS n
      FROM r GROUP BY lang
    )
    SELECT lang, CAST(n_pos AS BIGINT) AS n_pos,
           CAST(n - n_pos AS BIGINT) AS n_neg,
           CAST(pos_mr2 - n_pos * (n_pos + 1) AS BIGINT) AS auc_num,
           CAST(2 * n_pos * (n - n_pos) AS BIGINT) AS auc_den,
           CAST(pos_mr2 - n_pos * (n_pos + 1) AS DOUBLE)
             / CAST(2 * n_pos * (n - n_pos) AS DOUBLE) AS auc
    FROM agg WHERE n_pos > 0 AND n - n_pos > 0
    """,
)
def q127_quality_gate_auc(spark, sf_dir):
    """Filter-evaluation AUC: per language, how well raw document
    length separates the q42 Gopher quality gate's keep/drop decision —
    the metric you compute before replacing an expensive gate with a
    cheap proxy. Runs operators/detection.py group_auc, the exact
    Mann-Whitney rank-sum form with doubled midranks (standard
    0.5-credit tie handling kept in integers); BIGINT num/den emitted,
    ONE division. Label from operators/text_analysis.py gopher_quality
    (the q42 rule), score = n_chars."""
    from .operators.detection import group_auc
    from .operators.text_analysis import gopher_quality

    d = _t(spark, sf_dir, "documents")
    labeled = gopher_quality(d).select("doc_id", "keep").join(
        d.select("doc_id", "lang", F.length("text").alias("n_chars")), "doc_id"
    )
    return group_auc(labeled, group_col="lang", score_col="n_chars", label_col="keep")


@register(
    "q128_proxy_filter_f1",
    r"""
    WITH t AS (
      SELECT doc_id, lang, text, length(text) AS n_chars,
             regexp_split_to_array(trim(text), '\s+') AS w
      FROM documents
    ),
    m AS (
      SELECT lang,
             (len(w) >= 30 AND len(w) <= 1000
              AND 3 * len(w) <= CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT)
              AND CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT) <= 10 * len(w)
              AND len(regexp_extract_all(text, '\b(the|a|and|of|to|in)\b')) >= 2
              AND 20 * len(regexp_extract_all(text, '[^a-z0-9 ]')) <= n_chars
              AND 2 * len(list_distinct(w)) >= len(w)) AS gate,
             (n_chars >= 150) AS proxy
      FROM t
    )
    SELECT lang,
           CAST(count(*) FILTER (WHERE gate AND proxy) AS BIGINT) AS tp,
           CAST(count(*) FILTER (WHERE NOT gate AND proxy) AS BIGINT) AS fp,
           CAST(count(*) FILTER (WHERE gate AND NOT proxy) AS BIGINT) AS fn,
           CAST(count(*) FILTER (WHERE NOT gate AND NOT proxy) AS BIGINT) AS tn,
           CAST(2 * count(*) FILTER (WHERE gate AND proxy) AS DOUBLE)
             / CAST(2 * count(*) FILTER (WHERE gate AND proxy)
                    + count(*) FILTER (WHERE NOT gate AND proxy)
                    + count(*) FILTER (WHERE gate AND NOT proxy) AS DOUBLE) AS f1
    FROM m GROUP BY lang
    """,
)
def q128_proxy_filter_f1(spark, sf_dir):
    """Proxy-filter evaluation: per-language confusion matrix and F1 of
    the cheap length>=150 proxy against the q42 Gopher gate — the
    measurement you run before swapping an expensive filter stage for a
    scan-level predicate (the q127 AUC's thresholded companion, and the
    same F1 machinery the pipeline's keep/drop contract is graded on).
    F1 = 2TP/(2TP+FP+FN): integer counts, ONE IEEE division — exact.
    One aggregate pass; the gate and proxy are both codegen'd column
    expressions evaluated in the same scan."""
    from .operators.text_analysis import gopher_quality

    d = _t(spark, sf_dir, "documents")
    lab = gopher_quality(d).select("doc_id", F.col("keep").alias("gate")).join(
        d.select("doc_id", "lang", (F.length("text") >= 150).alias("proxy")),
        "doc_id",
    )
    g, p = F.col("gate"), F.col("proxy")
    tp = F.sum((g & p).cast("bigint"))
    fp = F.sum(((~g) & p).cast("bigint"))
    fn = F.sum((g & (~p)).cast("bigint"))
    tn = F.sum(((~g) & (~p)).cast("bigint"))
    return lab.groupBy("lang").agg(
        tp.alias("tp"), fp.alias("fp"), fn.alias("fn"), tn.alias("tn"),
        (
            (2 * tp).cast("double") / (2 * tp + fp + fn).cast("double")
        ).alias("f1"),
    )


@register(
    "q129_filter_agreement_kappa",
    r"""
    WITH t AS (
      SELECT doc_id, lang, text, length(text) AS n_chars,
             regexp_split_to_array(trim(text), '\s+') AS w
      FROM documents
    ),
    m AS (
      SELECT lang,
             (len(w) >= 30 AND len(w) <= 1000
              AND 3 * len(w) <= CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT)
              AND CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT) <= 10 * len(w)
              AND len(regexp_extract_all(text, '\b(the|a|and|of|to|in)\b')) >= 2
              AND 20 * len(regexp_extract_all(text, '[^a-z0-9 ]')) <= n_chars
              AND 2 * len(list_distinct(w)) >= len(w)) AS gate,
             (n_chars >= 150) AS proxy
      FROM t
    ),
    c AS (
      SELECT lang,
             count(*) AS n,
             count(*) FILTER (WHERE gate AND proxy) AS tp,
             count(*) FILTER (WHERE NOT gate AND proxy) AS fp,
             count(*) FILTER (WHERE gate AND NOT proxy) AS fn,
             count(*) FILTER (WHERE NOT gate AND NOT proxy) AS tn
      FROM m GROUP BY lang
    )
    SELECT lang,
           CAST(n * (tp + tn) - ((tp + fp) * (tp + fn) + (fn + tn) * (fp + tn))
                AS BIGINT) AS kappa_num,
           CAST(n * n - ((tp + fp) * (tp + fn) + (fn + tn) * (fp + tn))
                AS BIGINT) AS kappa_den,
           CAST(n * (tp + tn) - ((tp + fp) * (tp + fn) + (fn + tn) * (fp + tn))
                AS DOUBLE)
             / CAST(n * n - ((tp + fp) * (tp + fn) + (fn + tn) * (fp + tn))
                    AS DOUBLE) AS kappa
    FROM c
    WHERE n * n != (tp + fp) * (tp + fn) + (fn + tn) * (fp + tn)
    """,
)
def q129_filter_agreement_kappa(spark, sf_dir):
    """Cohen's kappa between two filters (the q42 gate and the length
    proxy) per language — chance-corrected agreement, the statistic that
    exposes a proxy that only LOOKS accurate because one class
    dominates. The float trap is po/pe with different denominators; put
    both over n^2 and kappa = (n*agree - Σ marginal products) /
    (n^2 - Σ marginal products) — BIGINT num/den emitted exactly, ONE
    division; degenerate tables (pe = 1) dropped. Same one-pass
    confusion aggregate as q128."""
    from .operators.text_analysis import gopher_quality

    d = _t(spark, sf_dir, "documents")
    lab = gopher_quality(d).select("doc_id", F.col("keep").alias("gate")).join(
        d.select("doc_id", "lang", (F.length("text") >= 150).alias("proxy")),
        "doc_id",
    )
    g, p = F.col("gate"), F.col("proxy")
    c = lab.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((g & p).cast("bigint")).alias("tp"),
        F.sum(((~g) & p).cast("bigint")).alias("fp"),
        F.sum((g & (~p)).cast("bigint")).alias("fn"),
        F.sum(((~g) & (~p)).cast("bigint")).alias("tn"),
    )
    pe = (F.col("tp") + F.col("fp")) * (F.col("tp") + F.col("fn")) + (
        F.col("fn") + F.col("tn")
    ) * (F.col("fp") + F.col("tn"))
    num = F.col("n") * (F.col("tp") + F.col("tn")) - pe
    den = F.col("n") * F.col("n") - pe
    return (
        c.filter(den != 0)
        .select(
            "lang",
            num.cast("bigint").alias("kappa_num"),
            den.cast("bigint").alias("kappa_den"),
            (num.cast("double") / den.cast("double")).alias("kappa"),
        )
    )


@register(
    "q130_time_weighted_value",
    """
    WITH p AS (
      SELECT user_id, event_id, ts,
             CAST(round(value * 100) AS BIGINT) AS cents,
             epoch_us(ts) AS t
      FROM events WHERE event_type = 'purchase'
    ),
    seg AS (
      SELECT user_id, cents, t,
             lead(t) OVER (PARTITION BY user_id
                           ORDER BY t ASC, event_id ASC) AS t_next
      FROM p
    )
    SELECT user_id,
           CAST(sum(cents * (t_next - t)) AS BIGINT) AS twa_num,
           CAST(max(t_next_max) - min(t) AS BIGINT) AS twa_den,
           CAST(sum(cents * (t_next - t)) AS DOUBLE)
             / CAST(max(t_next_max) - min(t) AS DOUBLE) AS twa_cents
    FROM (SELECT *, max(t) OVER (PARTITION BY user_id) AS t_next_max FROM seg)
    WHERE t_next IS NOT NULL
    GROUP BY user_id
    HAVING max(t_next_max) - min(t) > 0
    """,
)
def q130_time_weighted_value(spark, sf_dir):
    """Time-weighted average purchase value per user — the step-function
    integral ∫ value dt / span that billing/exposure metrics need (a
    plain mean overweights burst periods). Each observation holds until
    the next one (lead over the (t, id) total order); numerator =
    Σ cents × segment-µs and denominator = span-µs are exact BIGINTs
    (unix_micros — no float epochs; cents×µs stays ≤ 2^63 for spans to
    ~hundreds of years), ONE division. One window shuffle + same-key
    rollup; single-purchase users (no segment) drop out."""
    e = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    p = e.select(
        "user_id", "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
    )
    w = Window.partitionBy("user_id").orderBy(F.col("t").asc(), F.col("event_id").asc())
    wp = Window.partitionBy("user_id")
    seg = (
        p.withColumn("t_next", F.lead("t").over(w))
        .withColumn("t_max", F.max("t").over(wp))
        .filter(F.col("t_next").isNotNull())
    )
    num = F.sum(F.col("cents") * (F.col("t_next") - F.col("t")))
    den = F.max("t_max") - F.min("t")
    return (
        seg.groupBy("user_id")
        .agg(
            num.cast("bigint").alias("twa_num"),
            den.cast("bigint").alias("twa_den"),
            (num.cast("double") / den.cast("double")).alias("twa_cents"),
        )
        .filter(F.col("twa_den") > 0)
    )


def _q120_canonical(cc, lens):
    return (
        cc.join(lens, "id")
        .groupBy(F.col("component").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_members"),
            F.max(
                F.struct(F.col("n_chars"), (-F.col("id")).alias("_neg"))
            ).alias("_m"),
        )
        .select(
            "cluster_id",
            "n_members",
            (-F.col("_m._neg")).cast("bigint").alias("canonical_id"),
            F.col("_m.n_chars").cast("bigint").alias("canonical_chars"),
        )
    )


@register(
    "q131_activity_bitmap",
    """
    SELECT user_id,
           bit_or(CAST(1 AS BIGINT) << (CAST(extract(day FROM ts) AS INT) - 1))
             AS day_mask,
           bit_count(bit_or(CAST(1 AS BIGINT)
                            << (CAST(extract(day FROM ts) AS INT) - 1)))
             AS n_active_days,
           bit_or(CASE WHEN event_type = 'purchase'
                       THEN CAST(1 AS BIGINT)
                            << (CAST(extract(day FROM ts) AS INT) - 1)
                       ELSE CAST(0 AS BIGINT) END) AS purchase_mask,
           bit_count(bit_or(CASE WHEN event_type = 'purchase'
                                 THEN CAST(1 AS BIGINT)
                                      << (CAST(extract(day FROM ts) AS INT) - 1)
                                 ELSE CAST(0 AS BIGINT) END))
             AS n_purchase_days
    FROM events
    GROUP BY user_id
    """,
)
def q131_activity_bitmap(spark, sf_dir):
    """Per-user day-of-month activity bitmaps — the roaring-bitmap-style
    presence rollup behind retention/DAU systems, as a plain BIGINT
    bitmask: bit (day-1) set iff the user had any event that calendar
    day, one mask overall and one for purchases, cardinality via
    bit_count. bit_or is commutative/associative, so the aggregate
    map-side combines and two masks OR together under union — the
    mergeability that lets 10^12 events roll up without a distinct.
    All-integer outputs; day extraction pinned to the UTC session zone
    both engines share."""
    e = _t(spark, sf_dir, "events")
    # shiftleft() in the Python DSL takes a literal bit count; the SQL form
    # accepts a column expression
    day_bit = F.expr(
        "shiftleft(CAST(1 AS BIGINT), day(CAST(ts AS TIMESTAMP)) - 1)"
    )
    p_bit = F.when(F.col("event_type") == "purchase", day_bit).otherwise(
        F.lit(0).cast("bigint")
    )
    return e.groupBy("user_id").agg(
        F.bit_or(day_bit).alias("day_mask"),
        F.bit_count(F.bit_or(day_bit)).alias("n_active_days"),
        F.bit_or(p_bit).alias("purchase_mask"),
        F.bit_count(F.bit_or(p_bit)).alias("n_purchase_days"),
    )


@register(
    "q132_scd2_intervals",
    """
    WITH t AS (
      SELECT user_id, event_id, epoch_us(ts) AS t,
             CAST(floor(value / 25.0) AS BIGINT) AS tier
      FROM events
    ),
    chg AS (
      SELECT *,
             CASE WHEN lag(tier) OVER (PARTITION BY user_id
                                       ORDER BY t ASC, event_id ASC)
                       IS DISTINCT FROM tier
                  THEN 1 ELSE 0 END AS new_island
      FROM t
    ),
    isl AS (
      SELECT *,
             sum(new_island) OVER (PARTITION BY user_id
                                   ORDER BY t ASC, event_id ASC
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND CURRENT ROW) AS island
      FROM chg
    ),
    grp AS (
      SELECT user_id, island, min(tier) AS tier,
             min(t) AS valid_from_us, count(*) AS n_events
      FROM isl GROUP BY user_id, island
    )
    SELECT user_id, tier, valid_from_us,
           lead(valid_from_us) OVER (PARTITION BY user_id
                                     ORDER BY valid_from_us ASC) AS valid_to_us,
           n_events
    FROM grp
    """,
)
def q132_scd2_intervals(spark, sf_dir):
    """SCD Type-2 construction from a change log: compress each user's
    event stream into validity intervals of its value tier
    (floor(value/25)) — consecutive same-tier runs become one row with
    [valid_from, valid_to) half-open bounds, the current run open
    (valid_to NULL). The dimension-table build every warehouse needs
    when upstream emits observations, not intervals. Gaps-and-islands:
    lag-change flag -> running-sum island id -> per-island min/count ->
    lead for the closing bound; all three windows share ONE (user_id)
    partitioning so Spark plans a single sort+shuffle. Exact-µs
    BIGINT epochs; ties broken on event_id."""
    e = _t(spark, sf_dir, "events")
    t = e.select(
        "user_id", "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
        F.floor(F.col("value") / 25.0).cast("bigint").alias("tier"),
    )
    w = Window.partitionBy("user_id").orderBy(F.col("t").asc(), F.col("event_id").asc())
    chg = t.withColumn(
        "new_island",
        F.when(
            F.lag("tier").over(w).eqNullSafe(F.col("tier")), F.lit(0)
        ).otherwise(F.lit(1)),
    )
    isl = chg.withColumn(
        "island",
        F.sum("new_island").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    grp = isl.groupBy("user_id", "island").agg(
        F.min("tier").alias("tier"),
        F.min("t").alias("valid_from_us"),
        F.count(F.lit(1)).alias("n_events"),
    )
    wl = Window.partitionBy("user_id").orderBy(F.col("valid_from_us").asc())
    return grp.select(
        "user_id", "tier", "valid_from_us",
        F.lead("valid_from_us").over(wl).alias("valid_to_us"),
        "n_events",
    )


@register(
    "q133_out_of_order_audit",
    """
    WITH a AS (
      SELECT user_id, event_id, epoch_us(ts) AS t,
             max(epoch_us(ts)) OVER (PARTITION BY user_id
                                     ORDER BY event_id ASC
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND 1 PRECEDING) AS seen_max
      FROM events
    )
    SELECT user_id,
           count(*) AS n_events,
           CAST(sum(CASE WHEN seen_max > t THEN 1 ELSE 0 END) AS BIGINT)
             AS n_late,
           CAST(coalesce(max(CASE WHEN seen_max > t THEN seen_max - t END), 0)
                AS BIGINT) AS max_late_us,
           CAST(sum(CASE WHEN seen_max > t THEN seen_max - t ELSE 0 END)
                AS BIGINT) AS sum_late_us,
           CAST(sum(CASE WHEN seen_max - t > 60000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_late_over_1m
    FROM a
    GROUP BY user_id
    """,
)
def q133_out_of_order_audit(spark, sf_dir):
    """Event-time disorder audit — the measurement that sizes a
    streaming watermark: replay each user's stream in arrival order
    (event_id, the monotone ingest sequence) and compare every event's
    timestamp against the running max already seen; lateness =
    seen_max - t when positive. Emits per user the late count, max/sum
    lateness in exact µs, and how many would be dropped by a 1-minute
    watermark — run this batch audit BEFORE picking a streaming
    query's withWatermark() delay. One window over one (user)
    sort, exclusive upper bound so an event is never late against
    itself; all-integer outputs."""
    e = _t(spark, sf_dir, "events")
    a = e.select(
        "user_id", "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
    ).withColumn(
        "seen_max",
        F.max("t").over(
            Window.partitionBy("user_id")
            .orderBy(F.col("event_id").asc())
            .rowsBetween(Window.unboundedPreceding, -1)
        ),
    )
    late = F.when(F.col("seen_max") > F.col("t"), F.col("seen_max") - F.col("t"))
    return a.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(late.isNotNull().cast("int")).cast("bigint").alias("n_late"),
        F.coalesce(F.max(late), F.lit(0)).cast("bigint").alias("max_late_us"),
        F.sum(F.coalesce(late, F.lit(0))).cast("bigint").alias("sum_late_us"),
        F.sum(F.coalesce((late > 60000000).cast("int"), F.lit(0)))
        .cast("bigint")
        .alias("n_late_over_1m"),
    )


@register(
    "q134_equidepth_histogram",
    """
    WITH b AS (
      SELECT lang, n_chars,
             ntile(8) OVER (PARTITION BY lang
                            ORDER BY n_chars ASC, doc_id ASC) AS bucket
      FROM documents
    )
    SELECT lang, bucket,
           CAST(min(n_chars) AS BIGINT) AS lo,
           CAST(max(n_chars) AS BIGINT) AS hi,
           count(*) AS n
    FROM b GROUP BY lang, bucket
    """,
)
def q134_equidepth_histogram(spark, sf_dir):
    """Equi-depth histogram per language: 8 equal-count buckets over
    document length with exact [lo, hi] boundaries — the statistics
    object a cost-based optimizer or a range-partitioner builds
    (equal-WIDTH histograms lie under skew; equal-DEPTH boundaries are
    what rangepartitioning samples approximate). ntile is pinned to a
    total order (n_chars, doc_id) so both engines assign identical
    bucket membership; one window + one groupBy on the same key.
    At 10^12 rows the same shape runs on a per-partition sample —
    the boundaries here are the exact ground truth that validates it."""
    d = _t(spark, sf_dir, "documents")
    b = d.select(
        "lang", "n_chars",
        F.ntile(8)
        .over(
            Window.partitionBy("lang").orderBy(
                F.col("n_chars").asc(), F.col("doc_id").asc()
            )
        )
        .alias("bucket"),
    )
    return b.groupBy("lang", "bucket").agg(
        F.min("n_chars").cast("bigint").alias("lo"),
        F.max("n_chars").cast("bigint").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "q135_compaction_bins",
    """
    WITH files AS (
      SELECT lang, source,
             CAST(floor(n_chars / 100.0) AS BIGINT) AS len_bucket,
             CAST(sum(n_chars) AS BIGINT) AS bytes,
             count(*) AS n_docs
      FROM documents GROUP BY 1, 2, 3
    ),
    ofs AS (
      SELECT *,
             CAST(coalesce(sum(bytes) OVER (
                    ORDER BY lang ASC, source ASC, len_bucket ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS start_off
      FROM files
    )
    SELECT CAST(floor(start_off / 50000.0) AS BIGINT) AS bin_id,
           count(*) AS n_files,
           CAST(sum(bytes) AS BIGINT) AS bin_bytes,
           CAST(sum(n_docs) AS BIGINT) AS bin_docs,
           min(lang || '/' || source || '/' || CAST(len_bucket AS VARCHAR))
             AS first_file,
           max(lang || '/' || source || '/' || CAST(len_bucket AS VARCHAR))
             AS last_file
    FROM ofs GROUP BY 1
    """,
)
def q135_compaction_bins(spark, sf_dir):
    """Compaction planning — assign small files (here: the per
    (lang, source, length-bucket) manifest entries with their byte
    sizes) to target-sized rewrite bins by cumulative byte offset:
    bin = start_offset / 50 KB over the key-sorted manifest. This is
    the offset-chunking plan an Iceberg/Delta OPTIMIZE job executes
    (deterministic, key-locality-preserving, one pass — unlike best-fit
    packing it needs no sequential state, so the planner itself scales
    to millions of files). Exact-integer window cumsum; the global sort
    is over the MANIFEST (file grain), never the data."""
    d = _t(spark, sf_dir, "documents")
    files = d.groupBy(
        "lang", "source",
        F.floor(F.col("n_chars") / 100.0).cast("bigint").alias("len_bucket"),
    ).agg(
        F.sum("n_chars").cast("bigint").alias("bytes"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    w = Window.orderBy(
        F.col("lang").asc(), F.col("source").asc(), F.col("len_bucket").asc()
    ).rowsBetween(Window.unboundedPreceding, -1)
    ofs = files.withColumn(
        "start_off", F.coalesce(F.sum("bytes").over(w), F.lit(0)).cast("bigint")
    )
    fkey = F.concat_ws(
        "/", F.col("lang"), F.col("source"), F.col("len_bucket").cast("string")
    )
    return (
        ofs.groupBy(F.floor(F.col("start_off") / 50000.0).cast("bigint").alias("bin_id"))
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("bytes").cast("bigint").alias("bin_bytes"),
            F.sum("n_docs").cast("bigint").alias("bin_docs"),
            F.min(fkey).alias("first_file"),
            F.max(fkey).alias("last_file"),
        )
    )


@register(
    "q136_l_diversity_audit",
    """
    WITH q AS (
      SELECT lang, source,
             CAST(floor(n_chars / 100.0) AS BIGINT) AS len_bucket,
             substr(text, 1, 1) AS sensitive
      FROM documents WHERE text IS NOT NULL AND text <> ''
    )
    SELECT lang, source, len_bucket,
           count(*) AS class_size,
           count(DISTINCT sensitive) AS l_distinct,
           (count(DISTINCT sensitive) < 3) AS at_risk
    FROM q GROUP BY 1, 2, 3
    """,
)
def q136_l_diversity_audit(spark, sf_dir):
    """l-diversity audit — the stronger release screen after q125's
    k-anonymity: a class can be large (k-anonymous) yet expose its
    members if the SENSITIVE attribute (here the document's leading
    character as a stand-in label) is near-constant within it. Emits
    per quasi-identifier class the size, the number of distinct
    sensitive values, and the l<3 risk flag. One groupBy with a
    distinct-count — map-side partials on (class, sensitive) first,
    so the hot classes never funnel raw rows to one reducer."""
    d = _t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.col("text") != "")
    )
    q = d.select(
        "lang", "source",
        F.floor(F.col("n_chars") / 100.0).cast("bigint").alias("len_bucket"),
        F.substring("text", 1, 1).alias("sensitive"),
    )
    return q.groupBy("lang", "source", "len_bucket").agg(
        F.count(F.lit(1)).alias("class_size"),
        F.countDistinct("sensitive").alias("l_distinct"),
        (F.countDistinct("sensitive") < 3).alias("at_risk"),
    )


from .operators.sketches import hll_sql as _hll_sql_fn  # noqa: E402


@register("q137_hll_distinct", _hll_sql_fn("documents", "text", "lang"))
def q137_hll_distinct(spark, sf_dir):
    """HyperLogLog distinct-content cardinality per language — the
    industry-standard mergeable register sketch, built (like q69's KMV)
    so the registers themselves value-match any engine: md5 bucket +
    leading-zero rank, exact-BIGINT harmonic sum, ONE integer division
    for the estimate, md5 digest over the sorted registers. Where KMV
    keeps k hashes, HLL keeps m=16 five-bit registers — the footprint
    that makes 10^12-row distinct counting a map-side combine. Spark's
    own approx_count_distinct is HLL++ with engine-private registers —
    reproducible by nothing else, hence untestable; this one is the
    auditable version. n_exact is the accuracy exhibit column."""
    from .operators.sketches import hll_distinct

    return hll_distinct(_t(spark, sf_dir, "documents"), key="text", group="lang")


@register(
    "q138_grid_neighbor_join",
    """
    WITH p AS (
      SELECT event_id,
             CAST(round(value * 100) AS BIGINT) % 1000 AS x,
             (event_id * 2654435761) % 1000 AS y
      FROM events WHERE event_type = 'purchase'
    )
    SELECT a.event_id AS id_a, b.event_id AS id_b,
           greatest(abs(a.x - b.x), abs(a.y - b.y)) AS cheb
    FROM p a JOIN p b
      ON a.event_id < b.event_id
     AND abs(a.x - b.x) <= 8 AND abs(a.y - b.y) <= 8
    """,
)
def q138_grid_neighbor_join(spark, sf_dir):
    """Grid-bucketed neighbor join: all purchase-event pairs within
    Chebyshev distance 8 in a derived integer feature space (cents-mod
    x Knuth-hash y — stand-ins for any 2-D embedding/geo coordinate).
    The Spark side snaps points to 16-unit cells and explodes each
    probe row to its 3x3 neighbor cells -> EQUI-join on cell + exact
    distance filter: every qualifying pair is found exactly once
    (the build row lives in one cell), candidate count is bounded by
    local density, and the plan is a hash join — never the O(N^2)
    cross product the oracle (IEJoin-able in DuckDB at sf0.01) runs.
    This is the cell-list pattern that scales neighbor search to
    10^12 points; radius r <= cell size keeps 9 cells sufficient."""
    e = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    p = e.select(
        "event_id",
        (F.round(F.col("value") * 100).cast("bigint") % 1000).alias("x"),
        ((F.col("event_id") * 2654435761) % 1000).alias("y"),
    )
    # cell size = radius (8, was 16): 4x lower per-cell density, and the
    # HALF-SPACE offset enumeration ((0,0),(1,0),(0,1),(1,1),(1,-1))
    # visits each unordered cell pair once instead of the full 3x3
    # neighborhood visiting it from both sides — together ~7x fewer
    # candidate rows through the exact distance filter, identical output
    # (pairs are re-ordered to id_a < id_b after the join; the (0,0)
    # offset keeps the id ordering in the join condition as before).
    cell = p.withColumn("cx", F.floor(F.col("x") / 8)).withColumn(
        "cy", F.floor(F.col("y") / 8)
    )
    offsets = [(0, 0), (1, 0), (0, 1), (1, 1), (1, -1)]
    probe = (
        cell.select(
            "event_id", "x", "y", "cx", "cy",
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(dx).alias("dx"), F.lit(dy).alias("dy")
                    )
                    for dx, dy in offsets
                ])
            ).alias("_d"),
        )
        .select(
            "event_id", "x", "y",
            (F.col("cx") + F.col("_d.dx")).alias("ncx"),
            (F.col("cy") + F.col("_d.dy")).alias("ncy"),
            ((F.col("_d.dx") == 0) & (F.col("_d.dy") == 0)).alias("_same"),
        )
    )
    build = cell.select(
        F.col("event_id").alias("id_b"), F.col("x").alias("xb"),
        F.col("y").alias("yb"), "cx", "cy",
    )
    pairs = probe.join(
        build,
        (F.col("ncx") == F.col("cx")) & (F.col("ncy") == F.col("cy"))
        & (~F.col("_same") | (F.col("event_id") < F.col("id_b"))),
    ).filter(
        (F.abs(F.col("x") - F.col("xb")) <= 8)
        & (F.abs(F.col("y") - F.col("yb")) <= 8)
    )
    return pairs.select(
        F.least(F.col("event_id"), F.col("id_b")).alias("id_a"),
        F.greatest(F.col("event_id"), F.col("id_b")).alias("id_b"),
        F.greatest(
            F.abs(F.col("x") - F.col("xb")), F.abs(F.col("y") - F.col("yb"))
        ).alias("cheb"),
    )


@register(
    "q139_chi2_independence",
    r"""
    WITH t AS (
      SELECT doc_id, lang, text, length(text) AS n_chars,
             regexp_split_to_array(trim(text), '\s+') AS w
      FROM documents
    ),
    lab AS (
      SELECT lang,
             (len(w) >= 30 AND len(w) <= 1000
              AND 3 * len(w) <= CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT)
              AND CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT) <= 10 * len(w)
              AND len(regexp_extract_all(text, '\b(the|a|and|of|to|in)\b')) >= 2
              AND 20 * len(regexp_extract_all(text, '[^a-z0-9 ]')) <= n_chars
              AND 2 * len(list_distinct(w)) >= len(w)) AS gate,
             (n_chars >= 150) AS proxy
      FROM t
    ),
    c AS (
      SELECT lang,
             count(*) AS n,
             sum(CASE WHEN gate AND proxy THEN 1 ELSE 0 END)::BIGINT AS tp,
             sum(CASE WHEN NOT gate AND proxy THEN 1 ELSE 0 END)::BIGINT AS fp,
             sum(CASE WHEN gate AND NOT proxy THEN 1 ELSE 0 END)::BIGINT AS fn,
             sum(CASE WHEN NOT gate AND NOT proxy THEN 1 ELSE 0 END)::BIGINT AS tn
      FROM lab GROUP BY lang
    )
    SELECT lang, n, tp, fp, fn, tn,
           CAST(tp * tn - fp * fn AS BIGINT) AS det,
           CAST(n AS DOUBLE) * CAST(tp * tn - fp * fn AS DOUBLE)
             * CAST(tp * tn - fp * fn AS DOUBLE)
             / (CAST(tp + fp AS DOUBLE) * CAST(fn + tn AS DOUBLE)
                * CAST(tp + fn AS DOUBLE) * CAST(fp + tn AS DOUBLE)) AS chi2
    FROM c
    WHERE (tp + fp) * (fn + tn) * (tp + fn) * (fp + tn) > 0
    """,
)
def q139_chi2_independence(spark, sf_dir):
    """Pearson chi-square independence test per language between the q42
    quality gate and the cheap length proxy — the 2x2 contingency
    significance statistic (the kappa of q129 measures agreement; chi2
    asks whether the association could be chance). The determinant
    tp*tn - fp*fn is an exact BIGINT; chi2 = n*det^2 / (r1*r2*c1*c2) is
    evaluated in ONE fixed multiply/divide order of exact-integer-valued
    doubles, so both engines produce the identical IEEE result without
    rounding tricks. Same one-pass confusion aggregate as q128/q129;
    degenerate margins dropped."""
    from .operators.text_analysis import gopher_quality

    d = _t(spark, sf_dir, "documents")
    lab = gopher_quality(d).select("doc_id", F.col("keep").alias("gate")).join(
        d.select("doc_id", "lang", (F.length("text") >= 150).alias("proxy")),
        "doc_id",
    )
    g, p = F.col("gate"), F.col("proxy")
    c = lab.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((g & p).cast("bigint")).alias("tp"),
        F.sum(((~g) & p).cast("bigint")).alias("fp"),
        F.sum((g & (~p)).cast("bigint")).alias("fn"),
        F.sum(((~g) & (~p)).cast("bigint")).alias("tn"),
    )
    det = (F.col("tp") * F.col("tn") - F.col("fp") * F.col("fn")).cast("bigint")
    r1, r2 = F.col("tp") + F.col("fp"), F.col("fn") + F.col("tn")
    c1, c2 = F.col("tp") + F.col("fn"), F.col("fp") + F.col("tn")
    chi2 = (
        F.col("n").cast("double") * det.cast("double") * det.cast("double")
        / (r1.cast("double") * r2.cast("double") * c1.cast("double") * c2.cast("double"))
    )
    return (
        c.filter((r1 * r2 * c1 * c2) > 0)
        .select("lang", "n", "tp", "fp", "fn", "tn", det.alias("det"), chi2.alias("chi2"))
    )


@register(
    "q140_copurchase_reach",
    """
    WITH p AS (
      SELECT DISTINCT user_id,
             CAST(floor(round(value * 100) / 1000.0) AS BIGINT) AS band
      FROM events WHERE event_type = 'purchase'
    ),
    e AS (
      SELECT DISTINCT a.user_id AS a, b.user_id AS b
      FROM p a JOIN p b ON a.band = b.band AND a.user_id < b.user_id
    ),
    sym AS (
      SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e
    ),
    h0 AS (SELECT DISTINCT user_id FROM p WHERE user_id % 37 = 0),
    h1 AS (
      SELECT DISTINCT sym.b AS user_id
      FROM sym JOIN h0 ON sym.a = h0.user_id
    ),
    h2 AS (
      SELECT DISTINCT sym.b AS user_id
      FROM sym JOIN h1 ON sym.a = h1.user_id
    ),
    u AS (
      SELECT user_id, 0 AS hops FROM h0
      UNION ALL SELECT user_id, 1 FROM h1
      UNION ALL SELECT user_id, 2 FROM h2
    )
    SELECT user_id, CAST(min(hops) AS INT) AS min_hops FROM u GROUP BY user_id
    """,
)
def q140_copurchase_reach(spark, sf_dir):
    """2-hop BFS reachability over the co-purchase graph (users who
    bought in the same 10-unit price band are adjacent): every user
    within <= 2 hops of the seed set (user_id % 37 == 0) with their
    minimum hop count — the frontier-expansion primitive behind
    influence/abuse-ring queries. Each BFS round is ONE equi-join of
    the frontier against the edge list (never edges x edges); edges
    come from the shared hot-key-capped pair generator (the cap cannot
    engage below 1024 distinct users per band — structurally true at
    oracle scale — and at 10^12 rows it degrades hot bands to star
    edges, keeping rounds linear). min-hops via one rollup over the
    stacked frontiers."""
    from .operators.pairs import capped_key_pairs

    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    p = ev.select(
        "user_id",
        F.floor(F.round(F.col("value") * 100) / 1000.0).cast("bigint").alias("band"),
    ).distinct()
    e = capped_key_pairs(p, "band", "user_id").distinct()
    sym = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    h0 = p.filter(F.col("user_id") % 37 == 0).select("user_id").distinct()
    h1 = (
        sym.join(h0.withColumnRenamed("user_id", "a"), "a")
        .select(F.col("b").alias("user_id"))
        .distinct()
    )
    h2 = (
        sym.join(h1.withColumnRenamed("user_id", "a"), "a")
        .select(F.col("b").alias("user_id"))
        .distinct()
    )
    u = (
        h0.withColumn("hops", F.lit(0))
        .unionByName(h1.withColumn("hops", F.lit(1)))
        .unionByName(h2.withColumn("hops", F.lit(2)))
    )
    return u.groupBy("user_id").agg(F.min("hops").cast("int").alias("min_hops"))


@register(
    "q141_topk_movers",
    """
    WITH s AS (
      SELECT user_id,
             CASE WHEN extract(day FROM ts) <= 15 THEN 0 ELSE 1 END AS half,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ),
    agg AS (
      SELECT user_id, half, sum(cents) AS spend
      FROM s GROUP BY user_id, half
    ),
    r AS (
      SELECT user_id, half, spend,
             row_number() OVER (PARTITION BY half
                                ORDER BY spend DESC, user_id ASC) AS rk
      FROM agg
    )
    SELECT a.user_id,
           a.spend AS spend_h1, b.spend AS spend_h2,
           a.rk AS rank_h1, b.rk AS rank_h2,
           CAST(a.rk - b.rk AS BIGINT) AS rank_gain
    FROM r a JOIN r b ON a.user_id = b.user_id AND a.half = 0 AND b.half = 1
    WHERE abs(a.rk - b.rk) >= 20
    """,
)
def q141_topk_movers(spark, sf_dir):
    """Trending detection — users whose spend RANK moved >= 20 places
    between the first and second half of the month (rank deltas, not
    value deltas, so a whale's noise does not drown every mover). One
    aggregate on (user, half), one ranking window per half pinned to a
    (spend, user_id) total order, self-join on user — all exact
    integers. The window partitions by half, so at 10^12 rows each
    ranking is its own parallel sort, and the final join is on the
    aggregate (user grain), never events."""
    e = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    s = e.select(
        "user_id",
        F.when(F.dayofmonth(F.col("ts").cast("timestamp")) <= 15, 0)
        .otherwise(1)
        .alias("half"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    agg = s.groupBy("user_id", "half").agg(F.sum("cents").alias("spend"))
    w = Window.partitionBy("half").orderBy(F.col("spend").desc(), F.col("user_id").asc())
    r = agg.withColumn("rk", F.row_number().over(w))
    a = r.filter(F.col("half") == 0).select(
        "user_id", F.col("spend").alias("spend_h1"), F.col("rk").alias("rank_h1")
    )
    b = r.filter(F.col("half") == 1).select(
        "user_id", F.col("spend").alias("spend_h2"), F.col("rk").alias("rank_h2")
    )
    return (
        a.join(b, "user_id")
        .withColumn("rank_gain", (F.col("rank_h1") - F.col("rank_h2")).cast("bigint"))
        .filter(F.abs(F.col("rank_gain")) >= 20)
        .select("user_id", "spend_h1", "spend_h2", "rank_h1", "rank_h2", "rank_gain")
    )


# Benford expected first-digit probabilities, milli-units: floor(log10(1+1/d)*1000)
_BENFORD_MILLI = {1: 301, 2: 176, 3: 124, 4: 96, 5: 79, 6: 66, 7: 57, 8: 51, 9: 45}


@register(
    "q142_benford_audit",
    f"""
    WITH d AS (
      SELECT event_type,
             CAST(substr(CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR), 1, 1)
                  AS BIGINT) AS digit
      FROM events WHERE value > 0
    ),
    c AS (
      SELECT event_type, digit, count(*) AS n_d FROM d GROUP BY 1, 2
    ),
    tot AS (SELECT event_type, sum(n_d) AS n FROM c GROUP BY 1),
    exp AS (
      SELECT * FROM (VALUES {", ".join(f"({k}, {v})" for k, v in _BENFORD_MILLI.items())})
        AS t(digit, benford_milli)
    )
    SELECT c.event_type, c.digit, c.n_d, exp.benford_milli,
           CAST(abs(1000 * c.n_d - exp.benford_milli * tot.n) AS BIGINT) AS dev_num,
           CAST(1000 * tot.n AS BIGINT) AS dev_den
    FROM c JOIN tot ON tot.event_type = c.event_type
           JOIN exp ON exp.digit = c.digit
    """,
)
def q142_benford_audit(spark, sf_dir):
    """Benford's-law first-digit audit per event type — the forensic
    data-quality screen for fabricated or truncated numeric columns:
    observed first-significant-digit counts of the cent amounts vs the
    expected log10(1+1/d) distribution, deviation as an exact integer
    rational |1000*n_d - milli_d*n| / 1000n (cross-multiplied — no
    float shares). The expected table is nine literal rows broadcast to
    the counts; everything else is one groupBy."""
    e = _t(spark, sf_dir, "events").filter(F.col("value") > 0)
    d = e.select(
        "event_type",
        F.substring(
            F.round(F.col("value") * 100).cast("bigint").cast("string"), 1, 1
        ).cast("bigint").alias("digit"),
    )
    c = d.groupBy("event_type", "digit").agg(F.count(F.lit(1)).alias("n_d"))
    tot = c.groupBy("event_type").agg(F.sum("n_d").alias("n"))
    exp = F.broadcast(
        spark.createDataFrame(
            list(_BENFORD_MILLI.items()), "digit long, benford_milli long"
        )
    )
    return (
        c.join(tot, "event_type")
        .join(exp, "digit")
        .select(
            "event_type", "digit", "n_d", "benford_milli",
            F.abs(1000 * F.col("n_d") - F.col("benford_milli") * F.col("n"))
            .cast("bigint")
            .alias("dev_num"),
            (1000 * F.col("n")).cast("bigint").alias("dev_den"),
        )
    )


@register(
    "q143_pruning_audit",
    """
    WITH f AS (
      SELECT CAST(floor(l_orderkey / 1000.0) AS BIGINT) AS file_id,
             count(*) AS n_rows,
             min(epoch_us(l_shipdate)) AS lo_ship,
             max(epoch_us(l_shipdate)) AS hi_ship
      FROM lineitem GROUP BY 1
    ),
    preds AS (
      SELECT * FROM (VALUES
        ('y1995', epoch_us(TIMESTAMP '1995-01-01'), epoch_us(TIMESTAMP '1995-12-31 23:59:59.999999')),
        ('y1997', epoch_us(TIMESTAMP '1997-01-01'), epoch_us(TIMESTAMP '1997-12-31 23:59:59.999999')),
        ('h1_1999', epoch_us(TIMESTAMP '1999-01-01'), epoch_us(TIMESTAMP '1999-06-30 23:59:59.999999')),
        ('all', epoch_us(TIMESTAMP '1992-01-01'), epoch_us(TIMESTAMP '2003-01-01'))
      ) AS t(pred, lo, hi)
    )
    SELECT pred,
           count(*) AS n_files,
           CAST(sum(CASE WHEN hi_ship < lo OR lo_ship > hi THEN 1 ELSE 0 END)
                AS BIGINT) AS n_skipped,
           CAST(sum(CASE WHEN hi_ship < lo OR lo_ship > hi THEN 0 ELSE n_rows END)
                AS BIGINT) AS rows_scanned
    FROM f CROSS JOIN preds
    GROUP BY pred
    """,
)
def q143_pruning_audit(spark, sf_dir):
    """Zone-map pruning audit: for each candidate ship-date predicate,
    how many files (1000-order key ranges standing in for parquet row
    groups) min/max stats alone would skip, and the residual rows a
    pruned scan still reads — the measurement that tells you whether a
    table's layout supports its query pattern BEFORE you pay for a
    z-order rewrite (q110). File stats = one groupBy at file grain;
    the predicate set is a 4-row literal broadcast; exact-µs bounds."""
    li = _t(spark, sf_dir, "lineitem")
    f = li.groupBy(
        F.floor(F.col("l_orderkey") / 1000.0).cast("bigint").alias("file_id")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min(F.unix_micros(F.col("l_shipdate").cast("timestamp"))).alias("lo_ship"),
        F.max(F.unix_micros(F.col("l_shipdate").cast("timestamp"))).alias("hi_ship"),
    )
    import datetime as _dt

    def _us(s):
        return int(
            _dt.datetime.strptime(s, "%Y-%m-%d %H:%M:%S.%f")
            .replace(tzinfo=_dt.timezone.utc)
            .timestamp()
            * 1_000_000
        )

    preds = F.broadcast(
        spark.createDataFrame(
            [
                ("y1995", _us("1995-01-01 00:00:00.0"), _us("1995-12-31 23:59:59.999999")),
                ("y1997", _us("1997-01-01 00:00:00.0"), _us("1997-12-31 23:59:59.999999")),
                ("h1_1999", _us("1999-01-01 00:00:00.0"), _us("1999-06-30 23:59:59.999999")),
                ("all", _us("1992-01-01 00:00:00.0"), _us("2003-01-01 00:00:00.0")),
            ],
            "pred string, lo long, hi long",
        )
    )
    skipped = (F.col("hi_ship") < F.col("lo")) | (F.col("lo_ship") > F.col("hi"))
    return (
        f.crossJoin(preds)
        .groupBy("pred")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum(skipped.cast("int")).cast("bigint").alias("n_skipped"),
            F.sum(F.when(skipped, 0).otherwise(F.col("n_rows")))
            .cast("bigint")
            .alias("rows_scanned"),
        )
    )


def _q144_sql() -> str:
    corpus_all = _CORPUS_SQL.replace("corpus AS (", "corpus_all AS (", 1)
    return rf"""
    WITH {corpus_all},
    corpus AS (SELECT * FROM corpus_all WHERE doc_id % 10 = 0),
    {_MINHASH_SQL_BODY},
    sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
    ip AS (
      SELECT x.id AS a, y.id AS b, count(*) AS inter
      FROM sh x JOIN sh y ON x.s = y.s AND x.id < y.id
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT ip.a, ip.b FROM ip
      JOIN sizes za ON za.id = ip.a
      JOIN sizes zb ON zb.id = ip.b
      WHERE 10 * inter >= 6 * (za.sz + zb.sz - inter)
    ),
    caught AS (
      SELECT t.a, t.b FROM truth t JOIN cand c ON c.a = t.a AND c.b = t.b
    )
    SELECT (SELECT count(*) FROM truth)  AS n_truth,
           (SELECT count(*) FROM caught) AS n_caught,
           (SELECT count(*) FROM cand)   AS n_cand_sample,
           (SELECT count(*) FROM caught)::DOUBLE
             / (SELECT count(*) FROM truth)::DOUBLE AS recall
    """


@register("q144_blocking_recall", _q144_sql())
def q144_blocking_recall(spark, sf_dir):
    """Pairs-completeness (blocking recall) of the q21 MinHash/LSH
    candidate generator, measured against EXHAUSTIVE ground truth on a
    10% id-sample of the corpus — the evaluation a dedup pipeline owes
    its banding config before anyone trusts its 10^12-doc run. Ground
    truth = every sampled pair with distinct-shingle Jaccard >= 0.6
    (the q22 verify criterion in exact cross-multiplied integers),
    found via the shared-shingle equi-join (a qualifying pair always
    shares a shingle — no all-pairs scan even inside the sample);
    candidates = the production banding over the same sampled docs
    (band keys are per-doc, so sample candidates equal full-corpus
    candidates restricted to the sample, modulo the hot-key cap that
    is itself part of what recall measures at scale). One row:
    truth/caught/candidate counts + recall, ONE division."""
    from .operators.dedup import lsh_candidate_pairs, minhash_profiles, shingles

    samp = _corpus(spark, sf_dir).filter(F.col("doc_id") % 10 == 0)
    # NOTE(r6): measured — checkpointing the sampled shingle table costs
    # more in materialization jobs than the 10%-sample recompute it saves;
    # the lazy form stays.
    sh = shingles(samp, distinct=True)
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    ip = (
        sh.select(F.col("id").alias("a"), "s")
        .join(sh.select(F.col("id").alias("b"), "s"), "s")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    truth = (
        ip.join(sizes.withColumnsRenamed({"id": "a", "sz": "sz_a"}), "a")
        .join(sizes.withColumnsRenamed({"id": "b", "sz": "sz_b"}), "b")
        .filter(
            10 * F.col("inter")
            >= 6 * (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
        )
        .select("a", "b")
    )
    cand = lsh_candidate_pairs(minhash_profiles(samp)).withColumnsRenamed(
        {"doc_a": "a", "doc_b": "b"}
    )
    caught = truth.join(cand, ["a", "b"], "left_semi")
    nt = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    nc = caught.agg(F.count(F.lit(1)).alias("n_caught"))
    ns = cand.agg(F.count(F.lit(1)).alias("n_cand_sample"))
    return (
        nt.crossJoin(nc)
        .crossJoin(ns)
        .withColumn(
            "recall",
            F.col("n_caught").cast("double") / F.col("n_truth").cast("double"),
        )
    )


@register(
    "q145_top_decile_share",
    """
    WITH s AS (
      SELECT user_id, CAST(sum(round(value * 100)) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    r AS (
      SELECT user_id, cents,
             row_number() OVER (ORDER BY cents DESC, user_id ASC) AS rk,
             count(*) OVER () AS n_users,
             CAST(sum(cents) OVER () AS BIGINT) AS total_cents
      FROM s
    )
    SELECT CAST(max(n_users) AS BIGINT) AS n_users,
           CAST(CAST(ceil(max(n_users) / 10.0) AS BIGINT) AS BIGINT) AS k,
           CAST(sum(CASE WHEN rk <= ceil(n_users / 10.0) THEN cents ELSE 0 END)
                AS BIGINT) AS top_cents,
           CAST(max(total_cents) AS BIGINT) AS total_cents,
           CAST(sum(CASE WHEN rk <= ceil(n_users / 10.0) THEN cents ELSE 0 END)
                AS DOUBLE) / CAST(max(total_cents) AS DOUBLE) AS share
    FROM r
    """,
)
def q145_top_decile_share(spark, sf_dir):
    """Top-decile concentration: what share of total purchase value the
    top 10% of users hold — the one-number inequality readout (q126's
    Gini is the integral; this is the headline). Spend ranked on a
    pinned (cents, user) order; k = ceil(n/10) computed from the bounded
    user count; exact-cent integer sums, ONE division. Ranking runs as the
    range-partitioned sort + partition-offset rank
    (operators/sampling.with_global_rank) — no single-partition window."""
    import math

    from .operators.sampling import with_global_rank

    e = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    s = e.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100)).cast("bigint").alias("cents")
    )
    r = with_global_rank(s, [F.col("cents").desc(), F.col("user_id").asc()], "rk")
    n_users = r.count()  # bounded: one scalar off the pinned entity table
    k = int(math.ceil(n_users / 10.0))
    top = F.sum(F.when(F.col("rk") <= k, F.col("cents")).otherwise(0)).cast("bigint")
    return r.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.lit(k).cast("bigint").alias("k"),
        top.alias("top_cents"),
        F.sum("cents").cast("bigint").alias("total_cents"),
        (top.cast("double") / F.sum("cents").cast("double")).alias("share"),
    )


@register(
    "q146_rolling_wau",
    """
    WITH du AS (
      SELECT DISTINCT CAST(extract(day FROM ts) AS BIGINT) AS day, user_id
      FROM events
    ),
    tgt AS (
      SELECT unnest(generate_series(day, least(day + 6, 31))) AS t, user_id
      FROM du
    ),
    wau AS (SELECT t AS day, count(DISTINCT user_id) AS wau FROM tgt GROUP BY t),
    dau AS (SELECT day, count(*) AS dau FROM du GROUP BY day)
    SELECT w.day, d.dau, w.wau,
           CAST(d.dau AS DOUBLE) / CAST(w.wau AS DOUBLE) AS stickiness
    FROM wau w JOIN dau d ON d.day = w.day
    """,
)
def q146_rolling_wau(spark, sf_dir):
    """Rolling 7-day active users (WAU) per day plus DAU/WAU stickiness
    — the engagement metric every product dashboard runs, as a
    set-distinct sliding window: each (day, user) presence row is
    exploded to the <= 7 target days it supports, then ONE distinct
    count per target day (never a 7-way self-join of the raw events).
    Presence is deduped FIRST, so the explode is at (day x user) grain
    — at 10^12 events that is the compression that makes the window
    affordable. Exact integers + one division."""
    e = _t(spark, sf_dir, "events")
    du = e.select(
        F.dayofmonth(F.col("ts").cast("timestamp")).cast("bigint").alias("day"),
        "user_id",
    ).distinct()
    tgt = du.select(
        F.explode(
            F.sequence(F.col("day"), F.least(F.col("day") + 6, F.lit(31)))
        ).alias("t"),
        "user_id",
    )
    wau = tgt.groupBy(F.col("t").alias("day")).agg(
        F.countDistinct("user_id").alias("wau")
    )
    dau = du.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    return wau.join(dau, "day").select(
        "day", "dau", "wau",
        (F.col("dau").cast("double") / F.col("wau").cast("double")).alias("stickiness"),
    )


@register(
    "q147_watermark_coverage",
    """
    WITH a AS (
      SELECT user_id, event_id, epoch_us(ts) AS t,
             max(epoch_us(ts)) OVER (PARTITION BY user_id
                                     ORDER BY event_id ASC
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND 1 PRECEDING) AS seen_max
      FROM events
    ),
    lat AS (
      SELECT CASE WHEN seen_max > t THEN seen_max - t ELSE 0 END AS late_us
      FROM a
    ),
    delays AS (
      SELECT * FROM (VALUES (0::BIGINT), (1000000::BIGINT),
                            (10000000::BIGINT), (60000000::BIGINT)) AS t(delay_us)
    )
    SELECT delay_us,
           CAST(sum(CASE WHEN late_us <= delay_us THEN 1 ELSE 0 END) AS BIGINT)
             AS n_admitted,
           count(*) AS n_total,
           CAST(sum(CASE WHEN late_us <= delay_us THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) AS coverage
    FROM lat CROSS JOIN delays
    GROUP BY delay_us
    """,
)
def q147_watermark_coverage(spark, sf_dir):
    """Watermark delay -> admitted-event coverage curve: for each
    candidate withWatermark() delay (0s/1s/10s/60s), the fraction of
    events a streaming job would ADMIT given the observed arrival
    disorder (q133's lateness replay) — the four-point curve you read
    before trading state size against completeness. Lateness computed
    once per event; the delay grid is a literal broadcast; exact
    integer counts, one division per row."""
    e = _t(spark, sf_dir, "events")
    a = e.select(
        "user_id", "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
    ).withColumn(
        "seen_max",
        F.max("t").over(
            Window.partitionBy("user_id")
            .orderBy(F.col("event_id").asc())
            .rowsBetween(Window.unboundedPreceding, -1)
        ),
    )
    lat = a.select(
        F.when(F.col("seen_max") > F.col("t"), F.col("seen_max") - F.col("t"))
        .otherwise(0)
        .alias("late_us")
    )
    delays = F.broadcast(
        spark.createDataFrame(
            [(0,), (1_000_000,), (10_000_000,), (60_000_000,)], "delay_us long"
        )
    )
    adm = F.sum((F.col("late_us") <= F.col("delay_us")).cast("int")).cast("bigint")
    return (
        lat.crossJoin(delays)
        .groupBy("delay_us")
        .agg(
            adm.alias("n_admitted"),
            F.count(F.lit(1)).alias("n_total"),
            (adm.cast("double") / F.count(F.lit(1)).cast("double")).alias("coverage"),
        )
    )


@register(
    "q148_table_checksum",
    """
    WITH h AS (
      SELECT lang,
             CAST(list_sum(list_transform(range(1, 16), i ->
               (strpos('0123456789abcdef',
                       substr(md5(CAST(doc_id AS VARCHAR) || '|'
                                  || coalesce(text, '')), i, 1)) - 1)::BIGINT
               * (16::BIGINT ** (15 - i))::BIGINT)) AS BIGINT) AS hv
      FROM documents
    )
    SELECT lang, count(*) AS n_rows,
           bit_xor(hv) AS xor_digest,
           CAST(sum(hv % 1000003) AS BIGINT) AS sum_digest
    FROM h GROUP BY lang
    """,
)
def q148_table_checksum(spark, sf_dir):
    """Order-independent table content checksum per partition (lang):
    XOR plus modular-sum of a 60-bit per-row digest — the replication/
    migration integrity fingerprint two engines (or two clusters) can
    compare without moving data. Both aggregates are commutative and
    map-side combinable, so at 10^12 rows this is one narrow pass (the
    string_agg-style ordered digest is NOT — that is why this uses
    XOR+sum channels; the sum channel catches the duplicated-row-pair
    case XOR alone cancels). Row digest = md5(doc_id | text) parsed to
    the same 60-bit int in both engines (the q69/q137 hex idiom)."""
    d = _t(spark, sf_dir, "documents")
    hv = F.conv(
        F.substring(
            F.md5(
                F.concat_ws("|", F.col("doc_id").cast("string"),
                            F.coalesce(F.col("text"), F.lit("")))
            ),
            1, 15,
        ),
        16, 10,
    ).cast("bigint")
    return d.select("lang", hv.alias("hv")).groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.bit_xor(F.col("hv")).alias("xor_digest"),
        F.sum(F.col("hv") % 1000003).cast("bigint").alias("sum_digest"),
    )


@register(
    "q149_negative_sampling",
    """
    WITH pos AS (
      SELECT DISTINCT user_id,
             CAST(floor(round(value * 100) / 1000.0) AS BIGINT) AS band
      FROM events WHERE event_type = 'purchase'
    ),
    cand AS (
      SELECT u.user_id, t.i,
             (u.user_id * 2654435761 + t.i * 97) % 38 AS neg_band
      FROM (SELECT DISTINCT user_id FROM pos) u
      CROSS JOIN (SELECT unnest([0, 1, 2]) AS i) t
    ),
    valid AS (
      SELECT c.user_id, c.i, c.neg_band
      FROM cand c
      LEFT JOIN pos p ON p.user_id = c.user_id AND p.band = c.neg_band
      WHERE p.user_id IS NULL
    )
    SELECT user_id, neg_band, CAST(i AS BIGINT) AS try_idx
    FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY i ASC) AS rn
      FROM valid
    ) WHERE rn = 1
    """,
)
def q149_negative_sampling(spark, sf_dir):
    """Deterministic negative sampling for contrastive training: for
    each user, a price band they did NOT purchase in — candidate =
    Knuth-hash(user, try), validated by an anti-join against the
    positives, first valid try wins (so the sample is reproducible
    run-to-run and engine-to-engine, unlike rand()-based samplers
    which are untestable). Three fixed tries bound the work; users
    whose three candidates all collide with positives drop out (the
    documented miss rate of hash-rejection sampling). Anti-join +
    one window at user grain."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    pos = ev.select(
        "user_id",
        F.floor(F.round(F.col("value") * 100) / 1000.0).cast("bigint").alias("band"),
    ).distinct()
    users = pos.select("user_id").distinct()
    tries = F.broadcast(spark.createDataFrame([(0,), (1,), (2,)], "i long"))
    cand = users.crossJoin(tries).withColumn(
        "neg_band", (F.col("user_id") * 2654435761 + F.col("i") * 97) % 38
    )
    valid = cand.join(
        pos.withColumnsRenamed({"band": "neg_band"}),
        ["user_id", "neg_band"],
        "left_anti",
    )
    w = Window.partitionBy("user_id").orderBy(F.col("i").asc())
    return (
        valid.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "neg_band", F.col("i").cast("bigint").alias("try_idx"))
    )


@register(
    "q150_decay_score",
    """
    WITH p AS (
      SELECT user_id,
             CAST(round(value * 100) AS BIGINT) AS cents,
             CAST(floor((31 - extract(day FROM ts)) / 7.0) AS BIGINT) AS age_w
      FROM events WHERE event_type = 'purchase'
    )
    SELECT user_id,
           count(*) AS n_purchases,
           CAST(sum(cents * (1::BIGINT << CAST(10 - age_w AS INT))) AS BIGINT)
             AS score_num,
           CAST(1024 AS BIGINT) AS score_den,
           CAST(sum(cents * (1::BIGINT << CAST(10 - age_w AS INT))) AS DOUBLE)
             / 1024.0 AS decay_score
    FROM p GROUP BY user_id
    """,
)
def q150_decay_score(spark, sf_dir):
    """Half-life-decayed engagement score per user: each purchase
    contributes cents x 2^(-age_weeks) with a one-week half-life — the
    recency weighting behind churn/LTV features, made EXACT by keeping
    the decay a power of two (weight numerator 2^(10-age_w) over a
    fixed 2^10 denominator; exact BIGINTs, one final division —
    rand-free, pow()-free, reproducible in any engine). One map-side-
    combinable aggregate; the age bucket is computed in the scan."""
    e = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    p = e.select(
        "user_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        F.floor(
            (31 - F.dayofmonth(F.col("ts").cast("timestamp"))) / 7.0
        ).cast("bigint").alias("age_w"),
    )
    num = F.sum(
        F.col("cents")
        * F.expr("shiftleft(CAST(1 AS BIGINT), CAST(10 - age_w AS INT))")
    ).cast("bigint")
    return p.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        num.alias("score_num"),
        F.lit(1024).cast("bigint").alias("score_den"),
        (num.cast("double") / 1024.0).alias("decay_score"),
    )


@register(
    "q151_ship_latency_percentiles",
    """
    WITH lat AS (
      SELECT o.o_orderpriority AS priority,
             CAST(floor((epoch_us(l.l_shipdate) - epoch_us(o.o_orderdate))
                        / 86400000000.0) AS BIGINT) AS days,
             l.l_orderkey, l.l_linenumber
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    r AS (
      SELECT priority, days,
             row_number() OVER (PARTITION BY priority
                                ORDER BY days ASC, l_orderkey ASC,
                                         l_linenumber ASC) AS rk,
             count(*) OVER (PARTITION BY priority) AS n
      FROM lat
    )
    SELECT priority,
           CAST(max(n) AS BIGINT) AS n,
           CAST(max(CASE WHEN 100 * rk = 50 * n
                         OR (100 * rk > 50 * n AND 100 * (rk - 1) < 50 * n)
                    THEN days END) AS BIGINT) AS p50_days,
           CAST(max(CASE WHEN 100 * rk = 90 * n
                         OR (100 * rk > 90 * n AND 100 * (rk - 1) < 90 * n)
                    THEN days END) AS BIGINT) AS p90_days,
           CAST(max(CASE WHEN 100 * rk = 99 * n
                         OR (100 * rk > 99 * n AND 100 * (rk - 1) < 99 * n)
                    THEN days END) AS BIGINT) AS p99_days
    FROM r GROUP BY priority
    """,
)
def q151_ship_latency_percentiles(spark, sf_dir):
    """Exact p50/p90/p99 order-to-ship latency per priority class — the
    SLA readout, as percentile_disc made engine-portable: the pXX value
    is THE row whose rank first reaches ceil(p*n), selected by an
    all-integer rank test over a pinned total order (approx_percentile
    is engine-private and irreproducible; this is exact and
    value-checked). One FK join + one ranking window per group; at
    10^12 rows the same shape runs per partition on q134's equi-depth
    sample boundaries."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    lat = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_orderpriority").alias("priority"),
        F.floor(
            (
                F.unix_micros(F.col("l_shipdate").cast("timestamp"))
                - F.unix_micros(F.col("o_orderdate").cast("timestamp"))
            )
            / 86400000000.0
        ).cast("bigint").alias("days"),
        "l_orderkey", "l_linenumber",
    )
    w = Window.partitionBy("priority").orderBy(
        F.col("days").asc(), F.col("l_orderkey").asc(), F.col("l_linenumber").asc()
    )
    wn = Window.partitionBy("priority")
    r = lat.withColumn("rk", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(wn)
    )

    def pick(p):
        hit = (100 * F.col("rk") == p * F.col("n")) | (
            (100 * F.col("rk") > p * F.col("n"))
            & (100 * (F.col("rk") - 1) < p * F.col("n"))
        )
        return F.max(F.when(hit, F.col("days"))).cast("bigint")

    return r.groupBy("priority").agg(
        F.max("n").cast("bigint").alias("n"),
        pick(50).alias("p50_days"),
        pick(90).alias("p90_days"),
        pick(99).alias("p99_days"),
    )


@register(
    "q152_velocity_flags",
    """
    WITH a AS (
      SELECT user_id, event_id, epoch_us(ts) AS t,
             count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                            RANGE BETWEEN 3600000000 PRECEDING
                                      AND CURRENT ROW) AS n_1h
      FROM events
    )
    SELECT user_id,
           CAST(max(n_1h) AS BIGINT) AS max_events_1h,
           CAST(sum(CASE WHEN n_1h >= 8 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_flagged,
           (max(n_1h) >= 8) AS velocity_risk
    FROM a GROUP BY user_id
    """,
)
def q152_velocity_flags(spark, sf_dir):
    """Velocity fraud rule: events per user within ANY trailing 1-hour
    window (a RANGE interval frame over event-time — the window kind
    rows-based frames cannot express when event spacing is irregular);
    flags users whose burst ever reaches 8 events/hour. Ties on t are
    absorbed by RANGE semantics (all peers count), so the result is
    order-free and engine-exact. One window + one rollup on the same
    user partitioning."""
    e = _t(spark, sf_dir, "events")
    a = e.select(
        "user_id", "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
    ).withColumn(
        "n_1h",
        F.count(F.lit(1)).over(
            Window.partitionBy("user_id")
            .orderBy(F.col("t").asc())
            .rangeBetween(-3_600_000_000, 0)
        ),
    )
    return a.groupBy("user_id").agg(
        F.max("n_1h").cast("bigint").alias("max_events_1h"),
        F.sum((F.col("n_1h") >= 8).cast("int")).cast("bigint").alias("n_flagged"),
        (F.max("n_1h") >= 8).alias("velocity_risk"),
    )


@register(
    "q153_join_cardinality",
    """
    WITH hl AS (
      SELECT l_orderkey % 1024 AS bucket, count(*) AS nl,
             count(DISTINCT l_orderkey) AS kl
      FROM lineitem GROUP BY 1
    ),
    ho AS (
      SELECT o_orderkey % 1024 AS bucket, count(*) AS no_,
             count(DISTINCT o_orderkey) AS ko
      FROM orders GROUP BY 1
    ),
    est AS (
      SELECT CAST(sum(nl * no_ // greatest(kl, ko)) AS BIGINT) AS est_rows,
             CAST(sum(nl * no_) AS BIGINT) AS upper_rows
      FROM hl JOIN ho USING (bucket)
    ),
    act AS (
      SELECT count(*) AS actual_rows
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    )
    SELECT est_rows, upper_rows, actual_rows,
           CAST(est_rows AS DOUBLE) / CAST(actual_rows AS DOUBLE) AS est_ratio
    FROM est CROSS JOIN act
    """,
)
def q153_join_cardinality(spark, sf_dir):
    """Join-cardinality estimation from 1024-bucket key histograms —
    the CBO arithmetic made inspectable: per shared bucket, estimated
    output = nl*no / max(kl, ko) (the containment assumption every
    optimizer uses), plus the nl*no upper bound; compared against the
    ACTUAL join count. The histograms are two cheap aggregates (never
    the join itself — that is the point: estimate before you pay);
    integer floor-division keeps the estimate engine-exact. est_ratio
    ~ 1.0 on this FK join exhibits why the assumption works on
    key-contained joins."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    hl = li.groupBy((F.col("l_orderkey") % 1024).alias("bucket")).agg(
        F.count(F.lit(1)).alias("nl"), F.countDistinct("l_orderkey").alias("kl")
    )
    ho = o.groupBy((F.col("o_orderkey") % 1024).alias("bucket")).agg(
        F.count(F.lit(1)).alias("no_"), F.countDistinct("o_orderkey").alias("ko")
    )
    est = hl.join(ho, "bucket").agg(
        F.sum(
            F.expr("nl * no_ DIV greatest(kl, ko)")
        ).cast("bigint").alias("est_rows"),
        F.sum(F.col("nl") * F.col("no_")).cast("bigint").alias("upper_rows"),
    )
    act = li.join(o, li.l_orderkey == o.o_orderkey).agg(
        F.count(F.lit(1)).alias("actual_rows")
    )
    return est.crossJoin(act).withColumn(
        "est_ratio",
        F.col("est_rows").cast("double") / F.col("actual_rows").cast("double"),
    )


@register(
    "q154_prefix_filter_pairs",
    rf"""
    WITH {_CORPUS_SQL},
    tok0 AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w FROM corpus
    ),
    tok AS (
      SELECT DISTINCT doc_id AS id,
             unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]) AS s
      FROM tok0 WHERE len(w) >= 3
    ),
    sz AS (SELECT id, count(*) AS sz FROM tok GROUP BY id),
    inter AS (
      SELECT a.id AS doc_a, b.id AS doc_b, count(*) AS i
      FROM tok a JOIN tok b ON a.s = b.s AND a.id < b.id
      GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b,
           round(i.i::DOUBLE / (za.sz + zb.sz - i.i)::DOUBLE, 4) AS jaccard
    FROM inter i
    JOIN sz za ON za.id = i.doc_a
    JOIN sz zb ON zb.id = i.doc_b
    WHERE 10 * i.i >= 7 * (za.sz + zb.sz - i.i)
    """,
)
def q154_prefix_filter_pairs(spark, sf_dir):
    """EXACT-threshold set-similarity self-join (3-gram-shingle Jaccard
    >= 0.7) via prefix + length filtering — the lossless AllPairs/PPJoin
    counterpart of the MinHash-LSH path (q21/q22 trade recall
    probabilistically; this prunes algebraically and misses nothing).

    The oracle is deliberately the BRUTE-FORCE threshold join (shingle
    self-join restricted to pairs sharing >=1 shingle — pairs sharing none
    have J=0): hash-equality against it proves the prefix/length filter
    chain is lossless, not just plausible. All threshold math is integer
    cross-multiplied on both sides (10*inter >= 7*union; prefix length
    p = sz - ceil(7*sz/10) + 1 via integer ceil-division), so there is no
    float boundary to disagree on.

    Runs on the same 3-gram shingle sets as q22 (word 1-grams are too
    common on this corpus to discriminate — measured 87k pairs at t=0.7 vs
    ~400 on shingles). The shingle table feeds four consumers (df, rank,
    both verify sides): persist once, release after localCheckpoint, the
    q22 discipline. Candidate join keys are each doc's RAREST shingles
    (global df-ascending order), so key frequency is df-bounded by
    construction — the hot-key blowup the LSH band joins need
    capped_band_pairs for is pruned algebraically here. Verify runs on
    candidates only. See operators/dedup.py:prefix_filter_pairs."""
    from .operators.dedup import prefix_filter_pairs, shingles

    # distinct=False: the operator's own collect_set rollup dedups the
    # shingle multiset map-side, so a pre-distinct pass (and the persist
    # that amortized it) would only add a full-width shuffle
    sh = shingles(_corpus(spark, sf_dir), distinct=False).select(
        "id", F.col("s").alias("tok")
    )
    return prefix_filter_pairs(sh, threshold_num=7, threshold_den=10)


@register(
    "q155_ks_drift",
    """
    WITH base AS (SELECT value FROM events WHERE event_type = 'view'),
    oth AS (SELECT event_type, value FROM events WHERE event_type <> 'view'),
    types AS (SELECT DISTINCT event_type FROM oth),
    u AS (
      SELECT t.event_type, b.value, 1 AS isa FROM types t CROSS JOIN base b
      UNION ALL
      SELECT event_type, value, 0 AS isa FROM oth
    ),
    g AS (
      SELECT event_type, value, sum(isa) AS da, sum(1 - isa) AS db
      FROM u GROUP BY 1, 2
    ),
    c AS (
      SELECT event_type, value,
             sum(da) OVER (PARTITION BY event_type ORDER BY value
                           ROWS UNBOUNDED PRECEDING) AS ca,
             sum(db) OVER (PARTITION BY event_type ORDER BY value
                           ROWS UNBOUNDED PRECEDING) AS cb
      FROM g
    ),
    n AS (SELECT event_type, sum(da) AS na, sum(db) AS nb FROM g GROUP BY 1)
    SELECT c.event_type,
           CAST(max(n.na) AS BIGINT)                         AS n_base,
           CAST(max(n.nb) AS BIGINT)                         AS n_type,
           CAST(max(abs(c.ca * n.nb - c.cb * n.na)) AS BIGINT) AS ks_num,
           CAST(max(n.na * n.nb) AS BIGINT)                  AS ks_den,
           round(max(abs(c.ca * n.nb - c.cb * n.na))::DOUBLE
                 / max(n.na * n.nb)::DOUBLE, 6)              AS ks
    FROM c JOIN n USING (event_type)
    GROUP BY 1
    """,
)
def q155_ks_drift(spark, sf_dir):
    """Exact two-sample Kolmogorov-Smirnov drift statistic per event type
    vs the 'view' baseline, over the `value` column — the supremum gap
    between empirical CDFs, the classic distribution-drift monitor a
    curation pipeline runs between a new ingest batch and its reference
    distribution (complements q123's exact-L1 histogram drift: KS is
    binning-free and order-sensitive).

    Integer-exact: group by (type, value) FIRST so cumulative counts are
    evaluated at step points only (tie-safe — no intermediate mid-tie CDF
    values), then D = max |ca*nb - cb*na| / (na*nb) entirely in BIGINT
    cross-multiplication; the rounded double is display-only. Scale: the
    baseline is replicated once per compared type (bounded fan-out), one
    shuffle per type for the window, counts combine map-side."""
    e = _t(spark, sf_dir, "events")
    base = e.filter(F.col("event_type") == "view").select("value")
    oth = e.filter(F.col("event_type") != "view").select("event_type", "value")
    types = oth.select("event_type").distinct()
    u = (
        types.crossJoin(base).withColumn("isa", F.lit(1))
        .unionByName(oth.withColumn("isa", F.lit(0)))
    )
    g = u.groupBy("event_type", "value").agg(
        F.sum("isa").alias("da"), F.sum(1 - F.col("isa")).alias("db")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.col("value").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = g.select(
        "event_type",
        F.sum("da").over(w).alias("ca"),
        F.sum("db").over(w).alias("cb"),
    )
    n = g.groupBy("event_type").agg(
        F.sum("da").alias("na"), F.sum("db").alias("nb")
    )
    return (
        c.join(n, "event_type")
        .groupBy("event_type")
        .agg(
            F.max("na").cast("bigint").alias("n_base"),
            F.max("nb").cast("bigint").alias("n_type"),
            F.max(F.abs(F.col("ca") * F.col("nb") - F.col("cb") * F.col("na")))
            .cast("bigint")
            .alias("ks_num"),
            F.max(F.col("na") * F.col("nb")).cast("bigint").alias("ks_den"),
            F.round(
                F.max(F.abs(F.col("ca") * F.col("nb") - F.col("cb") * F.col("na"))).cast("double")
                / F.max(F.col("na") * F.col("nb")).cast("double"),
                6,
            ).alias("ks"),
        )
    )


_AUDIO_XCORR_FIXTURE = f"{_REPO}/fixtures/oracle_audio_xcorr_n{_CLIPS_N}.parquet"


@register(
    "q156_xcorr_align",
    f"""
    SELECT clip_id, ok, true_lag, est_lag, hit
    FROM read_parquet('{_AUDIO_XCORR_FIXTURE}')
    """,
)
def q156_xcorr_align(spark, sf_dir):
    """Audio offset alignment by FFT cross-correlation — the primitive
    under duplicate-with-delay detection and rough audio/transcript
    re-sync: per clip, a probe payload (the clip delayed by a planted
    d = 16 + crc32(clip_id) % 300 samples and attenuated to 0.6x — an
    id-hash plant, never an index parse) is re-aligned by
    core/spectral.xcorr_lag and the estimate must recover d exactly.

    Every output column is an integer or boolean, so the committed
    single-process oracle (scripts/make_audio_xcorr_fixture.py) is
    host-portable with NO float-digest contract: the argmax of the
    planted correlation peak is integer-stable (r_xx(0) strictly
    dominates all other lags for any non-silent signal; silent clips
    deterministically estimate lag 0 and flag hit=false on both sides).

    Scale: fused manifest scan (bytes never enter the JVM), FFT-kernel
    bound like q36/q37/q38;
    the general two-table pair form is operators/audio_ops.py
    xcorr_align_clips (mix_overlay_clips' bucketed-join shape, arbitrary
    ids — pytest-covered)."""
    from .operators.audio_ops import align_digest_scan

    return align_digest_scan(spark, _clips_cache_path(spark, sf_dir))


_AUDIO_LM_FIXTURE = f"{_REPO}/fixtures/oracle_audio_lm_n{_CLIPS_N}.parquet"
_LM_MIN_VOTES = 24  # weakest plant pools 34; sub-threshold accidents pool <= 16
_LM_STOP_HASH = 32  # landmark stop-hash budget (operators/landmark.py docstring)
_LM_DOM_NUM, _LM_DOM_DEN = 11, 5  # dominance 2.2x: plants >= 2.83, tonal FPs <= 1.71


@register(
    "q157_landmark_shift_neardup",
    rf"""
    WITH keys AS (
      SELECT clip_id AS id, lm_hash AS k, t
      FROM read_parquet('{_AUDIO_LM_FIXTURE}')
    ),
    hc AS (SELECT k FROM keys GROUP BY k HAVING count(*) <= {_LM_STOP_HASH}),
    cold AS (SELECT keys.* FROM keys JOIN hc USING (k)),
    co AS (
      SELECT x.id AS a, y.id AS b, y.t - x.t AS dt, count(*) AS v
      FROM cold x JOIN cold y ON y.k = x.k AND x.id < y.id
      GROUP BY 1, 2, 3
    ),
    pooled AS (
      SELECT a, b, dt,
             v + CASE WHEN lead(dt) OVER w = dt + 1
                      THEN lead(v) OVER w ELSE 0 END AS votes
      FROM co WINDOW w AS (PARTITION BY a, b ORDER BY dt ASC)
    ),
    best AS (
      SELECT a, b, dt, votes FROM (
        SELECT a, b, dt, votes,
               row_number() OVER (PARTITION BY a, b ORDER BY votes DESC, dt ASC) AS rn
        FROM pooled
      ) WHERE rn = 1
    ),
    side AS (
      SELECT p.a, p.b, max(p.votes) AS sv
      FROM pooled p JOIN best bb ON bb.a = p.a AND bb.b = p.b
      WHERE abs(p.dt - bb.dt) > 1
      GROUP BY p.a, p.b
    )
    SELECT b.a AS clip_a, b.b AS clip_b, CAST(b.votes AS BIGINT) AS votes,
           CAST(coalesce(s.sv, 0) AS BIGINT) AS side_votes,
           CAST(b.dt AS INTEGER) AS est_dt
    FROM best b LEFT JOIN side s ON s.a = b.a AND s.b = b.b
    WHERE b.votes >= {_LM_MIN_VOTES}
      AND {_LM_DOM_DEN} * b.votes >= {_LM_DOM_NUM} * coalesce(s.sv, 0)
    """,
)
def q157_landmark_shift_neardup(spark, sf_dir):
    """SHIFT-INVARIANT audio near-duplicate pairs via constellation
    landmarks (Wang, ISMIR 2003): decode -> 16 kHz sinc resample -> Hann
    power spectrogram -> strict-local-max peak constellation -> (f1,f2,dt)
    pair hashes -> stop-hash-filtered self-join on the integer hash ->
    offset vote GROUP BY (pair, t_b - t_a) -> adjacent-offset pooled score
    (lead() window: a sub-hop-phase delay splits evidence between the two
    bracketing frame offsets) -> top-1 per pair -> verdict votes >= 24 AND
    integer peak-to-sidelobe dominance 5*votes >= 11*side (a real shifted
    duplicate concentrates votes at ONE offset; two clips merely sharing
    stationary tonal content match weakly at MANY offsets — measured
    dominance >= 2.83 for every plant vs <= 1.71 for every tonal
    coincidence, so the 2.2x cut separates the classes corpus-wide).

    The duplicate class q38/q40 cannot recover: input is the pinned clips
    subset (every 8th clip) PLUS deterministic planted DELAYED duplicates
    (leading silence of 16 + crc32(id) % 1200 SAMPLES — every sub-hop
    phase, where the aligned lanes' key Jaccard measures ~0 — plus gain
    0.6 and pcm16 requantization, del_ ids) derived in the same decode
    pass. On the committed corpus (stop-hash budget 32 — see
    operators/landmark.py) all 97 plants are recovered at their true
    offset bracket (within half a frame; weakest pooled vote 34, weakest
    dominance 4.3) and ZERO non-planted pairs survive the two-test
    verdict.

    Split oracle like q38: the numeric kernel is pinned by the committed
    landmark fixture (scripts/make_audio_lm_fixture.py, independent driver
    loop over the shared core/landmark.py kernel), while the DuckDB SQL
    re-derives the ENTIRE distributed part — stop-hash filter, hash
    self-join, offset vote, top-1-per-pair window — so the driver
    value-hashes both the landmark math and the match semantics. At 10^12
    clips: narrow landmark map (fused scan, bytes never in the JVM), one
    capped self-join on small uniform integer keys, map-side-combinable
    vote counts, a per-pair window — never all-pairs
    (operators/landmark.py)."""
    from .operators.landmark import landmark_match

    # session-persisted key table shared with q158 — ONE landmark scan
    keys = _lm_keys_cached(spark, sf_dir)
    return landmark_match(
        keys,
        min_votes=_LM_MIN_VOTES,
        cap=_LM_STOP_HASH,
        dom_num=_LM_DOM_NUM,
        dom_den=_LM_DOM_DEN,
    )


_AUDIO_SNIP_FIXTURE = f"{_REPO}/fixtures/oracle_audio_snip_n{_CLIPS_N}.parquet"

_LM_KEYS_CACHE: dict = {}


def _lm_keys_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q157/q158's pinned-subset landmark key table (base clips + planted
    del_ duplicates), persisted once per session — the dedup match (q157)
    and the snippet retrieval index (q158) consume the SAME kernel-bound
    landmark scan instead of each re-decoding the clips table. Same
    app-bounded cache discipline as _fp_keys_cached."""
    from pyspark import StorageLevel

    from .operators.landmark import LM_AUG_EVERY, LM_EVERY, landmark_scan

    path = _clips_cache_path(spark, sf_dir)

    def build():
        return landmark_scan(
            spark, path, every=LM_EVERY, aug_every=LM_AUG_EVERY
        ).persist(StorageLevel.MEMORY_AND_DISK)

    return _session_cached(_LM_KEYS_CACHE, spark, path, build)


@register(
    "q158_landmark_snippet_lookup",
    rf"""
    WITH idx AS (
      SELECT clip_id AS id, lm_hash AS k, t
      FROM read_parquet('{_AUDIO_LM_FIXTURE}') WHERE clip_id LIKE 'clip_%'
    ),
    probes AS (
      SELECT clip_id AS pid, lm_hash AS k, t
      FROM read_parquet('{_AUDIO_SNIP_FIXTURE}')
    ),
    hc AS (SELECT k FROM idx GROUP BY k HAVING count(*) <= {_LM_STOP_HASH}),
    cold AS (SELECT idx.* FROM idx JOIN hc USING (k)),
    co AS (
      SELECT p.pid, c.id AS mid, c.t - p.t AS pos, count(*) AS v
      FROM probes p JOIN cold c ON c.k = p.k
      GROUP BY 1, 2, 3
    ),
    pooled AS (
      SELECT pid, mid, pos,
             v + CASE WHEN lead(pos) OVER w = pos + 1
                      THEN lead(v) OVER w ELSE 0 END AS votes
      FROM co WINDOW w AS (PARTITION BY pid, mid ORDER BY pos ASC)
    ),
    best AS (
      SELECT pid, mid, pos, votes FROM (
        SELECT pid, mid, pos, votes,
               row_number() OVER (PARTITION BY pid
                                  ORDER BY votes DESC, mid ASC, pos ASC) AS rn
        FROM pooled
      ) WHERE rn = 1
    ),
    side AS (
      SELECT p.pid, max(p.votes) AS sv
      FROM pooled p JOIN best b ON b.pid = p.pid
      WHERE p.mid != b.mid OR abs(p.pos - b.pos) > 1
      GROUP BY p.pid
    )
    SELECT b.pid AS probe_id, b.mid AS match_id, CAST(b.votes AS BIGINT) AS votes,
           CAST(coalesce(s.sv, 0) AS BIGINT) AS side_votes,
           CAST(b.pos AS INTEGER) AS est_pos,
           (b.votes >= {_LM_MIN_VOTES}
            AND {_LM_DOM_DEN} * b.votes >= {_LM_DOM_NUM} * coalesce(s.sv, 0)) AS confident
    FROM best b LEFT JOIN side s ON s.pid = b.pid
    """,
)
def q158_landmark_snippet_lookup(spark, sf_dir):
    """Query-by-snippet audio retrieval (Shazam's search shape, Wang ISMIR
    2003): locate a 1-second query recording inside a landmark-indexed
    corpus — per probe, the argmax (match, position) over stop-hash-
    filtered hash-join candidates with adjacent-pooled position votes,
    plus a best-vs-rest integer confidence flag (votes >= 24 AND
    5*votes >= 11*side where side spans ALL other candidates). Retrieval
    semantics: every probe returns its best row; `confident` marks the
    ones q157's dedup thresholds would trust.

    Probes are deterministic planted snippets (id-hashed mid-clip start at
    any sub-hop phase, gain 0.6, pcm16 requantization, snip_ ids) derived
    from every 40th pinned clip; the index is the SAME session-persisted
    landmark key table q157 matches over (one kernel scan feeds both
    lanes). On the committed corpus all 97 probes retrieve their true
    source at the true position bracket.

    Split oracle like q157: the kernel is pinned by the committed probe
    fixture (scripts/make_audio_snip_fixture.py) + the q157 index fixture,
    and the DuckDB SQL re-derives the whole search (budget, join, vote,
    pooling, per-probe argmax, confidence). At 10^12 indexed clips the
    index lives bucketed on lm_hash; a probe batch joins against it with
    zero index movement (operators/landmark.py landmark_lookup)."""
    from .operators.landmark import LM_AUG_EVERY, landmark_lookup, landmark_probe_scan

    index_keys = _lm_keys_cached(spark, sf_dir).filter(F.col("clip_id").startswith("clip_"))
    probe_keys = landmark_probe_scan(
        spark, _clips_cache_path(spark, sf_dir), every=LM_AUG_EVERY
    )
    return landmark_lookup(
        index_keys,
        probe_keys,
        min_votes=_LM_MIN_VOTES,
        cap=_LM_STOP_HASH,
        dom_num=_LM_DOM_NUM,
        dom_den=_LM_DOM_DEN,
    )


_AUDIO_SIG_FIXTURE = f"{_REPO}/fixtures/oracle_audio_sig_n{_CLIPS_N}.parquet"


@register(
    "q159_speed_robust_neardup",
    rf"""
    WITH sig AS (
      SELECT clip_id AS id, peaks, k FROM read_parquet('{_AUDIO_SIG_FIXTURE}')
      WHERE k BETWEEN 2 AND 5
    ),
    melt AS (
      SELECT DISTINCT s.id, (64 * a.a) // b.b + d.d AS k
      FROM sig s, unnest(s.peaks) AS a(a), unnest(s.peaks) AS b(b),
           (VALUES (-1), (0), (1)) d(d)
      WHERE a.a != b.b
    ),
    {_capped_pairs_sql_cte(_default_pair_cap())},
    verified AS (
      SELECT c.a, c.b, sa.k AS k_a, sb.k AS k_b,
        list_min(list_transform(list_filter(
          flatten(list_transform(sa.peaks,
            ai -> list_transform(sb.peaks, bj -> {{'ai': ai, 'bj': bj}}))),
          h -> 4*h.bj <= 5*(h.ai + 2) AND 4*(h.ai - 2) <= 5*h.bj
            AND len(list_filter(sa.peaks, a ->
              len(list_filter(sb.peaks, b -> abs(a*h.bj - h.ai*b) <= 2*h.bj)) > 0)) >= 2
            AND len(list_filter(sa.peaks, a -> NOT (a*h.bj > 1943*h.ai OR
              len(list_filter(sb.peaks, b -> abs(a*h.bj - h.ai*b) <= 2*h.bj)) > 0))) = 0
            AND len(list_filter(sb.peaks, b -> NOT (b*h.ai > 1943*h.bj OR
              len(list_filter(sa.peaks, a -> abs(a*h.bj - h.ai*b) <= 2*h.ai)) > 0))) = 0
        ), h -> h.ai * 4096 + h.bj)) AS hyp
      FROM cand c JOIN sig sa ON sa.id = c.a JOIN sig sb ON sb.id = c.b
    )
    SELECT a AS clip_a, b AS clip_b, CAST(k_a AS INTEGER) AS k_a,
           CAST(k_b AS INTEGER) AS k_b,
           CAST(hyp // 4096 AS INTEGER) AS rate_num,
           CAST(hyp % 4096 AS INTEGER) AS rate_den
    FROM verified WHERE hyp IS NOT NULL
    """,
)
def q159_speed_robust_neardup(spark, sf_dir):
    """SPEED/PITCH-SHIFT-robust audio near-duplicate pairs — the last cell
    of the robustness matrix (gain/requant q38, companding q40, time shift
    q157/q158, speed HERE): a Kaldi-sp resampling variant scales every
    frequency by the factor, defeating all three prior lanes, but the
    RATIO structure of the clip's tonal peaks is scale-invariant.
    Pipeline: tiny per-clip tonal-signature arrays (time-averaged power
    spectrum local maxima) -> scale-invariant intra-clip ratio keys with
    +-1 ball expansion -> the SHARED capped pair CTE -> an exhaustive
    integer rate-hypothesis verify over the <= 5x5 peak pairings (rate in
    [0.8, 1.25], peak correspondence within 2 bins, rate-aware band-edge
    exemption, >= 2 matched peaks) evaluated with native higher-order
    functions in Spark and list lambdas in DuckDB — the SAME rule, no UDF,
    no floats; the winning hypothesis IS the recovered rate as an exact
    integer bin ratio.

    Input is the pinned clips subset (every 8th) PLUS planted speed
    variants (sp_ ids, id-hashed factor from {{9/10, 19/20, 21/20,
    11/10}}, gain 0.8, pcm16 requant). On the committed corpus all 45
    in-scope plants are recovered with the rate exact to bin tolerance
    (one plant's second tone leaves the measurable band at 11/10 —
    genuinely out of scope, k drops below 2). 2-tone clips carry one
    residual check only, so tonal coincidences under SOME in-range rate
    occur (19 pairs here) and are REPORTED: for pure-tone content they
    are true positives of the acoustic relation; consumers needing
    certainty filter k_a >= 3 (core/specsig.py docstring).

    Scale: one narrow signature scan (a few ints per clip), tiny-key
    capped candidate join, O(k^4) integer verify on candidates only
    (operators/specsig.py)."""
    from .operators.specsig import (
        SS_AUG_EVERY,
        SS_EVERY,
        speed_neardup_pairs,
        tone_signature_scan,
    )

    sigs = tone_signature_scan(
        spark, _clips_cache_path(spark, sf_dir), every=SS_EVERY, aug_every=SS_AUG_EVERY
    )
    return speed_neardup_pairs(sigs)


_AUDIO_MFCC_FIXTURE = f"{_REPO}/fixtures/oracle_audio_mfcc_n{_CLIPS_N}.parquet"


@register(
    "q160_mfcc_features",
    f"""
    SELECT clip_id, ok, n_frames, n_coef, feats_md5
    FROM read_parquet('{_AUDIO_MFCC_FIXTURE}')
    """,
)
def q160_mfcc_features(spark, sf_dir):
    """MFCC front-end (log-mel -> orthonormal DCT-II cepstra -> regression
    delta + delta-delta, 13x3 coefficients) over the pinned clips table —
    the classic ASR featurization lane (Davis & Mermelstein 1980; HTK ch. 5)
    completing the chain q37 (log-mel) -> q56 (CMVN) -> q57 (SpecAugment).

    Digest-exact value check like q37: the operator hashes each clip's
    float64 feature array bit-for-bit against the committed single-process
    oracle (scripts/make_audio_mfcc_fixture.py — shared BLAS-free kernels,
    independent driver loop). Runs as a fused manifest scan: audio bytes
    never enter the JVM; FFT+DCT kernel bound.
    At 10^12 clips this is a shuffle-free narrow map
    (operators/audio_ops.py mfcc_digest_scan)."""
    from .operators.audio_ops import mfcc_digest_scan

    return mfcc_digest_scan(spark, _clips_cache_path(spark, sf_dir))


_AUDIO_LMNZ_FIXTURE = f"{_REPO}/fixtures/oracle_audio_lmnz_n{_CLIPS_N}.parquet"

_LMNZ_KEYS_CACHE: dict = {}


@register(
    "q161_landmark_noise_neardup",
    rf"""
    WITH keys AS (
      SELECT clip_id AS id, lm_hash AS k, t
      FROM read_parquet('{_AUDIO_LMNZ_FIXTURE}')
    ),
    hc AS (SELECT k FROM keys GROUP BY k HAVING count(*) <= {_LM_STOP_HASH}),
    cold AS (SELECT keys.* FROM keys JOIN hc USING (k)),
    co AS (
      SELECT x.id AS a, y.id AS b, y.t - x.t AS dt, count(*) AS v
      FROM cold x JOIN cold y ON y.k = x.k AND x.id < y.id
      GROUP BY 1, 2, 3
    ),
    pooled AS (
      SELECT a, b, dt,
             v + CASE WHEN lead(dt) OVER w = dt + 1
                      THEN lead(v) OVER w ELSE 0 END AS votes
      FROM co WINDOW w AS (PARTITION BY a, b ORDER BY dt ASC)
    ),
    best AS (
      SELECT a, b, dt, votes FROM (
        SELECT a, b, dt, votes,
               row_number() OVER (PARTITION BY a, b ORDER BY votes DESC, dt ASC) AS rn
        FROM pooled
      ) WHERE rn = 1
    ),
    side AS (
      SELECT p.a, p.b, max(p.votes) AS sv
      FROM pooled p JOIN best bb ON bb.a = p.a AND bb.b = p.b
      WHERE abs(p.dt - bb.dt) > 1
      GROUP BY p.a, p.b
    )
    SELECT b.a AS clip_a, b.b AS clip_b, CAST(b.votes AS BIGINT) AS votes,
           CAST(coalesce(s.sv, 0) AS BIGINT) AS side_votes,
           CAST(b.dt AS INTEGER) AS est_dt
    FROM best b LEFT JOIN side s ON s.a = b.a AND s.b = b.b
    WHERE b.votes >= {_LM_MIN_VOTES}
      AND {_LM_DOM_DEN} * b.votes >= {_LM_DOM_NUM} * coalesce(s.sv, 0)
    """,
)
def q161_landmark_noise_neardup(spark, sf_dir):
    """NOISE-robust audio near-duplicate pairs — the hiss-floor cell of the
    robustness matrix (gain/requant q38, companding q40, time shift
    q157/q158, speed q159, additive NOISE here): planted duplicates carry
    white noise at exactly 30 dB SNR (deterministic counter-based Philox
    keyed by clip id), gain 0.6, and pcm16 requantization — the tape-hiss /
    codec-dither re-encode class. Recovery reuses the constellation
    landmark match (operators/landmark.py) VERBATIM: spectral peaks ride
    above the noise floor, so landmark hashes survive where the
    frame-aligned energy-sign lanes (q38/q40) see bit flips. On the
    committed corpus all 97 plants pass the unchanged q157 verdict with
    >= 146 pooled votes (threshold 24) and >= 12.1x dominance (threshold
    2.2x); zero false pairs; the winning offset lands in the aligned
    bracket {{-1, 0}}. MEASURED envelope: at 20 dB SNR the separation
    collapses on this tonal corpus (plants compress to 14 votes vs 22 for
    the strongest unrelated pair) — documented out-of-scope, see
    core/landmark.noisy_variant16.

    Split oracle like q157: the committed key fixture
    (scripts/make_audio_lmnz_fixture.py) pins the noise+landmark kernels;
    the DuckDB SQL re-derives the ENTIRE distributed match — stop-hash
    filter, hash self-join, offset vote, adjacent pooling, dominance
    verdict. Scale shape identical to q157: narrow kernel scan, capped
    integer-key self-join, map-side-combinable votes, per-pair window."""
    from pyspark import StorageLevel

    from .operators.landmark import LM_AUG_EVERY, LM_EVERY, landmark_match, landmark_noise_scan

    path = _clips_cache_path(spark, sf_dir)

    def build():
        return landmark_noise_scan(
            spark, path, every=LM_EVERY, aug_every=LM_AUG_EVERY
        ).persist(StorageLevel.MEMORY_AND_DISK)

    keys = _session_cached(_LMNZ_KEYS_CACHE, spark, path, build)
    return landmark_match(
        keys,
        min_votes=_LM_MIN_VOTES,
        cap=_LM_STOP_HASH,
        dom_num=_LM_DOM_NUM,
        dom_den=_LM_DOM_DEN,
    )


def _kmv_overlap_sql() -> str:
    from .operators.sketches import kmv_vocab_overlap_sql

    return kmv_vocab_overlap_sql("documents")


@register("q162_kmv_vocab_overlap", _kmv_overlap_sql())
def q162_kmv_vocab_overlap(spark, sf_dir):
    """Pairwise cross-source vocabulary overlap via KMV SET ALGEBRA
    [Beyer et al. SIGMOD 2007] — q69's mergeability claim made operational:
    per-source k-minimum-values sketches of the distinct-token md5 sets
    are MERGED AND RE-TRIMMED per source pair to estimate |A ∪ B|, and
    |A ∩ B| follows from the fraction of union-sketch members present in
    both input sketches ((n_common/k) * est_union; exact by construction
    when the union sketch is un-truncated). The planner statistic for
    domain mixing / dedup scoping: lexical similarity between corpora
    without shuffling full token sets — the pair stage sees only k tiny
    hashes per source, so at 10^12 rows its cost is O(sources^2 * k),
    independent of corpus size. The exact comparison columns
    (n_union_exact / n_inter_exact) are the only corpus-wide joins and
    exist to exhibit sketch accuracy — dropped at scale.

    Oracle: the ENTIRE computation — tokenization, md5 sketches, pairwise
    merge, hex->int parse, both IEEE-double estimates, exact columns —
    re-derived in DuckDB SQL (operators/sketches.kmv_vocab_overlap_sql)."""
    from .operators.sketches import kmv_vocab_overlap

    return kmv_vocab_overlap(_t(spark, sf_dir, "documents"))


_COMPRESS_FIXTURE = f"{_REPO}/fixtures/oracle_compress_n{_CLIPS_N}.parquet"


@register(
    "q163_transcript_compressibility",
    f"""
    SELECT clip_id, raw_len, comp_len, too_repetitive, too_random, keep
    FROM read_parquet('{_COMPRESS_FIXTURE}')
    """,
)
def q163_transcript_compressibility(spark, sf_dir):
    """Per-transcript zlib compressibility quality filter — the classic
    web-curation signal the regex/word-count rules (q42) cannot express:
    templated boilerplate compresses far below natural prose (comp/raw <
    45%), symbol noise barely compresses (> 120%), and sub-32-byte texts
    are too short to judge (zlib header dominates). All verdict columns
    are integer/boolean via cross-multiplied band tests
    (core/text.compress_keep); zlib level-6 output is deterministic, so
    the committed fixture (scripts/make_compress_fixture.py — shared
    kernel, independent driver loop) pins (raw_len, comp_len) bit-exact.
    On the pinned corpus: 3229 keep / 69 repetitive / 33 noise / 669
    short. Arrow-batched narrow map, shuffle-free at any scale
    (operators/text_analysis.transcript_compressibility)."""
    from .operators.text_analysis import transcript_compressibility

    clips = spark.read.parquet(_clips_cache_path(spark, sf_dir))
    return transcript_compressibility(clips)


_PITCH_FIXTURE = f"{_REPO}/fixtures/oracle_pitch_n{_CLIPS_N}.parquet"


@register(
    "q164_pitch_stats",
    f"""
    SELECT clip_id, ok, n_frames, n_voiced, voiced_pct, med_lag, f0_hz
    FROM read_parquet('{_PITCH_FIXTURE}')
    """,
)
def q164_pitch_stats(spark, sf_dir):
    """Per-clip autocorrelation pitch / voicing prosody statistics
    (Rabiner 1977): per 32 ms frame the FFT autocorrelation peak lag over
    80-400 Hz, voiced iff the peak clears half the frame energy
    (cross-multiplied 2*r(k*) > r(0), no division) — aggregated to voiced
    fraction, lower-median lag, and integer F0 Hz. The TTS-curation
    features next to VAD (q41) and spectral quality (q46): separates
    pitched speech/tones from hum and hiss and buckets clips by register
    before augmentation. All emitted metrics are integers (core/pitch.py
    portability contract), so the committed fixture
    (scripts/make_pitch_fixture.py — shared kernel, independent driver
    loop) pins the whole computation with no digest needed. Fused manifest
    scan, FFT-kernel bound, shuffle-free narrow map at any scale
    (operators/audio_ops.pitch_stats_scan)."""
    from .operators.audio_ops import pitch_stats_scan

    return pitch_stats_scan(spark, _clips_cache_path(spark, sf_dir))


_CODESWITCH_FIXTURE = f"{_REPO}/fixtures/oracle_codeswitch_n{_CLIPS_N}.parquet"


@register(
    "q165_codeswitch_transcripts",
    f"""
    SELECT clip_id, n_windows, lang_primary, n_primary,
           lang_secondary, n_secondary, mixed
    FROM read_parquet('{_CODESWITCH_FIXTURE}')
    """,
)
def q165_codeswitch_transcripts(spark, sf_dir):
    """Segment-level CODE-SWITCHING detection over transcripts: 8-word
    langid vote windows (hop 4) -> majority/minority language counts ->
    integer mixed verdict (secondary windows >= 1/4 of total, >= 2
    windows) — the contamination signal the whole-transcript langid stage
    cannot express (spliced uploads, wrong-language runs inside a clip).
    Planted ground truth like the audio lanes: every 40th clip also
    yields a deterministic mx_ variant (original + equal-length
    different-language sentence chosen by id hash,
    core/langid.mixed_variant). Measured on the pinned corpus: 0/3914
    non-blank base transcripts falsely mixed; 95/99 plants recovered —
    the 4 misses are <= 4-word bases where the whole plant fits in one
    window (sub-window texts cannot exhibit segment-level switching).

    Oracle: committed fixture (scripts/make_codeswitch_fixture.py —
    shared frozen-model kernel, independent driver loop). Arrow-batched
    narrow map, model trained once per worker; shuffle-free at any scale
    (operators/text_analysis.codeswitch_clips)."""
    from .operators.text_analysis import codeswitch_clips

    clips = spark.read.parquet(_clips_cache_path(spark, sf_dir))
    return codeswitch_clips(clips, aug_every=40)


_INTEGRITY_FIXTURE = f"{_REPO}/fixtures/oracle_integrity_n{_CLIPS_N}.parquet"


@register(
    "q166_integrity_audit",
    f"""
    SELECT clip_id, ok, n_samples, max_zero_run, max_rep_run,
           dropout, stuck, keep
    FROM read_parquet('{_INTEGRITY_FIXTURE}')
    """,
)
def q166_integrity_audit(spark, sf_dir):
    """Sample-level audio INTEGRITY audit: exact-zero dropout runs (buffer
    underruns) and stuck-sample runs (repeating DAC/serializer values) —
    digital artifacts the frame-energy (q41) and spectral (q46) lanes
    cannot see when short, measured EXACTLY in the sample domain and
    judged by rate-independent cross-multiplied ms thresholds
    (core/integrity.py; natural corpus ceiling 0.75 ms vs the 10 ms
    verdict line, 13x margin). Planted ground truth like the dup lanes:
    every 40th decodable >= 120 ms clip yields a corrupted co_ variant
    (12..39 ms dropout + 12..39 ms stuck run at id-hashed positions in
    disjoint halves) — all 97 plants flagged, zero base false positives.

    Oracle: committed all-integer fixture
    (scripts/make_integrity_fixture.py — shared kernel, independent driver
    loop). Fused manifest scan, decode-bound, shuffle-free narrow map
    (operators/audio_ops.integrity_scan)."""
    from .operators.audio_ops import integrity_scan

    return integrity_scan(spark, _clips_cache_path(spark, sf_dir), aug_every=40)


@register(
    "q167_quality_gate",
    f"""
    SELECT v.clip_id, v.ok,
           v.keep AS vad_keep,
           q.keep AS spectral_keep,
           q.rate_keep AS rate_keep,
           CASE WHEN v.ok THEN i.keep ELSE FALSE END AS integrity_keep,
           c.keep AS text_keep,
           (v.ok AND v.keep AND q.keep AND q.rate_keep AND i.keep AND c.keep)
             AS keep
    FROM read_parquet('{_AUDIO_VAD_FIXTURE}') v
    JOIN read_parquet('{_AUDIO_QUALITY_FIXTURE}') q USING (clip_id)
    JOIN (SELECT * FROM read_parquet('{_INTEGRITY_FIXTURE}')
          WHERE clip_id NOT LIKE 'co_%') i USING (clip_id)
    JOIN read_parquet('{_COMPRESS_FIXTURE}') c USING (clip_id)
    """,
)
def q167_quality_gate(spark, sf_dir):
    """The FUSED five-lane quality gate: one decode per clip feeds the VAD
    keep (q41), spectral SNR/bandwidth keep (q46), speaking-rate keep
    (q47), sample-integrity keep (q166), and transcript-compressibility
    keep (q163); keep = decodable AND all five, with per-lane attribution
    columns for drop diagnostics. This is the operator you actually run at
    10^12 clips — the decode pass dominates cost there and is paid ONCE
    for five verdicts instead of five times — while the per-lane queries
    remain its independently-audited components.

    Oracle: a pure JOIN of the four committed lane fixtures (vad, spectral
    +rate, integrity base rows, compressibility) — every lane calls the
    SAME shared kernel its fixture pinned, so fusion is proven to change
    the pass structure and never a value. Fused manifest scan,
    kernel-bound, shuffle-free narrow map
    (operators/audio_ops.quality_gate_scan)."""
    from .operators.audio_ops import quality_gate_scan

    return quality_gate_scan(spark, _clips_cache_path(spark, sf_dir))


_GATE_ORACLE_JOIN = f"""
    SELECT v.clip_id, v.ok,
           v.keep AS vad_keep, q.keep AS spectral_keep, q.rate_keep AS rate_keep,
           CASE WHEN v.ok THEN i.keep ELSE FALSE END AS integrity_keep,
           c.keep AS text_keep
    FROM read_parquet('{_AUDIO_VAD_FIXTURE}') v
    JOIN read_parquet('{_AUDIO_QUALITY_FIXTURE}') q USING (clip_id)
    JOIN (SELECT * FROM read_parquet('{_INTEGRITY_FIXTURE}')
          WHERE clip_id NOT LIKE 'co_%') i USING (clip_id)
    JOIN read_parquet('{_COMPRESS_FIXTURE}') c USING (clip_id)
"""


@register(
    "q168_gate_attribution",
    f"""
    WITH g AS ({_GATE_ORACLE_JOIN}),
    attr AS (
      SELECT CASE
        WHEN NOT ok THEN 0 WHEN NOT vad_keep THEN 1 WHEN NOT spectral_keep THEN 2
        WHEN NOT rate_keep THEN 3 WHEN NOT integrity_keep THEN 4
        WHEN NOT text_keep THEN 5 ELSE 6 END AS stage_order
      FROM g
    )
    SELECT stage_order,
           CASE stage_order WHEN 0 THEN 'decode' WHEN 1 THEN 'vad'
             WHEN 2 THEN 'spectral' WHEN 3 THEN 'rate' WHEN 4 THEN 'integrity'
             WHEN 5 THEN 'text' ELSE 'keep' END AS stage,
           count(*)::BIGINT AS n_clips
    FROM attr GROUP BY stage_order
    """,
)
def q168_gate_attribution(spark, sf_dir):
    """Drop-reason attribution for the fused gate (q167): every clip is
    charged to its FIRST failing lane in the fixed audit order decode ->
    vad -> spectral -> rate -> integrity -> text (survivors land in
    'keep') — the curation dashboard that tells an operator where the
    corpus is actually dying, and therefore which lane to tune first.
    First-failure attribution (not per-lane totals) sums to the corpus
    size, so drift in one lane is immediately visible as mass moving
    between rows.

    Spark side reuses the single-decode gate scan and reduces it with one
    map-side-combinable GROUP BY; the DuckDB oracle re-derives the same
    rollup over the four-fixture join. At 10^12 clips: narrow scan + a
    7-row aggregate — nothing else."""
    from pyspark.sql import functions as F

    from .operators.audio_ops import quality_gate_scan

    g = quality_gate_scan(spark, _clips_cache_path(spark, sf_dir))
    stage_order = (
        F.when(~F.col("ok"), 0)
        .when(~F.col("vad_keep"), 1)
        .when(~F.col("spectral_keep"), 2)
        .when(~F.col("rate_keep"), 3)
        .when(~F.col("integrity_keep"), 4)
        .when(~F.col("text_keep"), 5)
        .otherwise(6)
    )
    stage = (
        F.when(F.col("stage_order") == 0, "decode")
        .when(F.col("stage_order") == 1, "vad")
        .when(F.col("stage_order") == 2, "spectral")
        .when(F.col("stage_order") == 3, "rate")
        .when(F.col("stage_order") == 4, "integrity")
        .when(F.col("stage_order") == 5, "text")
        .otherwise("keep")
    )
    return (
        g.withColumn("stage_order", stage_order)
        .groupBy("stage_order")
        .agg(F.count("*").cast("bigint").alias("n_clips"))
        .withColumn("stage", stage)
        .select("stage_order", "stage", "n_clips")
    )


_ELECTRICAL_FIXTURE = f"{_REPO}/fixtures/oracle_electrical_n{_CLIPS_N}.parquet"


@register(
    "q170_electrical_audit",
    f"""
    SELECT clip_id, ok, n_frames, hum_log2, hum, dc_log2, dc, keep
    FROM read_parquet('{_ELECTRICAL_FIXTURE}')
    """,
)
def q170_electrical_audit(spark, sf_dir):
    """Electrical-defect audio audit: mains HUM (power in the exact 50/60 Hz
    DFT bins of 200 ms frames vs all non-DC spectral power — every valid
    corpus sample rate is divisible by 5, so both mains fundamentals land
    on exact 5 Hz bins with zero leakage) and DC OFFSET (sum^2 vs n*sumsq,
    cross-multiplied) — the recording-chain defects the energy VAD (q41),
    spectral SNR (q46), and sample-integrity (q166) lanes cannot express.
    All verdicts are frexp log2 bands against power-of-two keep lines
    (core/electrical.py; no libm transcendentals), so the committed fixture
    pins the whole computation bit-exact.

    Planted ground truth like the other audio lanes: every 40th decodable
    >= 400 ms clip yields an el_ variant (id-hashed 50/60 Hz square hum at
    rms/2 + DC offset rms/8, pure-integer phase — no libm sin). Measured on
    the pinned corpus: natural hum ceiling 2^-8 vs the 2^-5 keep line vs
    plants at 2^-3 (>= 4x margin both sides, zero base hum flags); all 97
    plants dropped (95 flag both axes; 2 quiet pcm8 plants cancel the
    codec's own -0.5/128 half-LSB bias and flag hum only). The 56 base dc
    flags are REAL artifacts, not noise: quiet pcm8 clips whose uint8
    half-LSB encode bias exceeds rms/16.

    Oracle: committed fixture (scripts/make_electrical_fixture.py — shared
    kernel, independent driver loop). Fused manifest scan, decode+FFT
    bound, shuffle-free narrow map at any scale
    (operators/audio_ops.electrical_scan)."""
    from .operators.audio_ops import electrical_scan

    return electrical_scan(spark, _clips_cache_path(spark, sf_dir), aug_every=40)


@register(
    "q169_homoglyph_audit",
    r"""
    WITH base AS (
      SELECT 'doc_' || CAST(doc_id AS VARCHAR) AS doc_key, text FROM documents
      UNION ALL
      SELECT 'ho_' || CAST(doc_id AS VARCHAR),
             translate(text, 'aeopcxAEOPCX', 'аеорсхАЕОРСХ')
      FROM documents
      WHERE doc_id % 40 = 0 AND text IS NOT NULL AND text <> ''
    ),
    w AS (
      SELECT doc_key,
             list_filter(string_split_regex(coalesce(text, ''), '\s+'),
                         x -> x <> '') AS ws
      FROM base
    )
    SELECT doc_key,
           CAST(len(ws) AS BIGINT) AS n_words,
           CAST(len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]')
                                     AND regexp_matches(x, '[Ѐ-ӿ]'))) AS BIGINT)
             AS n_mixed,
           CAST(len(list_filter(ws, x -> regexp_matches(x, '[Ѐ-ӿ]'))) AS BIGINT)
             AS n_cyr,
           len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]')
                                 AND regexp_matches(x, '[Ѐ-ӿ]'))) >= 1 AS suspect
    FROM w
    """,
)
def q169_homoglyph_audit(spark, sf_dir):
    """Mixed-script / HOMOGLYPH audit over the documents table: words that
    mix Latin and Cyrillic letters inside one token (UTS#39 confusables —
    "pаypаl" with Cyrillic а's) are deliberate spam/filter-evasion with
    near-certainty; whole-word language switching (real multilingual text)
    is deliberately NOT flagged — that is the code-switching lane (q165).
    Planted ground truth: every 40th non-empty doc also yields its ho_
    full-substitution variant via translate() over the six confusable
    pairs. Measured at sf0.01: 0/500 base docs suspect (the corpus is
    pure-ASCII), 13/13 plants suspect.

    Oracle: the ENTIRE computation — plants included — in pure DuckDB SQL
    over the shared documents view (translate/split/list_filter mirror the
    JVM translate/split/filter exactly; regexes are Java/RE2-identical).
    No fixture, no UDF; narrow shuffle-free map at any scale
    (operators/text_analysis.homoglyph_audit)."""
    from .operators.text_analysis import homoglyph_audit

    return homoglyph_audit(_t(spark, sf_dir, "documents"), plant_every=40)


_CLIPPING_FIXTURE = f"{_REPO}/fixtures/oracle_clipping_n{_CLIPS_N}.parquet"


@register(
    "q171_clipping_audit",
    f"""
    SELECT clip_id, ok, n_samples, n_clipped, n_clip_runs, max_clip_run,
           clip_log2, clipped, keep
    FROM read_parquet('{_CLIPPING_FIXTURE}')
    """,
)
def q171_clipping_audit(spark, sf_dir):
    """Clipping / saturation audit: runs of samples pinned exactly AT the
    codec's digital full-scale codes — an overdriven gain stage's flat-top
    signature, the amplitude-domain defect the integrity (q166, value runs
    anywhere in range), electrical (q170, spectral/bias), and spectral-SNR
    (q46) lanes cannot express. Saturation bounds are the exact float64
    values each codec's top/bottom code decodes to (core/clipping.py
    SAT_BOUNDS from the core/audio.py decode maps), so "saturated" is an
    equality-class test, not a tolerance. Verdict = flat-top run >= 4
    samples AND saturated fraction >= 2^-6, both cross-multiplied integer
    compares.

    Planted ground truth like the other audio lanes: every 40th decodable
    non-silent clip yields a cl_ variant overdriven to an id-hashed 8x/16x
    of its own saturation bound by a power-of-two gain (IEEE-exact) and
    clamped. Measured on the pinned corpus: natural flat-top ceiling is 1
    sample / fraction 2^-7 (isolated coarse-codec top-code touches on
    mulaw/alaw/pcm8; pcm16/float32 never reach full scale) vs plants at
    >= 24-sample runs / fraction >= 2^-1 — 97/97 plants dropped, 0 base
    false positives.

    Oracle: committed fixture (scripts/make_clipping_fixture.py — shared
    kernel, independent driver loop). Fused manifest scan, decode-bound,
    shuffle-free narrow map at any scale
    (operators/audio_ops.clipping_scan)."""
    from .operators.audio_ops import clipping_scan

    return clipping_scan(spark, _clips_cache_path(spark, sf_dir), aug_every=40)


_BITDEPTH_FIXTURE = f"{_REPO}/fixtures/oracle_bitdepth_n{_CLIPS_N}.parquet"


@register(
    "q172_bitdepth_audit",
    f"""
    SELECT clip_id, ok, n_nonzero, grid_gcd, eff_bits, nominal_bits,
           depth_fraud, keep
    FROM read_parquet('{_BITDEPTH_FIXTURE}')
    """,
)
def q172_bitdepth_audit(spark, sf_dir):
    """Effective-bit-depth fraud audit: payloads whose container claims
    16-bit (or float) precision but whose samples all sit on a coarser
    quantization grid were bit-crushed or round-tripped through a lower-
    resolution encode — the bit-depth analogue of the narrowband fake-
    sample-rate transcode q46 flags, and the resolution-domain lane the
    clipping (q171) / integrity (q166) / electrical (q170) audits cannot
    express. Exactly detectable: gcd of |rint(x * 32767)| over nonzero
    samples (the inverse of the linear decode maps, IEEE-exact); a 2^k-step
    grid makes the gcd divisible by 2^k, genuine content has gcd 1. Linear
    codecs only — companded mulaw/alaw decode to a deliberately nonuniform
    grid and are emitted unjudged.

    Planted ground truth like the other audio lanes: every 40th decodable
    linear-codec clip yields a bd_ variant re-quantized to an id-hashed
    6- or 4-bit power-of-two grid. Measured on the pinned corpus: every
    natural clip measures EXACTLY its nominal depth (pcm16/float32 gcd 1,
    pcm8 gcd 256 — the decode grid itself), so the >= 2-bit-deficit verdict
    has zero base false positives while all 78 plants are dropped.

    Oracle: committed fixture (scripts/make_bitdepth_fixture.py — shared
    kernel, independent driver loop). Fused manifest scan, decode-bound,
    shuffle-free narrow map at any scale
    (operators/audio_ops.bitdepth_scan)."""
    from .operators.audio_ops import bitdepth_scan

    return bitdepth_scan(spark, _clips_cache_path(spark, sf_dir), aug_every=40)


_LOOPING_FIXTURE = f"{_REPO}/fixtures/oracle_looping_n{_CLIPS_N}.parquet"


@register(
    "q173_looping_audit",
    f"""
    SELECT clip_id, ok, n_samples, loop_k, loop_period, looped, keep
    FROM read_parquet('{_LOOPING_FIXTURE}')
    """,
)
def q173_looping_audit(spark, sf_dir):
    """Looped-content audit: clips that are an exact k-fold tiling of a
    shorter segment (k in {2,3,4}) — scraped / synthetically-padded audio
    tiled to reach a target duration, the within-clip structural-
    duplication defect the cross-clip dedup lanes (q38 fingerprints, q157
    landmarks) cannot express and a length-fraud signal for duration-
    weighted sampling. Exactly detectable: x[i] == x[i-p] for all i >= p
    with n = k*p, one vectorized array equality per k — the same exact-
    value reasoning as the integrity audit's zero/stuck runs (q166).
    Silence is unjudgeable (zeros tile trivially) and emitted keep.

    Planted ground truth like the other audio lanes: every 40th decodable
    clip yields an lp_ variant (leading n//k segment tiled an id-hashed
    k in {2,3,4} times — bit-exact by construction). Measured on the
    pinned corpus: zero natural loops (the datagen noise floor breaks
    exact equality everywhere), 97/97 plants dropped across all three ks.

    Oracle: committed fixture (scripts/make_looping_fixture.py — shared
    kernel, independent driver loop). Fused manifest scan, decode-bound,
    shuffle-free narrow map at any scale
    (operators/audio_ops.looping_scan)."""
    from .operators.audio_ops import looping_scan

    return looping_scan(spark, _clips_cache_path(spark, sf_dir), aug_every=40)


@register(
    "q174_defect_gate",
    f"""
    WITH i AS (
      SELECT clip_id, ok,
             CASE WHEN ok THEN keep ELSE TRUE END AS lane_keep
      FROM read_parquet('{_INTEGRITY_FIXTURE}') WHERE clip_id LIKE 'clip_%'
    ),
    e AS (SELECT clip_id, keep AS lane_keep
          FROM read_parquet('{_ELECTRICAL_FIXTURE}') WHERE clip_id LIKE 'clip_%'),
    c AS (SELECT clip_id, keep AS lane_keep
          FROM read_parquet('{_CLIPPING_FIXTURE}') WHERE clip_id LIKE 'clip_%'),
    b AS (SELECT clip_id, keep AS lane_keep
          FROM read_parquet('{_BITDEPTH_FIXTURE}') WHERE clip_id LIKE 'clip_%'),
    l AS (SELECT clip_id, keep AS lane_keep
          FROM read_parquet('{_LOOPING_FIXTURE}') WHERE clip_id LIKE 'clip_%')
    SELECT i.clip_id, i.ok,
           i.lane_keep AS integrity_keep,
           e.lane_keep AS electrical_keep,
           c.lane_keep AS clipping_keep,
           b.lane_keep AS bitdepth_keep,
           l.lane_keep AS looping_keep,
           (i.lane_keep AND e.lane_keep AND c.lane_keep AND b.lane_keep
            AND l.lane_keep) AS keep,
           CASE
             WHEN NOT i.lane_keep THEN 'integrity'
             WHEN NOT e.lane_keep THEN 'electrical'
             WHEN NOT c.lane_keep THEN 'clipping'
             WHEN NOT b.lane_keep THEN 'bitdepth'
             WHEN NOT l.lane_keep THEN 'looping'
           END AS drop_lane
    FROM i JOIN e USING (clip_id) JOIN c USING (clip_id)
           JOIN b USING (clip_id) JOIN l USING (clip_id)
    """,
)
def q174_defect_gate(spark, sf_dir):
    """FUSED five-lane recording-defect gate: ONE decode per clip feeds the
    integrity (q166), electrical (q170), clipping (q171), bit-depth (q172),
    and looping (q173) kernels — five audits for one pass over the bytes,
    the q167 fusion shape applied to the defect family; at 10^12 clips this
    collapses five byte-bound scans into one. drop_lane charges each
    dropped clip to its FIRST failing lane in the fixed audit order (the
    q168 attribution convention); undecodable rows are unjudged by every
    lane (ok=false, all keeps true — decodability is the q167/q27 decode
    lane's verdict, not a defect audit's).

    Oracle: pure SQL over the five lanes' OWN committed fixtures joined on
    clip_id (base rows only — each lane's query owns its plants), with the
    integrity lane's undecodable-keep quirk normalized in both engines.
    Cross-checks the fused implementation against five independently-
    derived per-lane fixtures at once. Fused manifest scan, decode+FFT
    bound, shuffle-free narrow map (operators/audio_ops.defect_gate_scan)."""
    from .operators.audio_ops import defect_gate_scan

    return defect_gate_scan(spark, _clips_cache_path(spark, sf_dir))


@register(
    "q175_boilerplate_audit",
    r"""
    WITH corpus AS (
      SELECT 'doc_' || CAST(doc_id AS VARCHAR) AS doc_key, text FROM documents
      UNION ALL
      SELECT 'bo_' || CAST(doc_id AS VARCHAR),
             text || '. Subscribe to our newsletter today.'
      FROM documents
      WHERE doc_id % 20 = 0 AND text IS NOT NULL AND text <> ''
    ),
    s AS (
      SELECT doc_key,
             list_filter(list_transform(string_split_regex(coalesce(text, ''),
                                                           '\. '),
                                        x -> trim(x)),
                         x -> x <> '') AS ss
      FROM corpus
    ),
    e AS (SELECT doc_key, unnest(ss) AS sent FROM s),
    b AS (SELECT sent FROM e GROUP BY sent
          HAVING count(DISTINCT doc_key) >= 3),
    f AS (SELECT e.doc_key, count(*) AS n_boiler
          FROM e JOIN b USING (sent) GROUP BY e.doc_key)
    SELECT s.doc_key,
           CAST(len(ss) AS BIGINT) AS n_sentences,
           CAST(coalesce(f.n_boiler, 0) AS BIGINT) AS n_boiler,
           coalesce(f.n_boiler, 0) >= 1 AS suspect
    FROM s LEFT JOIN f USING (doc_key)
    """,
)
def q175_boilerplate_audit(spark, sf_dir):
    """Boilerplate-sentence audit over the documents table: sentences
    shared verbatim by >= 3 distinct documents are template chrome
    (footers, cookie banners, "subscribe" calls) — the curation signal
    per-doc quality scores (q42) and cross-doc near-dup pairs (q21/q22)
    both miss, because boilerplate contaminates most docs a little rather
    than making any pair near-identical. Planted ground truth: every 20th
    non-empty doc yields a bo_ variant with the template sentence appended
    — 25 sharing docs at sf0.01 vs measured ZERO natural cross-doc
    sentence sharing (a base sentence reaches at most 2 docs: itself and
    its own bo_ copy; the verdict line sits at 3).

    Scale shape: one count-distinct agg per sentence (map-side partial
    dedup absorbs the hot boilerplate keys) + the small flagged set
    broadcast back over the exploded frame — no second wide shuffle.
    Oracle: the ENTIRE computation incl. plants in pure DuckDB SQL over
    the shared documents view (split/trim/filter/agg mirror the JVM ops
    exactly; NO fixture, no UDF)
    (operators/text_analysis.boilerplate_audit)."""
    from .operators.text_analysis import boilerplate_audit

    return boilerplate_audit(_t(spark, sf_dir, "documents"), plant_every=20)


@register(
    "q176_embedding_hygiene",
    r"""
    WITH base AS (
      SELECT 'vec_' || CAST(vec_id AS VARCHAR) AS vec_key, embedding
      FROM embeddings
      UNION ALL
      SELECT 'nf_' || CAST(vec_id AS VARCHAR),
             list_transform(embedding,
                            (x, i) -> CASE WHEN i = 1 THEN 'nan'::FLOAT
                                           ELSE x END)
      FROM embeddings WHERE vec_id % 30 = 0 AND embedding IS NOT NULL
      UNION ALL
      SELECT 'sh_' || CAST(vec_id AS VARCHAR), embedding[1:48]
      FROM embeddings WHERE vec_id % 30 = 0 AND embedding IS NOT NULL
      UNION ALL
      SELECT 'zr_' || CAST(vec_id AS VARCHAR),
             list_transform(embedding, x -> 0.0::FLOAT)
      FROM embeddings WHERE vec_id % 30 = 0 AND embedding IS NOT NULL
    ),
    m AS (
      SELECT vec_key,
             coalesce(embedding, []::FLOAT[]) AS e
      FROM base
    )
    SELECT vec_key,
           CAST(len(e) AS BIGINT) AS dim,
           CAST(len(list_filter(e, x -> isnan(x) OR NOT isfinite(x)))
                AS BIGINT) AS n_nonfinite,
           CAST(len(list_filter(e, x -> x = 0)) AS BIGINT) AS n_zero,
           len(e) = 64 AS dim_ok,
           len(list_filter(e, x -> isnan(x) OR NOT isfinite(x))) = 0
             AS finite_ok,
           len(e) > 0 AND len(list_filter(e, x -> x = 0)) < len(e)
             AS nonzero_ok,
           (len(e) = 64
            AND len(list_filter(e, x -> isnan(x) OR NOT isfinite(x))) = 0
            AND len(e) > 0
            AND len(list_filter(e, x -> x = 0)) < len(e)) AS keep
    FROM m
    """,
)
def q176_embedding_hygiene(spark, sf_dir):
    """Embedding HYGIENE audit over the embeddings table: dimension
    mismatches, non-finite entries (NaN/Inf from overflowed encoders or
    corrupt parquet), all-zero vectors (failed inference emitting the zero
    init) — the ingest-validation lane every ANN / semdedup consumer
    (q23-q35, q74) assumes has already run: one NaN silently poisons every
    cosine it touches, an all-zero vector matches nothing yet survives
    top-k. All emitted metrics are integers/booleans — no float crosses
    the oracle boundary. Planted ground truth: every 30th vector yields
    three SQL-expressible corruptions — nf_ (NaN at element 0), sh_
    (truncated to 48 dims), zr_ (zeroed) — 17 of each at sf0.01; the base
    corpus is measured fully clean.

    Oracle: the ENTIRE computation incl. plants in pure DuckDB SQL over
    the shared embeddings view (list_transform/list_filter/slice mirror
    the JVM transform/filter/slice exactly; NO fixture, no UDF). Narrow
    shuffle-free map at any scale
    (operators/similarity.embedding_hygiene)."""
    from .operators.similarity import embedding_hygiene

    return embedding_hygiene(
        _t(spark, sf_dir, "embeddings"), expected_dim=64, plant_every=30
    )


_REUSE_FIXTURE = f"{_REPO}/fixtures/oracle_reuse_n{_CLIPS_N}.parquet"


@register(
    "q177_transcript_reuse",
    f"""
    SELECT transcript_md5, n_clips, n_distinct_audio, mislabel, exact_dup
    FROM read_parquet('{_REUSE_FIXTURE}')
    """,
)
def q177_transcript_reuse(spark, sf_dir):
    """Cross-modal LABEL-REUSE audit: groups of clips sharing one
    substantive transcript verbatim (len >= 20 — short utterances
    legitimately repeat), split by the audio payload into true duplicates
    (one distinct audio md5: q20's case seen from the label side) vs
    LABEL REUSE (>= 2 distinct audios under one transcript — a broken
    scrape join or copy-paste annotation, poisoning supervised training
    twice: a wrong label for at least one clip plus a spurious easy pair
    for contrastive objectives). Neither audio dedup (q38) nor text dedup
    (q20/q21) expresses this transcript-keyed, audio-distinguished shape.

    All-JVM (md5/crc32/group-agg, no decode, no UDF): ONE shuffle on the
    transcript key with map-side partial agg; only n_clips >= 2 groups
    emitted. Measured on the pinned corpus: ZERO natural groups at the
    length floor, so every emitted row is a plant — the tr_ twins (same
    transcript, payload extended by one 0x00 byte) selected by
    crc32(clip_id) % 40 (id-hash — defined for arbitrary ids).

    Oracle: committed fixture (scripts/make_reuse_fixture.py —
    INDEPENDENT hashlib/zlib/pandas derivation, no shared operator code)
    (operators/audio_ops.transcript_reuse)."""
    from .operators.audio_ops import transcript_reuse

    return transcript_reuse(
        spark.read.parquet(_clips_cache_path(spark, sf_dir)), plant_every=40
    )


@register(
    "q178_defect_attribution",
    f"""
    WITH i AS (
      SELECT clip_id, ok,
             CASE WHEN ok THEN keep ELSE TRUE END AS lane_keep
      FROM read_parquet('{_INTEGRITY_FIXTURE}') WHERE clip_id LIKE 'clip_%'
    ),
    e AS (SELECT clip_id, keep AS lane_keep
          FROM read_parquet('{_ELECTRICAL_FIXTURE}') WHERE clip_id LIKE 'clip_%'),
    c AS (SELECT clip_id, keep AS lane_keep
          FROM read_parquet('{_CLIPPING_FIXTURE}') WHERE clip_id LIKE 'clip_%'),
    b AS (SELECT clip_id, keep AS lane_keep
          FROM read_parquet('{_BITDEPTH_FIXTURE}') WHERE clip_id LIKE 'clip_%'),
    l AS (SELECT clip_id, keep AS lane_keep
          FROM read_parquet('{_LOOPING_FIXTURE}') WHERE clip_id LIKE 'clip_%'),
    attr AS (
      SELECT CASE
        WHEN NOT i.lane_keep THEN 0 WHEN NOT e.lane_keep THEN 1
        WHEN NOT c.lane_keep THEN 2 WHEN NOT b.lane_keep THEN 3
        WHEN NOT l.lane_keep THEN 4 ELSE 5 END AS lane_order
      FROM i JOIN e USING (clip_id) JOIN c USING (clip_id)
             JOIN b USING (clip_id) JOIN l USING (clip_id)
    )
    SELECT lane_order,
           CASE lane_order WHEN 0 THEN 'integrity' WHEN 1 THEN 'electrical'
             WHEN 2 THEN 'clipping' WHEN 3 THEN 'bitdepth'
             WHEN 4 THEN 'looping' ELSE 'keep' END AS lane,
           count(*)::BIGINT AS n_clips
    FROM attr GROUP BY lane_order
    """,
)
def q178_defect_attribution(spark, sf_dir):
    """Drop-reason attribution for the fused defect gate (q174): every
    clip charged to its FIRST failing defect lane in the fixed audit order
    integrity -> electrical -> clipping -> bitdepth -> looping (survivors
    land in 'keep') — the q168 dashboard applied to the recording-defect
    family: first-failure attribution sums to the corpus size, so drift in
    one lane shows as mass moving between rows.

    Spark side reuses the single-decode defect-gate scan and reduces it
    with one map-side-combinable GROUP BY; the DuckDB oracle re-derives
    the same rollup over the five-fixture join. At 10^12 clips: narrow
    scan + a 6-row aggregate — nothing else."""
    from pyspark.sql import functions as F

    from .operators.audio_ops import DEFECT_LANES, defect_gate_scan

    g = defect_gate_scan(spark, _clips_cache_path(spark, sf_dir))
    lane_order = F.lit(len(DEFECT_LANES))
    for idx in range(len(DEFECT_LANES) - 1, -1, -1):
        lane_order = F.when(
            ~F.col(f"{DEFECT_LANES[idx]}_keep"), idx
        ).otherwise(lane_order)
    lane = F.element_at(
        F.array(*[F.lit(x) for x in DEFECT_LANES + ("keep",)]),
        F.col("lane_order") + 1,
    )
    return (
        g.withColumn("lane_order", lane_order)
        .groupBy("lane_order")
        .agg(F.count("*").cast("bigint").alias("n_clips"))
        .withColumn("lane", lane)
        .select("lane_order", "lane", "n_clips")
    )

@register(
    "q179_t_closeness_audit",
    """
    WITH q AS (
      SELECT c.c_mktsegment AS seg, c.c_nationkey AS nation,
             o.o_orderpriority AS sensitive
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    tot AS (SELECT count(*) AS n FROM q),
    gl AS (SELECT sensitive, count(*) AS gs FROM q GROUP BY 1),
    cls AS (SELECT seg, nation, count(*) AS class_size FROM q GROUP BY 1, 2),
    cell AS (SELECT seg, nation, sensitive, count(*) AS cs
             FROM q GROUP BY 1, 2, 3),
    grid AS (
      SELECT c.seg, c.nation, c.class_size, g.gs, coalesce(l.cs, 0) AS cs, t.n
      FROM cls c CROSS JOIN gl g CROSS JOIN tot t
      LEFT JOIN cell l ON l.seg = c.seg AND l.nation = c.nation
                      AND l.sensitive = g.sensitive
    )
    SELECT seg, nation, CAST(class_size AS BIGINT) AS class_size,
           CAST(sum(abs(cs * n - gs * class_size)) AS BIGINT) AS tvd_num,
           (5 * sum(abs(cs * n - gs * class_size))
              > class_size * any_value(n)) AS at_risk
    FROM grid GROUP BY seg, nation, class_size
    """,
)
def q179_t_closeness_audit(spark, sf_dir):
    """t-closeness audit — the third privacy release screen after q125's
    k-anonymity and q136's l-diversity: a class can be large AND diverse
    yet still leak if its SENSITIVE-attribute distribution deviates far
    from the global one (an attacker learns P(sensitive|class) - P(
    sensitive)). Quasi-identifier class = (mktsegment, nationkey) over
    orders joined to customers; sensitive = o_orderpriority (bounded
    5-value alphabet — the textbook t-closeness shape). Distance is total
    variation, kept EXACT in integers by cross-multiplication:

        TVD(class) = sum_s |cs*N - gs*class_size| / (2*class_size*N)

    so tvd_num = sum_s |cs*N - gs*class_size| is a BIGINT and the t=1/10
    release threshold tests 10*tvd_num > 2*class_size*N, reduced to
    5*tvd_num > class_size*N — no float ever crosses the oracle boundary.
    Flags 25 of 125 classes at sf0.01 (TVD spread measured 0.002-0.149).

    Scale shape: one shuffle join orders->customer on the customer key,
    then map-side-partial groupBys; the global distribution (|alphabet|
    rows) and the total (1 row) BROADCAST back over the per-class frame,
    and the grid is |classes| x |alphabet| — never row-scale. Absences
    (cs=0) enter the sum via the broadcast cross-grid + zero-fill, which
    a naive per-present-cell rollup would silently miss."""
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment", "c_nationkey")
    q = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("seg"),
        F.col("c_nationkey").alias("nation"),
        F.col("o_orderpriority").alias("sensitive"),
    )
    tot = q.agg(F.count(F.lit(1)).alias("n"))
    gl = q.groupBy("sensitive").agg(F.count(F.lit(1)).alias("gs"))
    cls = q.groupBy("seg", "nation").agg(F.count(F.lit(1)).alias("class_size"))
    cell = q.groupBy("seg", "nation", "sensitive").agg(F.count(F.lit(1)).alias("cs"))
    grid = (
        cls.crossJoin(F.broadcast(gl))
        .crossJoin(F.broadcast(tot))
        .join(cell, ["seg", "nation", "sensitive"], "left")
        .fillna(0, ["cs"])
    )
    dev = F.abs(F.col("cs") * F.col("n") - F.col("gs") * F.col("class_size"))
    return grid.groupBy("seg", "nation", "class_size").agg(
        F.sum(dev).cast("bigint").alias("tvd_num"),
        (F.lit(5) * F.sum(dev) > F.col("class_size") * F.first("n")).alias("at_risk"),
    ).select(
        "seg", "nation", F.col("class_size").cast("bigint").alias("class_size"),
        "tvd_num", "at_risk",
    )


@register(
    "q180_ann_recall_audit",
    f"""
    WITH d AS (
      SELECT vec_id, embedding::DOUBLE[] AS e,
             list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS n2,
             {_IVF_DOTS_SQL}
      FROM embeddings
    ),
    b AS (SELECT vec_id, e, n2, {_IVF_CASE_SQL} AS cell FROM d),
    ex_scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(list_dot_product(q.e, c.e) / sqrt(q.n2 * c.n2), 4) AS cos
      FROM b q JOIN b c ON c.vec_id != q.vec_id
      WHERE q.vec_id < 40
    ),
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, neighbor_id ASC) AS rk
        FROM ex_scored
      ) WHERE rk <= 3
    ),
    iv_scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(list_dot_product(q.e, c.e) / sqrt(q.n2 * c.n2), 4) AS cos
      FROM b q JOIN b c ON c.cell = q.cell AND c.vec_id != q.vec_id
      WHERE q.vec_id < 40
    ),
    approx AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, neighbor_id ASC) AS rk
        FROM iv_scored
      ) WHERE rk <= 3
    )
    SELECT e.query_id,
           count(*)::BIGINT AS n_exact,
           count(a.neighbor_id)::BIGINT AS n_hit,
           CAST(10000 * count(a.neighbor_id) // count(*) AS BIGINT) AS recall_bp
    FROM exact e LEFT JOIN approx a USING (query_id, neighbor_id)
    GROUP BY e.query_id
    """,
)
def q180_ann_recall_audit(spark, sf_dir):
    """Recall@k audit of the IVF nprobe=1 index (q35's production path)
    against exact brute-force ground truth (q23's construction) for a
    40-query panel — the index-quality evaluation every ANN deployment
    runs before trusting approximate retrieval at 10^12 rows. Per query:
    how many of the k true neighbors the coarse-cell search recovered,
    in EXACT integers (basis points via integer division — no float
    crosses the oracle boundary). Both rankings share the rounded-cosine
    + id tie-break, so the compared top-k SETS are deterministic.

    Ground truth stays affordable because it is computed ONLY for the
    bounded broadcast query panel; the IVF side is the cell equi-join.
    The DuckDB oracle re-derives BOTH paths from the same frozen centroid
    literals and joins them (operators/similarity.ann_recall_audit)."""
    from .operators.similarity import ann_recall_audit

    return ann_recall_audit(_t(spark, sf_dir, "embeddings"), n_queries=40, k=3)


@register(
    "q181_knn_hubness",
    f"""
    WITH d AS (
      SELECT vec_id, embedding::DOUBLE[] AS e,
             list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS n2,
             {_IVF_DOTS_SQL}
      FROM embeddings
    ),
    b AS (SELECT vec_id, e, n2, {_IVF_CASE_SQL} AS cell FROM d),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(list_dot_product(q.e, c.e) / sqrt(q.n2 * c.n2), 4) AS cos
      FROM b q JOIN b c ON c.cell = q.cell AND c.vec_id != q.vec_id
    ),
    cited AS (
      SELECT neighbor_id AS vec_id, count(*)::BIGINT AS n_occ FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, neighbor_id ASC) AS rk
        FROM scored
      ) WHERE rk <= 3 GROUP BY neighbor_id
    )
    SELECT b.vec_id, b.cell, coalesce(c.n_occ, 0)::BIGINT AS n_occ
    FROM b LEFT JOIN cited c USING (vec_id)
    """,
)
def q181_knn_hubness(spark, sf_dir):
    """k-occurrence HUBNESS audit over the IVF kNN graph: for every
    vector, how many other vectors cite it in their in-cell top-3. High-
    dimensional corpora concentrate citations onto HUBS (n_occ >> k) that
    dominate retrieval and semdedup clustering, while ANTIHUBS (n_occ=0)
    become unreachable through the graph — a distribution-level embedding
    pathology q176's per-vector hygiene cannot see. Exact integers end to
    end; never-cited vectors surface through the left join with n_occ=0
    (a citation-side rollup alone would drop exactly the antihub finding).

    Scale shape: per-cell quadratic (the standard IVF trade, cell count
    ~sqrt(N)), one map-side-combinable groupBy on the cited id, one
    same-key left join back to the corpus — no global window, nothing
    all-pairs (operators/similarity.knn_hubness)."""
    from .operators.similarity import knn_hubness

    return knn_hubness(_t(spark, sf_dir, "embeddings"), k=3)


_QSTATS_CACHE: dict = {}


def _qstats_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-clip fixed-point log-mel partials for the pinned clips table,
    persisted once per session: q182 (global reduce), q183 (constants for
    the apply pass), and q184 (md5-half drift) all consume the SAME
    kernel-bound FFT scan instead of each re-decoding the corpus — the
    partials are ~156k short integer rows. Same app-bounded cache
    discipline as _clips_post_decode / _fp_keys_cached."""
    from pyspark import StorageLevel

    from .operators.audio_ops import feature_qstats_scan

    path = _clips_cache_path(spark, sf_dir)

    def build():
        return feature_qstats_scan(spark, path).persist(
            StorageLevel.MEMORY_AND_DISK
        )

    return _session_cached(_QSTATS_CACHE, spark, path, build)


_FEATURE_QSTATS_FIXTURE = f"{_REPO}/fixtures/oracle_feature_qstats_n{_CLIPS_N}.parquet"
_CORPUS_CMVN_FIXTURE = f"{_REPO}/fixtures/oracle_corpus_cmvn_n{_CLIPS_N}.parquet"


@register(
    "q182_global_feature_stats",
    f"""
    SELECT bin, count(*)::BIGINT AS n_clips,
           CAST(sum(n_frames) AS BIGINT) AS n_frames,
           CAST(sum(sum_q) AS BIGINT) AS sum_q,
           CAST(sum(sumsq_q) AS BIGINT) AS sumsq_q
    FROM read_parquet('{_FEATURE_QSTATS_FIXTURE}')
    GROUP BY bin
    """,
)
def q182_global_feature_stats(spark, sf_dir):
    """CORPUS-level log-mel statistics — pass 1 of corpus CMVN: per mel
    bin, the EXACT integer (n_clips, n_frames, sum_q, sumsq_q) over every
    decodable clip, q = rint(logmel * 2^12). q56 normalizes per utterance
    (needs no corpus state); training recipes that share ONE normalization
    across the corpus need this global reduce instead — the only audio
    lane whose value is a cross-corpus aggregate rather than a per-clip
    function, i.e. the shape that actually exercises the shuffle.

    Fixed-point quantization BEFORE summation is what makes it testable
    at all: float partial sums differ with the aggregation schedule, but
    integer sums are order-independent, so Spark's shuffle-scheduled
    reduce is value-checked against an independent single-process pass
    (committed per-clip fixture, aggregated by the oracle's own GROUP BY).
    Scale: narrow FFT scan -> ONE map-side-combinable n_mels-group
    aggregate; sumsq widens to decimal(38,0) past ~10^9 clips
    (operators/audio_ops.global_feature_stats). q182/q183/q184 share ONE
    session-persisted partials scan (_qstats_cached)."""
    from .operators.audio_ops import aggregate_feature_qstats

    return aggregate_feature_qstats(_qstats_cached(spark, sf_dir))


@register(
    "q183_corpus_cmvn",
    f"""
    SELECT clip_id, ok, n_frames, n_mels, feats_md5
    FROM read_parquet('{_CORPUS_CMVN_FIXTURE}')
    """,
)
def q183_corpus_cmvn(spark, sf_dir):
    """Corpus-CMVN featurization — pass 2: every clip's quantized log-mel
    normalized by the GLOBAL (mean, 1/std) per bin derived from q182's
    exact integer statistics, digest-exact (md5 of the float64 features,
    hashed inside the Arrow batch). Because both engines fold identical
    integers through identical single IEEE ops (core/resample.
    corpus_cmvn_constants), the committed single-process oracle digests
    match Spark's bit-for-bit — a determinism guarantee per-corpus float
    averaging could never give.

    Scale shape: the canonical two-pass normalization at 10^12 clips —
    an n_mels-row aggregate collected as bounded metadata, constants
    broadcast into a second shuffle-free narrow map
    (operators/audio_ops.corpus_cmvn_digest_scan)."""
    from .operators.audio_ops import (
        aggregate_feature_qstats,
        corpus_cmvn_digest_scan,
    )

    return corpus_cmvn_digest_scan(
        spark,
        _clips_cache_path(spark, sf_dir),
        stats_df=aggregate_feature_qstats(_qstats_cached(spark, sf_dir)),
    )


@register(
    "q184_feature_drift",
    f"""
    WITH h AS (
      SELECT bin,
             CASE WHEN substr(md5(clip_id), 1, 1) IN
               ('0','1','2','3','4','5','6','7') THEN 'a' ELSE 'b' END AS half,
             n_frames, sum_q
      FROM read_parquet('{_FEATURE_QSTATS_FIXTURE}')
    ),
    g AS (SELECT half, bin, CAST(sum(n_frames) AS BIGINT) AS n,
                 CAST(sum(sum_q) AS BIGINT) AS s
          FROM h GROUP BY 1, 2)
    SELECT a.bin, a.n AS n_a, b.n AS n_b, a.s AS sum_a, b.s AS sum_b,
           CAST(abs(a.s * b.n - b.s * a.n) AS BIGINT) AS diff_num,
           (abs(a.s * b.n - b.s * a.n) > 200 * a.n * b.n) AS drift
    FROM g a JOIN g b ON a.bin = b.bin AND a.half = 'a' AND b.half = 'b'
    """,
)
def q184_feature_drift(spark, sf_dir):
    """Per-mel-bin feature drift between two deterministic md5 corpus
    halves — the audio-feature twin of q123's source-distribution drift:
    a mean shift in any band flags a front-end change (resampler, codec
    mix, loudness) between ingest eras before it skews training. Exact
    integer verdict by cross-multiplication on the q182 fixed-point
    statistics (|sum_a*n_b - sum_b*n_a| > tau_q*n_a*n_b, tau_q=200 ~
    0.049 log10 units) — flags 12/40 bins on the pinned corpus's halves
    (content variance, the honest mixed verdict set). Oracle aggregates
    the committed per-clip fixture under the same md5 split in pure SQL
    (operators/audio_ops.feature_drift); shares the session-persisted
    partials scan with q182/q183."""
    from .operators.audio_ops import feature_drift_from_parts

    return feature_drift_from_parts(_qstats_cached(spark, sf_dir))


def _pagerank_iter_sql(k: int) -> str:
    """One unrolled integer-PageRank stage as a CTE body (rank table r{k-1}
    -> r{k}): contribution (17*r*w) // (20*W_u) is EXACT integer floor
    division, so the stage is reproducible regardless of evaluation order."""
    prev = f"r{k - 1}"
    return (
        f"r{k} AS (SELECT e.v, 150000 + CAST(sum((17 * {prev}.r * e.w) "
        f"// (20 * wout.wu)) AS BIGINT) AS r "
        f"FROM e JOIN {prev} ON {prev}.v = e.u "
        f"JOIN wout ON wout.u = e.u GROUP BY e.v)"
    )


@register(
    "q185_pagerank_copurchase",
    f"""
    WITH pr AS (
      SELECT l_orderkey AS o, l_partkey AS p FROM lineitem GROUP BY 1, 2
    ),
    e AS (
      SELECT a.p AS u, b.p AS v, count(*)::BIGINT AS w
      FROM pr a JOIN pr b ON a.o = b.o AND a.p <> b.p GROUP BY 1, 2
    ),
    wout AS (SELECT u, CAST(sum(w) AS BIGINT) AS wu FROM e GROUP BY 1),
    r0 AS (SELECT u AS v, CAST(1000000 AS BIGINT) AS r FROM wout),
    {_pagerank_iter_sql(1)},
    {_pagerank_iter_sql(2)},
    {_pagerank_iter_sql(3)}
    SELECT v AS part_key, r AS rank_i FROM r3
    """,
)
def q185_pagerank_copurchase(spark, sf_dir):
    """INTEGER-arithmetic PageRank (3 unrolled power iterations, damping
    17/20) over the part co-purchase graph — the iterative-graph-algorithm
    class, made exactly reproducible by construction: every edge
    contribution is the integer floor (17*r*w) // (20*W_u), so partial
    sums commute and the distributed reduce equals the oracle bit-for-bit
    — float PageRank can only ever be compared approximately, which is
    why engine test suites usually skip it. Scaled ranks start at 10^6
    with teleport base 150000 (= 0.15 * 10^6).

    Graph build: per-order distinct parts self-joined into weighted
    symmetric edges — fan-out bounded by order size (TPC-H <= 7 items),
    never corpus-quadratic. Each iteration is one equi-join on the source
    + one map-side-combinable groupBy on the destination; hot vertices
    (high in-degree) are absorbed by partial aggregation. At web scale
    this is exactly Pregel-on-DataFrames with deterministic state."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    a = li.select(F.col("o"), F.col("p").alias("u"))
    b = li.select(F.col("o"), F.col("p").alias("v"))
    e = (
        a.join(b, "o")
        .filter(F.col("u") != F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    wout = e.groupBy("u").agg(F.sum("w").cast("long").alias("wu"))
    # NOTE(r6): measured — an eager checkpoint of ew here is a wash at
    # bench scale (Spark reuses the edge-build exchange across the three
    # unrolled iterations), so the lazy form stays; on a real cluster the
    # edge list would be written once as a table (Pregel-on-DataFrames).
    ew = e.join(wout, "u")
    ranks = wout.select(F.col("u").alias("v"), F.lit(1000000).cast("long").alias("r"))
    for _ in range(3):
        contrib = ew.join(ranks.withColumnRenamed("v", "u"), "u").select(
            "v",
            F.expr("(17 * r * w) div (20 * wu)").alias("c"),
        )
        ranks = contrib.groupBy("v").agg(
            (F.lit(150000) + F.sum("c")).cast("long").alias("r")
        )
    return ranks.select(F.col("v").alias("part_key"), F.col("r").alias("rank_i"))


_BPE_FERTILITY_FIXTURE = (
    f"{_REPO}/fixtures/oracle_bpe_fertility_n{_CLIPS_N}_m{_BPE_MERGES_N}.parquet"
)


@register(
    "q186_bpe_fertility",
    f"""
    SELECT lang, n_words, n_tokens, n_chars, fertility_milli
    FROM read_parquet('{_BPE_FERTILITY_FIXTURE}')
    """,
)
def q186_bpe_fertility(spark, sf_dir):
    """Per-language tokenizer FERTILITY audit (subword tokens per
    character, exact milli-integers) of the q75-trained BPE over the
    language-labeled pipeline output — the tokenizer-fairness measure: a
    merge table trained on a skewed mix under-serves minority languages,
    which burn more tokens per character (higher cost per unit text, a
    shorter effective context window). On the pinned corpus the signal is
    real: en 694 milli (merges mostly learned from the majority language)
    vs ru 1081 / zh 1131 — the >1.5x disparity a mixture rebalance (q87)
    or per-language merge budget would close.

    Inputs are two already-value-checked artifacts (q27's labels for
    lang + scrubbed text, q75's merge table), so this composes verified
    lanes rather than re-deriving them. Scale: encoding once per DISTINCT
    word over the bounded vocabulary, one word join, one map-side-
    combinable per-language sum (operators/bpe_train.bpe_fertility);
    oracle is the committed independent single-process aggregation
    (scripts/make_bpe_fertility_fixture.py)."""
    import pandas as pd

    from .operators.bpe_train import bpe_fertility

    merges_fx = pd.read_parquet(_BPE_FIXTURE)
    merges = [(r["left"], r["right"]) for _, r in merges_fx.iterrows()]
    labels = _clips_labels(spark, sf_dir)
    return bpe_fertility(
        labels.select("lang", F.col("scrubbed_transcript").alias("text")), merges
    )


@register(
    "q187_epoch_shuffle",
    """
    WITH base AS (SELECT doc_id FROM documents),
    ep AS (SELECT e.epoch, doc_id
           FROM base, (SELECT unnest([0, 1, 2]) AS epoch) e),
    keyed AS (
      SELECT epoch, doc_id,
             md5('ep' || CAST(epoch AS VARCHAR) || '|' || CAST(doc_id AS VARCHAR))
               AS skey
      FROM ep
    ),
    bucketed AS (
      SELECT epoch, doc_id, skey,
             CAST(('0x' || substr(skey, 1, 4))::INTEGER % 8 AS INTEGER) AS bucket
      FROM keyed
    )
    SELECT epoch, bucket,
           CAST(row_number() OVER (PARTITION BY epoch, bucket
                                   ORDER BY skey, doc_id) AS BIGINT) AS pos,
           doc_id
    FROM bucketed
    """,
)
def q187_epoch_shuffle(spark, sf_dir):
    """Deterministic EPOCH SHUFFLE for training-data delivery: each epoch
    e assigns every document a fresh pseudo-random order via
    md5('ep<e>|<id>') — different permutation every epoch (decorrelated
    batches), yet fully reproducible on any engine with no RNG state to
    checkpoint (resume = recompute). The order is materialized as
    (epoch, bucket, pos, doc_id): 8 hash buckets from the key's first 16
    bits, position by row_number WITHIN the bucket — consumers stream
    buckets in any order and rows by pos, which is exactly how a data
    loader shards an epoch across workers.

    Scale shape: the window is partitioned by (epoch, bucket) — at 10^12
    docs you raise the bucket count with the corpus (buckets ~ total/
    target-shard-size) and NO global total order is ever imposed; a naive
    row_number over the whole epoch would funnel the corpus through one
    partition. All emitted columns exact integers/strings."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    ep = d.crossJoin(
        F.broadcast(
            spark.range(3).select(F.col("id").cast("int").alias("epoch"))
        )
    )
    keyed = ep.select(
        "epoch",
        "doc_id",
        F.md5(
            F.concat(
                F.lit("ep"), F.col("epoch").cast("string"),
                F.lit("|"), F.col("doc_id").cast("string"),
            ).cast("binary")
        ).alias("skey"),
    )
    bucketed = keyed.withColumn(
        "bucket", F.pmod(F.conv(F.substring("skey", 1, 4), 16, 10).cast("int"), F.lit(8))
    )
    w = Window.partitionBy("epoch", "bucket").orderBy(F.asc("skey"), F.asc("doc_id"))
    return bucketed.select(
        "epoch", "bucket",
        F.row_number().over(w).cast("bigint").alias("pos"),
        "doc_id",
    )


@register(
    "q188_cluster_quality",
    f"""
    WITH {_kmeans_sql_ctes("embeddings", 10, 3)}
    , rkq AS (
      SELECT vec_id, cid, dist,
             row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk
      FROM dfin
    ),
    ppq AS (
      SELECT a.vec_id, a.cid AS cluster, a.dist AS d1, b.dist AS d2
      FROM rkq a JOIN rkq b ON a.vec_id = b.vec_id AND a.rk = 1 AND b.rk = 2
    )
    SELECT cluster::INT AS cluster, count(*)::BIGINT AS n,
           CAST(sum(CASE WHEN d2 < 2 * d1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_boundary,
           CAST(sum(d1) AS BIGINT) AS sse
    FROM ppq GROUP BY cluster
    """,
)
def q188_cluster_quality(spark, sf_dir):
    """Cluster-quality audit of the exact k-means (q73): per cluster the
    exact integer (n, n_boundary, sse) — a point is BOUNDARY when its
    second-closest centroid is less than twice as far in squared lattice
    units (d2 < 2*d1, the simplified-silhouette margin kept exact by
    cross-multiplication). The fraction of boundary points is the
    go/no-go signal for every cluster-bounded consumer: semdedup (q74)
    never compares near-dups that fall across two touching clusters, so
    a high boundary share means the cluster prefilter is leaking recall.

    Fit is SHARED with q73 (same seedless init, same integer Lloyd
    rounds — bit-identical centroids); the audit pass is one narrow map
    computing the sorted per-point distance array against k broadcast
    centroids + ONE map-side-combinable rollup. The DuckDB oracle
    re-derives fit AND audit from the same CTE chain
    (operators/clustering.kmeans_quality)."""
    from .operators.clustering import kmeans_quality

    return kmeans_quality(_t(spark, sf_dir, "embeddings"))


def _mw_lane(d, lane: str):
    """Doubled-rank Mann-Whitney over a (half, v) frame -> one exact row.

    Value-histogram construction: ranks are derived per DISTINCT value
    (avg rank of a tie group doubles to the integer 2*cum_below+cnt+1),
    so the only window runs over the bounded value domain — the corpus
    itself is never globally sorted. Verdict at ~2 sigma with the exact
    tie-corrected variance, cross-multiplied in decimal(38,0):

        drift <=> 12*n*(n-1) * D^2  >  16 * nA*nB*((n+1)*n*(n-1) - T)

    with D = 2U_A - nA*nB and T = sum(t^3 - t) over tie groups."""
    hist = d.groupBy("v").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum((F.col("half") == "a").cast("long")).alias("cnt_a"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    h = hist.withColumn("cum_below", F.coalesce(F.sum("cnt").over(w), F.lit(0)))
    agg = h.agg(
        F.sum("cnt_a").cast("long").alias("n_a"),
        F.sum(F.col("cnt") - F.col("cnt_a")).cast("long").alias("n_b"),
        F.sum(
            F.col("cnt_a") * (2 * F.col("cum_below") + F.col("cnt") + 1)
        ).cast("long").alias("r2_a"),
        F.sum(
            F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")
        ).cast("long").alias("tie_cube"),
    )
    dec = "decimal(38,0)"
    return agg.select(
        F.lit(lane).alias("lane"), "n_a", "n_b",
        "r2_a",
        (F.col("r2_a") - F.col("n_a") * (F.col("n_a") + 1)).cast("long").alias("u2_a"),
        "tie_cube",
        (
            F.lit(12).cast(dec) * (F.col("n_a") + F.col("n_b")).cast(dec)
            * (F.col("n_a") + F.col("n_b") - 1).cast(dec)
            * (F.col("r2_a") - F.col("n_a") * (F.col("n_a") + 1)
               - F.col("n_a") * F.col("n_b")).cast(dec)
            * (F.col("r2_a") - F.col("n_a") * (F.col("n_a") + 1)
               - F.col("n_a") * F.col("n_b")).cast(dec)
            > F.lit(16).cast(dec) * (F.col("n_a") * F.col("n_b")).cast(dec)
            * (
                ((F.col("n_a") + F.col("n_b") + 1).cast(dec)
                 * (F.col("n_a") + F.col("n_b")).cast(dec)
                 * (F.col("n_a") + F.col("n_b") - 1).cast(dec))
                - F.col("tie_cube").cast(dec)
            )
        ).alias("drift"),
    )


@register(
    "q189_mannwhitney_drift",
    """
    WITH src AS (
      SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN
               ('0','1','2','3','4','5','6','7') THEN 'a' ELSE 'b' END AS half,
             n_chars
      FROM documents WHERE n_chars IS NOT NULL
    ),
    lanes AS (
      SELECT 'observed' AS lane, half, CAST(n_chars AS BIGINT) AS v FROM src
      UNION ALL
      SELECT 'planted', half,
             CASE WHEN half = 'b' THEN (CAST(n_chars AS BIGINT) * 5) // 4
                  ELSE CAST(n_chars AS BIGINT) END
      FROM src
    ),
    hist AS (
      SELECT lane, v, count(*)::BIGINT AS cnt,
             CAST(sum(CASE WHEN half = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_a
      FROM lanes GROUP BY lane, v
    ),
    h AS (
      SELECT lane, v, cnt, cnt_a,
             coalesce(sum(cnt) OVER (PARTITION BY lane ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_below
      FROM hist
    ),
    agg AS (
      SELECT lane,
             CAST(sum(cnt_a) AS BIGINT) AS n_a,
             CAST(sum(cnt - cnt_a) AS BIGINT) AS n_b,
             CAST(sum(cnt_a * (2 * cum_below + cnt + 1)) AS BIGINT) AS r2_a,
             CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS tie_cube
      FROM h GROUP BY lane
    )
    SELECT lane, n_a, n_b, r2_a,
           CAST(r2_a - n_a * (n_a + 1) AS BIGINT) AS u2_a,
           tie_cube,
           (12::HUGEINT * (n_a + n_b) * (n_a + n_b - 1)
              * (r2_a - n_a * (n_a + 1) - n_a * n_b)::HUGEINT
              * (r2_a - n_a * (n_a + 1) - n_a * n_b)::HUGEINT
            > 16::HUGEINT * n_a * n_b
              * ((n_a + n_b + 1)::HUGEINT * (n_a + n_b) * (n_a + n_b - 1)
                 - tie_cube)) AS drift
    FROM agg
    """,
)
def q189_mannwhitney_drift(spark, sf_dir):
    """Exact Mann-Whitney U location-drift test between the md5 corpus
    halves on document length — the rank-based companion to the KS shape
    test (q155): KS reacts to any CDF gap, MW specifically to a location
    shift, the common real-world corruption (a scraper era that truncates
    or pads). EXACT integers throughout via the value-histogram rank
    construction (doubled average ranks are integers; the only window
    runs over the bounded distinct-value domain, never a global corpus
    sort) and the tie-corrected ~2-sigma verdict cross-multiplied in
    decimal(38,0)/HUGEINT — no float, no sqrt. Two lanes: 'observed'
    (same-distribution halves — expect no drift) and 'planted' (half b
    lengths scaled 21/20 — a 5% shift the test must flag), so BOTH
    verdict polarities are value-checked."""
    d0 = _t(spark, sf_dir, "documents").filter(F.col("n_chars").isNotNull()).select(
        F.when(
            F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 1)
            .isin(*"01234567"),
            F.lit("a"),
        ).otherwise(F.lit("b")).alias("half"),
        F.col("n_chars").cast("long").alias("v"),
    )
    planted = d0.withColumn(
        "v",
        F.when(
            F.col("half") == "b", F.expr("(v * 5) div 4")
        ).otherwise(F.col("v")),
    )
    return _mw_lane(d0, "observed").unionByName(_mw_lane(planted, "planted"))


def _spearman_lane(d, lane: str, num_t: int = 1, den_t: int = 10):
    """Tie-corrected Spearman rank correlation over an (x, y) frame ->
    one exact row. Doubled average ranks per DISTINCT value (the q189
    histogram construction — windows over the bounded value domains
    only), Pearson-on-ranks assembled from exact integer sums, and the
    |rho| > num_t/den_t verdict cross-multiplied in decimal(38,0):

        corr_pos <=> num > 0 AND den_t^2*num^2 > num_t^2*denx*deny
        (num = n*Sxy - Sx*Sy, denx = n*Sxx - Sx^2, deny = n*Syy - Sy^2)

    Past ~10^5 rows the squared terms outgrow decimal(38,0) — rescale
    doubled ranks to a bounded quantile grid first (same construction,
    coarser domain); exactness is unchanged."""

    def _ranked(col):
        h = d.groupBy(col).agg(F.count(F.lit(1)).alias("cnt"))
        w = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, -1)
        return h.withColumn(
            f"r_{col}",
            (2 * F.coalesce(F.sum("cnt").over(w), F.lit(0)) + F.col("cnt") + 1
             ).cast("long"),
        ).select(col, f"r_{col}")

    rr = d.join(_ranked("x"), "x").join(_ranked("y"), "y")
    agg = rr.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("r_x").cast("long").alias("sx"),
        F.sum("r_y").cast("long").alias("sy"),
        F.sum(F.col("r_x") * F.col("r_x")).cast("long").alias("sxx"),
        F.sum(F.col("r_y") * F.col("r_y")).cast("long").alias("syy"),
        F.sum(F.col("r_x") * F.col("r_y")).cast("long").alias("sxy"),
    )
    dec = "decimal(38,0)"
    numc = (F.col("n").cast(dec) * F.col("sxy").cast(dec)
            - F.col("sx").cast(dec) * F.col("sy").cast(dec))
    denx = (F.col("n").cast(dec) * F.col("sxx").cast(dec)
            - F.col("sx").cast(dec) * F.col("sx").cast(dec))
    deny = (F.col("n").cast(dec) * F.col("syy").cast(dec)
            - F.col("sy").cast(dec) * F.col("sy").cast(dec))
    return agg.select(
        F.lit(lane).alias("lane"), "n", "sx", "sy", "sxx", "syy", "sxy",
        (
            (numc > F.lit(0).cast(dec))
            & (F.lit(den_t * den_t).cast(dec) * numc * numc
               > F.lit(num_t * num_t).cast(dec) * denx * deny)
        ).alias("corr_pos"),
    )


@register(
    "q190_spearman_corr",
    """
    WITH pr AS (
      SELECT c.c_custkey, CAST(round(c.c_acctbal * 100) AS BIGINT) AS x,
             CAST(count(o.o_orderkey) AS BIGINT) AS y
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ),
    lanes AS (
      SELECT 'observed' AS lane, x, y FROM pr
      UNION ALL
      SELECT 'planted', x, x // 100000 FROM pr
    ),
    rx AS (
      SELECT lane, x,
             (2 * coalesce(sum(cnt) OVER (PARTITION BY lane ORDER BY x
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              + cnt + 1)::BIGINT AS r_x
      FROM (SELECT lane, x, count(*)::BIGINT AS cnt FROM lanes GROUP BY 1, 2)
    ),
    ry AS (
      SELECT lane, y,
             (2 * coalesce(sum(cnt) OVER (PARTITION BY lane ORDER BY y
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              + cnt + 1)::BIGINT AS r_y
      FROM (SELECT lane, y, count(*)::BIGINT AS cnt FROM lanes GROUP BY 1, 2)
    ),
    rr AS (SELECT l.lane, r_x, r_y FROM lanes l
           JOIN rx ON rx.lane = l.lane AND rx.x = l.x
           JOIN ry ON ry.lane = l.lane AND ry.y = l.y),
    agg AS (
      SELECT lane, count(*)::BIGINT AS n,
             CAST(sum(r_x) AS BIGINT) AS sx, CAST(sum(r_y) AS BIGINT) AS sy,
             CAST(sum(r_x * r_x) AS BIGINT) AS sxx,
             CAST(sum(r_y * r_y) AS BIGINT) AS syy,
             CAST(sum(r_x * r_y) AS BIGINT) AS sxy
      FROM rr GROUP BY lane
    )
    SELECT lane, n, sx, sy, sxx, syy, sxy,
           ((n::HUGEINT * sxy - sx::HUGEINT * sy) > 0
            AND 100::HUGEINT * (n::HUGEINT * sxy - sx::HUGEINT * sy)
                             * (n::HUGEINT * sxy - sx::HUGEINT * sy)
              > (n::HUGEINT * sxx - sx::HUGEINT * sx)
                * (n::HUGEINT * syy - sy::HUGEINT * sy)) AS corr_pos
    FROM agg
    """,
)
def q190_spearman_corr(spark, sf_dir):
    """Exact tie-corrected SPEARMAN rank correlation — the monotone-
    association audit beside chi2 independence (q139, categorical) and
    the drift tests (q155/q189, two-sample): does customer wealth
    (account balance, cents) predict order count? All-integer via the
    doubled-rank histogram construction (q189's shape — windows over the
    bounded distinct-value domains, never a corpus sort), Pearson-on-
    ranks assembled from six exact integer sums, |rho| > 1/10 verdict
    cross-multiplied in decimal(38,0)/HUGEINT. Two lanes pin BOTH
    polarities: 'observed' (measured rho ~ -0.02 -> no positive
    correlation) and 'planted' (y = coarse bucket of x — near-monotone,
    must flag). Rank-mass invariant sx = sy = n(n+1) on every lane."""
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    pr = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_acctbal")
        .agg(F.count("o_orderkey").cast("long").alias("y"))
        .select(
            F.round(F.col("c_acctbal") * 100).cast("long").alias("x"), "y"
        )
    )
    planted = pr.select("x", F.expr("x div 100000").alias("y"))
    return _spearman_lane(pr, "observed").unionByName(
        _spearman_lane(planted, "planted")
    )


@register(
    "q191_kaplan_meier_table",
    """
    WITH ranked AS (
      SELECT o_custkey, CAST(o_orderdate AS DATE) AS d, o_orderkey,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY CAST(o_orderdate AS DATE), o_orderkey) AS rk
      FROM orders
    ),
    horizon AS (SELECT max(d) AS h FROM ranked),
    subj AS (
      SELECT f.o_custkey,
             CAST(CASE WHEN s.d IS NOT NULL
                  THEN date_diff('day', f.d, s.d)
                  ELSE date_diff('day', f.d, h.h) END AS BIGINT) AS dur,
             (s.d IS NOT NULL) AS event
      FROM ranked f CROSS JOIN horizon h
      LEFT JOIN ranked s ON s.o_custkey = f.o_custkey AND s.rk = 2
      WHERE f.rk = 1
    ),
    hist AS (
      SELECT dur, count(*)::BIGINT AS cnt,
             CAST(sum(CASE WHEN event THEN 1 ELSE 0 END) AS BIGINT) AS n_events,
             CAST(sum(CASE WHEN event THEN 0 ELSE 1 END) AS BIGINT) AS n_censored
      FROM subj GROUP BY dur
    ),
    tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM hist)
    SELECT h.dur AS t,
           CAST(t.n - coalesce(sum(h.cnt) OVER (ORDER BY h.dur
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             AS n_risk,
           h.n_events, h.n_censored
    FROM hist h CROSS JOIN tot t
    QUALIFY h.n_events > 0
    """,
)
def q191_kaplan_meier_table(spark, sf_dir):
    """Kaplan-Meier RISK TABLE for customer repeat-purchase timing — the
    censoring-aware survival analysis the plain duration histogram (q81)
    and forward as-of join (q118) cannot express: subjects with only one
    order are CENSORED at the observation horizon (max order date), not
    dropped — dropping them biases retention estimates optimistic. Per
    distinct event time t (days from first to second order): n_risk =
    subjects still under observation at t, n_events, n_censored-at-t —
    ALL exact integers (the KM survival curve is a derived product over
    these rows; the risk table is the canonical exchange format). Dates
    compared at DATE granularity in both engines.

    Scale shape: one window per customer (first/second order), then the
    value-histogram construction — the at-risk window runs over the
    bounded distinct-duration domain, never the subject table."""
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", F.to_date("o_orderdate").alias("d"), "o_orderkey"
    )
    w = Window.partitionBy("o_custkey").orderBy(F.asc("d"), F.asc("o_orderkey"))
    ranked = o.withColumn("rk", F.row_number().over(w))
    first = ranked.filter(F.col("rk") == 1).select(
        "o_custkey", F.col("d").alias("d1")
    )
    second = ranked.filter(F.col("rk") == 2).select(
        "o_custkey", F.col("d").alias("d2")
    )
    horizon = ranked.agg(F.max("d").alias("h"))
    subj = (
        first.join(second, "o_custkey", "left")
        .crossJoin(F.broadcast(horizon))
        .select(
            F.when(
                F.col("d2").isNotNull(), F.datediff(F.col("d2"), F.col("d1"))
            ).otherwise(F.datediff(F.col("h"), F.col("d1")))
            .cast("long")
            .alias("dur"),
            F.col("d2").isNotNull().alias("event"),
        )
    )
    hist = subj.groupBy("dur").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum(F.col("event").cast("long")).cast("long").alias("n_events"),
        F.sum((~F.col("event")).cast("long")).cast("long").alias("n_censored"),
    )
    tot = hist.agg(F.sum("cnt").cast("long").alias("n"))
    wv = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, -1)
    risk = (
        hist.crossJoin(F.broadcast(tot))
        .withColumn(
            "n_risk",
            (F.col("n") - F.coalesce(F.sum("cnt").over(wv), F.lit(0))).cast("long"),
        )
        .filter(F.col("n_events") > 0)
    )
    return risk.select(
        F.col("dur").alias("t"), "n_risk", "n_events", "n_censored"
    )


@register(
    "q192_data_contract",
    """
    WITH corrupt AS (
      SELECT * FROM orders
      UNION ALL
      SELECT o_orderkey, NULL, o_orderstatus, -o_totalprice, o_orderdate,
             'X-BOGUS'
      FROM orders WHERE o_orderkey % 1000 = 1
      UNION ALL
      SELECT o_orderkey, 999999999, o_orderstatus, o_totalprice,
             o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 2000 = 3
    ),
    nn AS (SELECT count(*) FILTER (o_custkey IS NULL) AS v FROM corrupt),
    rng AS (SELECT count(*) FILTER (o_totalprice IS NOT NULL
                                    AND o_totalprice <= 0) AS v FROM corrupt),
    dom AS (SELECT count(*) FILTER (o_orderpriority IS NOT NULL
              AND o_orderpriority NOT IN ('1-URGENT','2-HIGH','3-MEDIUM',
                                          '4-NOT SPECIFIED','5-LOW')) AS v
            FROM corrupt),
    uq AS (SELECT CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS v
           FROM corrupt),
    fk AS (SELECT count(*) AS v FROM corrupt c
           LEFT JOIN customer k ON k.c_custkey = c.o_custkey
           WHERE c.o_custkey IS NOT NULL AND k.c_custkey IS NULL)
    SELECT * FROM (
      SELECT 'not_null'  AS kind, 'o_custkey'       AS col, CAST(v AS BIGINT) AS n_violations, v = 0 AS pass FROM nn
      UNION ALL
      SELECT 'range_gt0', 'o_totalprice',    CAST(v AS BIGINT), v = 0 FROM rng
      UNION ALL
      SELECT 'in_set',    'o_orderpriority', CAST(v AS BIGINT), v = 0 FROM dom
      UNION ALL
      SELECT 'unique',    'o_orderkey',      CAST(v AS BIGINT), v = 0 FROM uq
      UNION ALL
      SELECT 'fk',        'o_custkey',       CAST(v AS BIGINT), v = 0 FROM fk
    )
    """,
)
def q192_data_contract(spark, sf_dir):
    """Declarative DATA-CONTRACT validation — the ingestion gate (dbt
    tests / Great Expectations class) run as ONE pass over the table:
    five constraint kinds (not-null, range, domain set, key uniqueness,
    referential FK) each emit an exact violation count and a pass flag.
    Planted corruptions exercise every kind: every 1000th order yields a
    twin with NULL custkey + negated price + bogus priority; every
    2000th a twin with a dangling FK (which also collides the unique
    key) — so no constraint's pass lane is vacuously green.

    Scale shape: the four row-local constraints fold into ONE aggregate
    pass (no shuffle beyond the partial-agg combine); uniqueness is a
    countDistinct (map-side partial dedup); the FK probe is one
    equi-join against the dimension — broadcast when bounded, shuffle
    otherwise. Violation COUNTS (not violating-row dumps) keep the
    result bounded at any corpus size; the row-level drill-down is a
    filter the consumer runs on the flagged constraint only."""
    o = _t(spark, sf_dir, "orders")
    bad1 = o.filter(F.col("o_orderkey") % 1000 == 1).select(
        "o_orderkey", F.lit(None).cast("long").alias("o_custkey"),
        "o_orderstatus", (-F.col("o_totalprice")).alias("o_totalprice"),
        "o_orderdate", F.lit("X-BOGUS").alias("o_orderpriority"),
    )
    bad2 = o.filter(F.col("o_orderkey") % 2000 == 3).select(
        "o_orderkey", F.lit(999999999).cast("long").alias("o_custkey"),
        "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority",
    )
    corrupt = o.unionByName(bad1).unionByName(bad2)
    prio = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    local = corrupt.agg(
        F.sum(F.col("o_custkey").isNull().cast("long")).alias("nn"),
        F.sum(
            (F.col("o_totalprice").isNotNull() & (F.col("o_totalprice") <= 0))
            .cast("long")
        ).alias("rng"),
        F.sum(
            (F.col("o_orderpriority").isNotNull()
             & ~F.col("o_orderpriority").isin(prio)).cast("long")
        ).alias("dom"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("uq"),
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    fk = (
        corrupt.filter(F.col("o_custkey").isNotNull())
        .join(F.broadcast(cust), corrupt.o_custkey == cust.c_custkey, "left")
        .agg(F.sum(F.col("c_custkey").isNull().cast("long")).alias("fk"))
    )
    wide = local.crossJoin(fk)  # 1 row x 1 row — no data ever collects
    return wide.select(
        F.expr(
            "stack(5,"
            " 'not_null',  'o_custkey',       nn,"
            " 'range_gt0', 'o_totalprice',    rng,"
            " 'in_set',    'o_orderpriority', dom,"
            " 'unique',    'o_orderkey',      uq,"
            " 'fk',        'o_custkey',       fk"
            ") as (kind, col, n_violations)"
        )
    ).select(
        "kind", "col",
        F.col("n_violations").cast("long").alias("n_violations"),
        (F.col("n_violations") == 0).alias("pass"),
    )


@register(
    "q193_source_dup_matrix",
    rf"""
    WITH {_CORPUS_SQL},
    {_MINHASH_SQL_BODY},
    sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
    inter AS (
      SELECT c.a AS doc_a, c.b AS doc_b, count(*) AS inter
      FROM cand c
      JOIN sh sa ON sa.id = c.a
      JOIN sh sb ON sb.id = c.b AND sb.s = sa.s
      GROUP BY c.a, c.b
    ),
    verified AS (
      SELECT i.doc_a, i.doc_b
      FROM inter i
      JOIN sizes za ON za.id = i.doc_a
      JOIN sizes zb ON zb.id = i.doc_b
      WHERE i.inter::DOUBLE / (za.sz + zb.sz - i.inter)::DOUBLE >= 0.6
    ),
    src AS (SELECT doc_id, source FROM documents)
    SELECT least(s1.source, s2.source) AS source_a,
           greatest(s1.source, s2.source) AS source_b,
           count(*)::BIGINT AS n_pairs
    FROM verified v
    JOIN src s1 ON s1.doc_id = v.doc_a % 100000
    JOIN src s2 ON s2.doc_id = v.doc_b % 100000
    GROUP BY 1, 2
    """,
)
def q193_source_dup_matrix(spark, sf_dir):
    """Cross-SOURCE duplication matrix — the dashboard that turns the
    pair-level near-dup lane (q22's verified Jaccard pairs over the
    salted corpus) into a per-source-pair policy signal: which ingest
    sources duplicate which (mirrors, scrapes of scrapes, license
    laundering) and where a source-level dedup rule would pay. Pairs map
    back to their base document's source (the salt offsets are id
    arithmetic), the pair key is order-normalized (least/greatest), and
    the count is exact.

    Composes two verified lanes rather than re-deriving them: the pair
    set IS q22's (same operators, same cap and threshold), the source
    lookup is one broadcast-sized dimension join, the rollup map-side
    combines. At 10^12 docs the matrix stays |sources|^2 rows."""
    verified = QUERIES["q22_ngram_jaccard"](spark, sf_dir).select("doc_a", "doc_b")
    src = _t(spark, sf_dir, "documents").select("doc_id", "source")
    s1 = src.select(F.col("doc_id").alias("k1"), F.col("source").alias("src1"))
    s2 = src.select(F.col("doc_id").alias("k2"), F.col("source").alias("src2"))
    return (
        verified.withColumn("k1", F.col("doc_a") % 100000)
        .withColumn("k2", F.col("doc_b") % 100000)
        .join(F.broadcast(s1), "k1")
        .join(F.broadcast(s2), "k2")
        .select(
            F.least("src1", "src2").alias("source_a"),
            F.greatest("src1", "src2").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


@register(
    "q194_frequent_triples",
    """
    WITH pr AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    tri AS (
      SELECT a.p AS part_a, b.p AS part_b, c.p AS part_c,
             count(*)::BIGINT AS support
      FROM pr a
      JOIN pr b ON a.o = b.o AND a.p < b.p
      JOIN pr c ON a.o = c.o AND b.p < c.p
      GROUP BY 1, 2, 3
    )
    SELECT part_a, part_b, part_c, support FROM tri WHERE support >= 2
    """,
)
def q194_frequent_triples(spark, sf_dir):
    """Frequent 3-itemset mining (min support 2) over order baskets with
    the APRIORI candidate prune — the level-3 extension of the pair
    mining family (q116/q140): a triple can be frequent only if all
    three sub-pairs are, so the Spark plan first computes the frequent
    pairs, semi-joins baskets down to items that participate in one, and
    only then generates triples — at 10^12 baskets the prune is the
    difference between C(basket,3) blowup on the full catalog and on the
    tiny frequent-pair support set. The ORACLE is deliberately the
    brute-force enumeration: Apriori is a pure optimization, so pruned
    and unpruned answers must be identical — which makes the value check
    a proof the prune loses nothing (also pinned in pytest).

    Per-basket fan-out stays bounded by basket size (TPC-H <= 7); every
    join is an equi-join on the order key or an itemset semi-join."""
    # distinct basket items materialized ONCE, hash-partitioned by the
    # basket key: the pair and triple builds are o-keyed self-joins, so
    # co-partitioning removes their exchanges outright (guide §2.4), and
    # without the checkpoint the 6M-row scan+distinct re-executed once per
    # self-join side (measured at replica scale).
    n_par = min(spark.sparkContext.defaultParallelism, 64)
    li = (
        _t(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
        .repartition(n_par, "o")
        .localCheckpoint(eager=True)
    )
    a = li.select("o", F.col("p").alias("pa"))
    b = li.select("o", F.col("p").alias("pb"))
    pairs = (
        a.join(b, "o")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # p2 feeds four consumers (freq-item prune + three Apriori semi-joins)
    p2 = pairs.filter(F.col("n") >= 2).select("pa", "pb").localCheckpoint(eager=True)
    freq_items = (
        p2.select(F.col("pa").alias("p"))
        .unionByName(p2.select(F.col("pb").alias("p")))
        .distinct()
    )
    pruned = li.join(freq_items, "p", "left_semi").localCheckpoint(eager=True)
    pa = pruned.select("o", F.col("p").alias("part_a"))
    pb = pruned.select("o", F.col("p").alias("part_b"))
    pc = pruned.select("o", F.col("p").alias("part_c"))
    tri = (
        pa.join(pb, "o")
        .filter(F.col("part_a") < F.col("part_b"))
        .join(pc, "o")
        .filter(F.col("part_b") < F.col("part_c"))
        # Apriori: every sub-pair must be frequent (semi-joins against p2)
        .join(
            p2.withColumnsRenamed({"pa": "part_a", "pb": "part_b"}),
            ["part_a", "part_b"], "left_semi",
        )
        .join(
            p2.withColumnsRenamed({"pa": "part_a", "pb": "part_c"}),
            ["part_a", "part_c"], "left_semi",
        )
        .join(
            p2.withColumnsRenamed({"pa": "part_b", "pb": "part_c"}),
            ["part_b", "part_c"], "left_semi",
        )
        .groupBy("part_a", "part_b", "part_c")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .filter(F.col("support") >= 2)
    )
    return tri


_ISOTONIC_FIXTURE = f"{_REPO}/fixtures/oracle_isotonic_n{_CLIPS_N}.parquet"


@register(
    "q195_isotonic_calibration",
    f"""
    SELECT block_id, n, n_pos, rate_milli
    FROM read_parquet('{_ISOTONIC_FIXTURE}')
    """,
)
def q195_isotonic_calibration(spark, sf_dir):
    """Isotonic (antitonic) CALIBRATION of the pipeline's keep decision
    against perplexity — the unique L2-optimal monotone step function of
    keep-rate vs ppl, fitted with partition-parallel Pool-Adjacent-
    Violators (the Spark MLlib construction) in EXACT integer arithmetic:
    block means are (sum, count) rationals, every violation test is
    cross-multiplied, and the output is canonicalized to maximal level
    sets so block boundaries are a pure function of the input. On the
    pinned corpus this yields the textbook staircase 1.000 -> 0.995 ->
    ... -> 0.692 -> 0.555 -> 0.500 -> 0 over 9 blocks — the curve a
    threshold gate consults to trade recall for precision.

    Scale shape: rows range-partition by score, each partition pools its
    slice with a LOCAL stack PAVA inside one Arrow batch, and only the
    pooled blocks travel to the driver for the boundary merge — bounded
    metadata in practice (9 final blocks here). The committed oracle is
    an INDEPENDENTLY-CODED naive O(n^2) PAVA (scripts/
    make_isotonic_fixture.py): both must land on identical blocks
    because the optimum is unique (operators/calibration.py)."""
    from .operators.calibration import isotonic_calibration

    labels = _clips_labels(spark, sf_dir)
    pairs = labels.filter(
        F.col("ppl").isNotNull() & F.col("keep").isNotNull()
    ).select(
        F.col("ppl").alias("x"),
        F.col("keep").cast("long").alias("y"),
        F.col("clip_id").alias("id"),
    )
    return isotonic_calibration(pairs, n_parts=8)


@register(
    "q196_survival_by_cohort",
    """
    WITH ranked AS (
      SELECT o_custkey, CAST(o_orderdate AS DATE) AS d, o_orderkey,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY CAST(o_orderdate AS DATE), o_orderkey) AS rk
      FROM orders
    ),
    horizon AS (SELECT max(d) AS h FROM ranked),
    subj AS (
      SELECT CASE WHEN substr(md5(CAST(f.o_custkey AS VARCHAR)), 1, 1) IN
               ('0','1','2','3','4','5','6','7') THEN 'a' ELSE 'b' END AS cohort,
             CAST(CASE WHEN s.d IS NOT NULL
                  THEN date_diff('day', f.d, s.d)
                  ELSE date_diff('day', f.d, h.h) END AS BIGINT) AS dur,
             (s.d IS NOT NULL) AS event
      FROM ranked f CROSS JOIN horizon h
      LEFT JOIN ranked s ON s.o_custkey = f.o_custkey AND s.rk = 2
      WHERE f.rk = 1
    ),
    hist AS (
      SELECT cohort, dur, count(*)::BIGINT AS cnt,
             CAST(sum(CASE WHEN event THEN 1 ELSE 0 END) AS BIGINT) AS n_events,
             CAST(sum(CASE WHEN event THEN 0 ELSE 1 END) AS BIGINT) AS n_censored
      FROM subj GROUP BY cohort, dur
    ),
    tot AS (SELECT cohort, CAST(sum(cnt) AS BIGINT) AS n FROM hist GROUP BY cohort)
    SELECT h.cohort, h.dur AS t,
           CAST(t.n - coalesce(sum(h.cnt) OVER (PARTITION BY h.cohort
             ORDER BY h.dur ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             0) AS BIGINT) AS n_risk,
           h.n_events, h.n_censored
    FROM hist h JOIN tot t ON t.cohort = h.cohort
    QUALIFY h.n_events > 0
    """,
)
def q196_survival_by_cohort(spark, sf_dir):
    """TWO-COHORT survival risk tables — the log-rank exchange format: the
    q191 censoring-aware construction stratified by a deterministic md5
    customer cohort, one risk table per group aligned on shared event
    times. This is the per-group (t, n_risk, n_events) input every
    two-sample survival comparison (log-rank, Gehan-Wilcoxon) consumes —
    emitted as exact integers so the downstream statistic can be built in
    any engine; the cohort split is the drift family's md5 construction
    (defined for arbitrary keys, identical bytes both engines). Windows
    partition by cohort over the bounded distinct-duration domain."""
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", F.to_date("o_orderdate").alias("d"), "o_orderkey"
    )
    w = Window.partitionBy("o_custkey").orderBy(F.asc("d"), F.asc("o_orderkey"))
    ranked = o.withColumn("rk", F.row_number().over(w))
    first = ranked.filter(F.col("rk") == 1).select(
        "o_custkey", F.col("d").alias("d1")
    )
    second = ranked.filter(F.col("rk") == 2).select(
        "o_custkey", F.col("d").alias("d2")
    )
    horizon = ranked.agg(F.max("d").alias("h"))
    subj = (
        first.join(second, "o_custkey", "left")
        .crossJoin(F.broadcast(horizon))
        .select(
            F.when(
                F.substring(
                    F.md5(F.col("o_custkey").cast("string").cast("binary")), 1, 1
                ).isin(*"01234567"),
                F.lit("a"),
            ).otherwise(F.lit("b")).alias("cohort"),
            F.when(
                F.col("d2").isNotNull(), F.datediff(F.col("d2"), F.col("d1"))
            ).otherwise(F.datediff(F.col("h"), F.col("d1")))
            .cast("long")
            .alias("dur"),
            F.col("d2").isNotNull().alias("event"),
        )
    )
    hist = subj.groupBy("cohort", "dur").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum(F.col("event").cast("long")).cast("long").alias("n_events"),
        F.sum((~F.col("event")).cast("long")).cast("long").alias("n_censored"),
    )
    tot = hist.groupBy("cohort").agg(F.sum("cnt").cast("long").alias("n"))
    wv = Window.partitionBy("cohort").orderBy("dur").rowsBetween(
        Window.unboundedPreceding, -1
    )
    return (
        hist.join(F.broadcast(tot), "cohort")
        .withColumn(
            "n_risk",
            (F.col("n") - F.coalesce(F.sum("cnt").over(wv), F.lit(0))).cast("long"),
        )
        .filter(F.col("n_events") > 0)
        .select("cohort", F.col("dur").alias("t"), "n_risk", "n_events", "n_censored")
    )
