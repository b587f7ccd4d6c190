"""Similarity search over an embedding column (array<float>).

  * cosine_topk — brute-force exact top-k for a bounded query set: the query
    side is broadcast, the corpus is scanned once (the right baseline; at
    10^12 rows you bound the query set, never the corpus side).
  * lsh_buckets — random-hyperplane LSH signatures: the scale path. Bucket
    by sign pattern, then run brute-force only within buckets.
  * embedding_dup_pairs — near-duplicate vectors (cosine ~ 1); demo uses a
    bounded self-join, the docstring marks the LSH-prefilter production path.

Dot products are computed with F.aggregate over zip_with in DOUBLE — a
sequential left-to-right fold, reproducible in the DuckDB oracle
(list_dot_product over DOUBLE[]); all cosines are rounded engine-side.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

LSH_N_PLANES = 8
LSH_SEED = 2024


def dot_col(a: Column, b: Column) -> Column:
    """Sequential double-precision dot product of two float arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


@F.pandas_udf(T.DoubleType())
def seq_dot_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow-batched dot product with EXACT sequential-fold semantics.

    np.cumsum accumulates left-to-right one element at a time, so the result
    is bit-identical to the Catalyst fold in dot_col (and to DuckDB's
    list_dot_product) — but ~1000x faster than the interpreted
    higher-order-function eval on large pair joins. float32 inputs are cast
    to float64 per element before multiplying, matching x.cast("double") *
    y.cast("double").
    """
    va = a.to_numpy()
    vb = b.to_numpy()
    n = len(va)
    if n == 0:
        return pd.Series(np.empty(0, dtype=np.float64))
    try:
        # fast path: rectangular batch -> one row-wise sequential cumsum
        ma = np.stack([np.asarray(v, dtype=np.float64) for v in va])
        mb = np.stack([np.asarray(v, dtype=np.float64) for v in vb])
        if ma.ndim == 2 and mb.ndim == 2:
            if ma.shape[1] == 0:  # all-empty arrays: fold over [] = 0.0
                return pd.Series(np.zeros(n, dtype=np.float64))
            return pd.Series(np.cumsum(ma * mb, axis=1)[:, -1])
    except (ValueError, TypeError):
        pass
    # ragged lengths / null arrays / null elements: per-row fallback.
    # Null array or null element -> NaN (pandas->Arrow maps NaN to null,
    # matching the Catalyst fold's null propagation).
    out = np.empty(n, dtype=np.float64)
    for i in range(n):
        if va[i] is None or vb[i] is None:
            out[i] = np.nan
            continue
        try:
            p = np.asarray(va[i], dtype=np.float64) * np.asarray(vb[i], dtype=np.float64)
        except (ValueError, TypeError):
            out[i] = np.nan
            continue
        out[i] = np.cumsum(p)[-1] if p.size else 0.0
    return pd.Series(out)


def _seq_dots_np(M: np.ndarray, v: np.ndarray) -> np.ndarray:
    """Row-wise dot of M against v with the EXACT sequential-fold order of
    dot_col / seq_dot_udf / DuckDB list_dot_product (np.cumsum accumulates
    left-to-right one element at a time)."""
    return np.cumsum(M * v, axis=1)[:, -1]


def _panel_scores(
    emb: DataFrame, panel: list, match_col: str | None = None
) -> DataFrame:
    """(query_id, neighbor_id, _cos_raw) for every (panel query, corpus
    row) pair with query_id != neighbor_id — ONE Arrow pass over the
    corpus against the broadcast-in-closure query panel, instead of a pair
    join that ships both 64-float arrays per scored pair. _cos_raw is the
    UNROUNDED IEEE double (sequential-fold dots, correctly-rounded divide
    and sqrt — bit-identical to the Column expression it replaces); the
    caller applies F.round in the JVM so HALF_UP rounding semantics stay
    engine-side. With match_col set, panel entries are (id, emb, val) and
    a corpus row is scored against a query only when its match_col equals
    the query's val (the IVF nprobe=1 cell restriction). A null embedding
    or a null match_col value scores nothing, on either side (the
    equi-join this replaced dropped null keys)."""
    panel = [r for r in panel if r[1] is not None and (not match_col or r[2] is not None)]
    qids = np.asarray([r[0] for r in panel], dtype=np.int64)
    Q = (
        np.asarray([np.asarray(r[1], dtype=np.float64) for r in panel])
        if panel
        else np.empty((0, 0))
    )
    q2 = np.cumsum(Q * Q, axis=1)[:, -1] if len(panel) else np.empty(0)
    qmatch = [r[2] for r in panel] if (panel and match_col) else None
    schema = "query_id bigint, neighbor_id bigint, _cos_raw double"

    def _score(batches):
        for pdf in batches:
            ok = pdf["embedding"].notna()
            if match_col:
                ok &= pdf[match_col].notna()
            pdf = pdf[ok]
            if not len(pdf) or not len(qids):
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            M = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            c2 = np.cumsum(M * M, axis=1)[:, -1]
            mvals = pdf[match_col].to_numpy() if match_col else None
            outs = []
            for qi in range(len(qids)):
                keep = ids != qids[qi]
                if mvals is not None:
                    keep &= mvals == qmatch[qi]
                if not keep.any():
                    continue
                dots = _seq_dots_np(M[keep], Q[qi])
                cos = dots / np.sqrt(q2[qi] * c2[keep])
                outs.append(
                    pd.DataFrame(
                        {
                            "query_id": np.full(int(keep.sum()), qids[qi]),
                            "neighbor_id": ids[keep],
                            "_cos_raw": cos,
                        }
                    )
                )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    sel_cols = ["vec_id", "embedding"] + ([match_col] if match_col else [])
    return emb.select(*sel_cols).mapInPandas(_score, schema=schema)


def cosine_topk(emb: DataFrame, n_queries: int = 5, k: int = 3) -> DataFrame:
    """Exact top-k cosine neighbors for vec_id < n_queries.

    The bounded query panel (n_queries rows — bounded metadata, like the
    k-means init collect) is carried INTO one Arrow pass over the corpus
    (_panel_scores), so only (query_id, neighbor_id, cos) rows ever cross
    the boundary — not both embedding arrays per scored pair. Ranking uses
    the ROUNDED cosine with vec_id tie-break so the result set is fully
    deterministic and oracle-reproducible.
    """
    panel = [
        (r["vec_id"], r["embedding"])
        for r in emb.filter(F.col("vec_id") < n_queries)
        .select("vec_id", "embedding")
        .collect()
    ]
    scored = _panel_scores(emb, panel).withColumn("cos", F.round("_cos_raw", 4))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cos")
    )


def hyperplanes(dims: int, n_planes: int = LSH_N_PLANES, seed: int = LSH_SEED) -> list[list[float]]:
    """Frozen seeded hyperplanes, rounded so they embed as SQL literals."""
    rng = np.random.default_rng(seed)
    return [[round(float(x), 4) for x in row] for row in rng.normal(size=(n_planes, dims))]


def lsh_bucket_col(emb: Column, planes: list[list[float]]) -> Column:
    """Sign-pattern bucket id ('10110...') from the frozen hyperplanes.

    Catalyst higher-order-function form — interpreted (no codegen for HOF
    lambdas), kept as the independent verifier for the vectorized
    lsh_sig_col production path (tests/test_webscale.py)."""
    bits = [
        F.when(dot_col(emb, F.array(*[F.lit(v) for v in p])) > 0, F.lit("1")).otherwise(F.lit("0"))
        for p in planes
    ]
    return F.concat(*bits)


def make_lsh_sig_udf(planes: list[list[float]]):
    """Arrow-batched hyperplane signature: per batch, ONE numpy pass per
    plane (row-wise sequential cumsum of the products, exactly the fold
    order of dot_col / DuckDB list_dot_product), sign bits packed into the
    same '10110...' string lsh_bucket_col emits. Replaces p x d interpreted
    HOF evaluations per row with vectorized kernels — identical output
    (tests/test_webscale.py::test_lsh_sig_udf_matches_expression), including
    NaN components (NaN dot bits to '1' on every path — Spark and DuckDB
    order NaN above any numeric). Known divergence: a NULL ELEMENT inside a
    vector ('0' on the Column path via null propagation) is indistinguishable
    from NaN after Arrow->numpy conversion and bits to '1' here; null
    elements are schema corruption in an embedding column, NaN is the
    realistic payload, so the UDF sides with NaN semantics."""
    planes_arr = np.asarray(planes, dtype=np.float64)  # (p, d)
    n_planes = planes_arr.shape[0]

    def _sig_of_vec(v) -> str:
        if v is None:
            return "0" * n_planes
        x = np.asarray(v, dtype=np.float64)
        if x.size != planes_arr.shape[1]:
            # wrong-dim row: the zip_with expression pads with nulls -> null
            # fold -> all-'0' bits; mirror that instead of crashing the task
            return "0" * n_planes
        dots = np.cumsum(x * planes_arr, axis=1)[:, -1]  # (p,) sequential folds
        return "".join("1" if (d > 0 or np.isnan(d)) else "0" for d in dots)

    @F.pandas_udf(T.StringType())
    def _sig(emb: pd.Series) -> pd.Series:
        va = emb.to_numpy()
        n = len(va)
        if n == 0:
            return pd.Series(np.empty(0, dtype=object))
        try:
            ma = np.stack([np.asarray(v, dtype=np.float64) for v in va])  # (n, d)
        except (ValueError, TypeError):
            # ragged / null rows: per-row fallback, same fold semantics
            return pd.Series([_sig_of_vec(v) for v in va])
        if ma.ndim != 2 or ma.shape[1] != planes_arr.shape[1]:
            return pd.Series([_sig_of_vec(v) for v in va])
        sig = np.empty((n, n_planes), dtype=np.uint8)
        for j in range(n_planes):
            # row-wise sequential fold == dot_col's left-to-right aggregate.
            # NaN dots bit to '1': Spark AND DuckDB order NaN greater than
            # any numeric, so their `dot > 0` is true — numpy's IEEE
            # comparison alone would say false and silently diverge
            dots = np.cumsum(ma * planes_arr[j], axis=1)[:, -1]
            sig[:, j] = (dots > 0) | np.isnan(dots)
        packed = (sig + ord("0")).astype(np.uint8).tobytes().decode("ascii")
        return pd.Series([packed[i * n_planes : (i + 1) * n_planes] for i in range(n)])

    return _sig


def lsh_sig_col(emb: Column, planes: list[list[float]]) -> Column:
    """Vectorized drop-in for lsh_bucket_col (same output, ~50x faster)."""
    return make_lsh_sig_udf(planes)(emb)


def lsh_bucket_counts(emb: DataFrame, dims: int = 64) -> DataFrame:
    """ANN scale path: histogram of LSH buckets (candidate sets)."""
    planes = hyperplanes(dims)
    return (
        emb.withColumn("bucket", lsh_sig_col(F.col("embedding"), planes))
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
    )


def embedding_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.999,
    dims: int = 64,
    n_bands: int = 4,
    band_bits: int = 16,
) -> DataFrame:
    """Embedding near-duplicate pairs (cosine >= threshold) — the SCALE path.

    Multi-band random-hyperplane LSH prefilter: one (n_bands*band_bits)-bit
    sign signature per vector, candidate pairs = ids agreeing on ALL bits of
    at least one band (equi-joins on band substrings, never a cross join),
    exact cosine verified on candidates only. Identical vectors agree on
    every band, so exact-dup recall is 1.0 by construction; for
    threshold=0.999 (per-plane agree prob 1 - acos(0.999)/pi ~ 0.986) the
    4x16-bit default gives pair recall ~0.998 — tune n_bands/band_bits up
    for tighter thresholds or bigger corpora. At 10^12 rows every join here
    is a shuffle-hash/broadcast equi-join on short keys; nothing is O(N^2).

    embedding_dup_pairs_bruteforce is the exact verifier used by tests.
    """
    planes = hyperplanes(dims, n_planes=n_bands * band_bits)
    base = emb.select(
        "vec_id",
        "embedding",
        seq_dot_udf(F.col("embedding"), F.col("embedding")).alias("n2"),
        lsh_sig_col(F.col("embedding"), planes).alias("sig"),
    )
    from .pairs import capped_band_pairs

    bands = base.select(
        "vec_id",
        *[
            F.substring("sig", 1 + b * band_bits, band_bits).alias(f"bk{b}")
            for b in range(n_bands)
        ],
    )
    # band joins hot-key-capped (operators/pairs.py): a degenerate embedding
    # cluster sharing a band emits O(m) star candidates, never O(m^2)
    cand = capped_band_pairs(bands, [f"bk{b}" for b in range(n_bands)], "vec_id").select(
        F.col("a").alias("vec_a"), F.col("b").alias("vec_b")
    )
    a = base.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"), F.col("n2").alias("a2"))
    bb = base.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"), F.col("n2").alias("b2"))
    return (
        cand.join(a, "vec_a")
        .join(bb, "vec_b")
        .withColumn(
            "cos",
            F.round(seq_dot_udf(F.col("ea"), F.col("eb")) / F.sqrt(F.col("a2") * F.col("b2")), 4),
        )
        .filter(F.col("cos") >= threshold)
        .select("vec_a", "vec_b", "cos")
    )


def embedding_dup_pairs_bruteforce(emb: DataFrame, threshold: float = 0.999) -> DataFrame:
    """Exact all-pairs verifier (O(N^2) nested-loop join): test oracle for
    embedding_dup_pairs recall — never the production path."""
    a = emb.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
        seq_dot_udf(F.col("embedding"), F.col("embedding")).alias("a2"),
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        seq_dot_udf(F.col("embedding"), F.col("embedding")).alias("b2"),
    )
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .withColumn(
            "cos",
            F.round(seq_dot_udf(F.col("ea"), F.col("eb")) / F.sqrt(F.col("a2") * F.col("b2")), 4),
        )
        .filter(F.col("cos") >= threshold)
        .select("vec_a", "vec_b", "cos")
    )


IVF_N_CELLS = 8
IVF_SEED = 4096


def ivf_centroids(dims: int, n_cells: int = IVF_N_CELLS, seed: int = IVF_SEED) -> list[list[float]]:
    """Frozen seeded coarse centroids, rounded so they embed as SQL literals."""
    rng = np.random.default_rng(seed)
    return [[round(float(x), 4) for x in row] for row in rng.normal(size=(n_cells, dims))]


def make_ivf_cell_udf(centroids: list[list[float]]):
    """Arrow-batched IVF coarse assignment: cell = argmax over centroids of
    the dot product (first-max tie-break), dots computed with the same
    row-wise sequential fold as dot_col / DuckDB list_dot_product, so the
    assignment is reproducible in the SQL oracle exactly."""
    cents = np.asarray(centroids, dtype=np.float64)  # (C, d)
    n_cells = cents.shape[0]

    def _cell_of_vec(v) -> int:
        if v is None:
            return 0
        x = np.asarray(v, dtype=np.float64)
        if x.size != cents.shape[1]:
            return 0
        dots = np.cumsum(x * cents, axis=1)[:, -1]
        return int(np.argmax(dots))

    @F.pandas_udf(T.IntegerType())
    def _cell(emb: pd.Series) -> pd.Series:
        va = emb.to_numpy()
        n = len(va)
        if n == 0:
            return pd.Series(np.empty(0, dtype=np.int32))
        try:
            ma = np.stack([np.asarray(v, dtype=np.float64) for v in va])
        except (ValueError, TypeError):
            return pd.Series([_cell_of_vec(v) for v in va], dtype="int32")
        if ma.ndim != 2 or ma.shape[1] != cents.shape[1]:
            return pd.Series([_cell_of_vec(v) for v in va], dtype="int32")
        dots = np.empty((n, n_cells), dtype=np.float64)
        for c in range(n_cells):
            dots[:, c] = np.cumsum(ma * cents[c], axis=1)[:, -1]
        return pd.Series(np.argmax(dots, axis=1).astype(np.int32))

    return _cell


def ivf_ann_search(
    emb: DataFrame, n_queries: int = 20, k: int = 3, dims: int = 64, n_cells: int = IVF_N_CELLS
) -> DataFrame:
    """IVF-style ANN: coarse-quantize every vector to its nearest (max-dot)
    frozen centroid cell, then search top-k cosine WITHIN the query's cell
    (nprobe=1) — the inverted-file counterpart of the hyperplane-bucket path
    (lsh_ann_search). At 10^12 rows the cell equi-join replaces the O(Q x N)
    scan with O(sum of per-cell Q_c x N_c); the centroid count grows ~sqrt(N)
    and nprobe trades recall for cost."""
    cents = ivf_centroids(dims, n_cells)
    cell_udf = make_ivf_cell_udf(cents)
    base = emb.select(
        "vec_id",
        "embedding",
        cell_udf(F.col("embedding")).alias("cell"),
    )
    panel = [
        (r["vec_id"], r["embedding"], r["cell"])
        for r in base.filter(F.col("vec_id") < n_queries).collect()
    ]
    scored = _panel_scores(base, panel, match_col="cell").withColumn(
        "cos", F.round("_cos_raw", 4)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cos")
    )


def lsh_ann_search(emb: DataFrame, n_queries: int = 20, k: int = 3, dims: int = 64) -> DataFrame:
    """LSH-bucketed ANN: top-k cosine neighbors searched WITHIN the query's
    hyperplane bucket only — the scale path that replaces the brute-force
    corpus scan of cosine_topk.

    The bucket equi-join shuffles both sides by bucket id (co-located,
    skew handled by AQE); at 10^12 rows this turns an O(Q x N) scan into
    O(sum of per-bucket Q_b x N_b).
    """
    planes = hyperplanes(dims)
    base = emb.select(
        "vec_id",
        "embedding",
        lsh_sig_col(F.col("embedding"), planes).alias("bucket"),
    )
    panel = [
        (r["vec_id"], r["embedding"], r["bucket"])
        for r in base.filter(F.col("vec_id") < n_queries).collect()
    ]
    scored = _panel_scores(base, panel, match_col="bucket").withColumn(
        "cos", F.round("_cos_raw", 4)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cos")
    )


def embedding_hygiene(
    embs: DataFrame, expected_dim: int = 64, plant_every: int = 0
) -> DataFrame:
    """Per-vector EMBEDDING HYGIENE audit: dimension mismatches, non-finite
    entries (NaN/Inf from overflowed encoders or corrupt parquet), and
    all-zero vectors (failed inference emitting the zero initialization) —
    the ingest-validation lane every ANN/semdedup consumer in this module
    assumes has already run; a single NaN silently poisons every cosine it
    touches and an all-zero vector matches nothing yet survives top-k.

    Entirely JVM-native Column algebra (size + higher-order filter), all
    EMITTED metrics integers/booleans — no float crosses the oracle
    boundary, so the DuckDB oracle re-derives the WHOLE computation,
    plants included, in pure SQL over the shared `embeddings` view (no
    fixture, no UDF). Narrow shuffle-free map at any scale.

    plant_every > 0 adds three deterministic ground-truth variants per
    plant_every-th vector, each an SQL-expressible corruption:
    nf_ (element 0 replaced by NaN), sh_ (truncated to expected_dim*3/4),
    zr_ (all entries zeroed).

    Output (vec_key, dim, n_nonfinite, n_zero, dim_ok, finite_ok,
    nonzero_ok, keep).
    """
    inf = float("inf")

    def _audit(df: DataFrame, key: Column) -> DataFrame:
        e = F.coalesce(F.col("embedding"), F.array().cast("array<float>"))
        bad = F.filter(e, lambda x: F.isnan(x) | (F.abs(x) == F.lit(inf)))
        zero = F.filter(e, lambda x: x == F.lit(0.0))
        dim = F.size(e)
        return df.select(
            key.alias("vec_key"),
            dim.cast("long").alias("dim"),
            F.size(bad).cast("long").alias("n_nonfinite"),
            F.size(zero).cast("long").alias("n_zero"),
            (dim == expected_dim).alias("dim_ok"),
            (F.size(bad) == 0).alias("finite_ok"),
            ((dim > 0) & (F.size(zero) < dim)).alias("nonzero_ok"),
            (
                (dim == expected_dim)
                & (F.size(bad) == 0)
                & (F.size(zero) < dim)
            ).alias("keep"),
        )

    key = F.col("vec_id").cast("string")
    base = _audit(embs, F.concat(F.lit("vec_"), key))
    if not plant_every:
        return base
    planted = embs.filter(
        (F.col("vec_id") % plant_every == 0) & F.col("embedding").isNotNull()
    )
    nf = _audit(
        planted.withColumn(
            "embedding",
            F.transform(
                F.col("embedding"),
                lambda x, i: F.when(i == 0, F.lit(float("nan")).cast("float")).otherwise(x),
            ),
        ),
        F.concat(F.lit("nf_"), key),
    )
    sh = _audit(
        planted.withColumn(
            "embedding", F.slice(F.col("embedding"), 1, expected_dim * 3 // 4)
        ),
        F.concat(F.lit("sh_"), key),
    )
    zr = _audit(
        planted.withColumn(
            "embedding",
            F.transform(F.col("embedding"), lambda x: F.lit(0.0).cast("float")),
        ),
        F.concat(F.lit("zr_"), key),
    )
    return base.unionAll(nf).unionAll(sh).unionAll(zr)


def ann_recall_audit(emb: DataFrame, n_queries: int = 40, k: int = 3) -> DataFrame:
    """Index-quality audit: recall@k of the IVF nprobe=1 path (ivf_ann_search)
    against the exact brute-force top-k (cosine_topk) for a bounded query set.

    The evaluation every ANN deployment runs before trusting the index at
    scale: nprobe=1 misses exactly the true neighbors that fall outside the
    query's coarse cell, and this measures that loss per query in EXACT
    integers (n_hit of n_exact ground-truth neighbors recovered, recall in
    basis points via integer division) — no float crosses the oracle
    boundary. Both rankings use the same rounded-cosine + id tie-break, so
    the top-k SETS are deterministic and engine-reproducible.

    Scale shape: ground truth is computed only for the BOUNDED query panel
    (broadcast side of cosine_topk), never all-pairs; the IVF side is the
    production cell equi-join. The hit join keys on (query_id, neighbor_id)
    — k rows per query both sides."""
    exact = cosine_topk(emb, n_queries, k).select(
        "query_id", "neighbor_id", F.lit(1).alias("_gt")
    )
    approx = ivf_ann_search(emb, n_queries, k).select(
        "query_id", "neighbor_id", F.lit(1).alias("_hit")
    )
    per_q = (
        exact.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_exact"),
            F.count("_hit").cast("bigint").alias("n_hit"),
        )
    )
    return per_q.select(
        "query_id",
        "n_exact",
        "n_hit",
        ((F.lit(10000) * F.col("n_hit")) / F.col("n_exact"))
        .cast("bigint")
        .alias("recall_bp"),
    )


def knn_hubness(emb: DataFrame, k: int = 3) -> DataFrame:
    """k-occurrence hubness audit over the IVF kNN graph: for EVERY vector,
    how many other vectors cite it in their in-cell top-k (same rounded-
    cosine + id tie-break ranking as ivf_ann_search, queries = the whole
    corpus). High-dimensional corpora develop HUBS (vectors cited far more
    than k times) and ANTIHUBS (never cited) — hubs dominate retrieval
    results and poison semdedup clustering; antihubs are unreachable
    through the kNN graph. n_occ is an exact integer; vectors never cited
    surface with n_occ=0 through the left join (the antihub finding a
    citation-side rollup alone would silently drop).

    Scale shape: the per-cell quadratic is the standard IVF trade (cell
    count grows ~sqrt(N)); the citation rollup is ONE map-side-combinable
    groupBy on the id, then a broadcast-free left join back to the corpus
    keyed on the same id."""
    cents = ivf_centroids(64)
    cell_udf = make_ivf_cell_udf(cents)
    base = emb.select(
        "vec_id",
        "embedding",
        cell_udf(F.col("embedding")).alias("cell"),
        seq_dot_udf(F.col("embedding"), F.col("embedding")).alias("n2"),
    )
    q = base.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"),
        "cell", F.col("n2").alias("q2"),
    )
    c = base.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ce"),
        "cell", F.col("n2").alias("c2"),
    )
    scored = (
        q.join(c, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos",
            F.round(seq_dot_udf(F.col("qe"), F.col("ce")) / F.sqrt(F.col("q2") * F.col("c2")), 4),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    cited = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .groupBy("neighbor_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_occ"))
    )
    return (
        base.select("vec_id", "cell")
        .join(cited.withColumnRenamed("neighbor_id", "vec_id"), "vec_id", "left")
        .fillna(0, ["n_occ"])
        .select("vec_id", "cell", "n_occ")
    )
