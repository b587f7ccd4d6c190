"""Distributed k-means on an integer lattice + SemDeDup-style semantic
near-dup pairs (Spark operators).

Lloyd's algorithm as DataFrame ops with broadcast centroids — the standard
distributed shape (assignment is a narrow map against k broadcast
centroids; the update is one map-side-combinable aggregation per round;
the only driver-side data is the k x dims centroid table, bounded metadata
like the pipeline's n_parts). What makes THIS k-means oracle-checkable is
that every decision is integer-exact:

  * embeddings are quantized to a 2^16 lattice (floor((x + 1) * 65536) —
    float32 -> double is exact, +1 and the power-of-two scale are exact,
    floor is deterministic), so
  * every distance is an int64 sum of int64 squares (exact in ANY
    summation order — no float reduction to pin), and
  * centroid updates are per-dim integer floor-means of non-negative sums
    (Spark `div` truncation == DuckDB `//` floor on non-negative ints).

Ties in the assignment argmin break to the LOWEST centroid id on both
sides. Initialization is seedless and engine-portable: the k vectors with
the smallest md5(vec_id) (the q45 shuffle construction). The result is a
deterministic function of the input that DuckDB re-derives bit-for-bit —
an ITERATIVE ML algorithm under the same value-check discipline as the
relational operators.

SemDeDup (Abbas et al. 2023): cluster first, then look for near-dups ONLY
within a cluster — the cluster assignment bounds the pair join the way
LSH bands bound the text/audio dedup joins. semantic_dup_pairs emits
within-cluster pairs with exact lattice distance <= tau.

At 10^12 vectors: assignment is shuffle-free; each update is ONE hash
aggregation on k keys; the within-cluster pair join is the SemDeDup bound
(clusters are capped in practice by re-splitting oversized ones — noted,
not needed at test scale).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

KM_K = 10
KM_ITERS = 3
KM_SCALE = 65536
KM_DIMS = 64

# float64 matmul on integer lattices is EXACT as long as every product and
# partial sum stays below 2^53: for |xq| <= 2^20 and <= 64 dims, squared
# distances and the |a|^2 - 2ab + |b|^2 decomposition are all < 2^48.
# Real embeddings are in [-1, 1] (|xq| <= 2^17); the guard only trips on
# pathological inputs, which fall back to exact int64 arithmetic.
_F64_EXACT_MAX = 1 << 20


def _sq_dists_np(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Exact int64 squared distances (n, k) between integer lattice rows.

    Fast path: float64 matmul (exact below _F64_EXACT_MAX, see above).
    Fallback: int64 broadcasting — slower, still exact to |v| ~ 2^28.
    """
    if max(np.abs(X).max(initial=0), np.abs(C).max(initial=0)) <= _F64_EXACT_MAX:
        Xf = X.astype(np.float64)
        Cf = C.astype(np.float64)
        D = (
            (Xf * Xf).sum(axis=1)[:, None]
            - 2.0 * (Xf @ Cf.T)
            + (Cf * Cf).sum(axis=1)[None, :]
        )
        return D.astype(np.int64)
    diff = X[:, None, :].astype(np.int64) - C[None, :, :].astype(np.int64)
    return (diff * diff).sum(axis=2)


def quantized_points(embs: DataFrame) -> DataFrame:
    """(vec_id, xq: array<long>) — embeddings on the 2^16 integer lattice."""
    xq = F.transform(
        "embedding",
        lambda v: F.floor((v.cast("double") + F.lit(1.0)) * F.lit(float(KM_SCALE))).cast(
            "long"
        ),
    )
    return embs.select("vec_id", xq.alias("xq"))


def _assign(pts: DataFrame, cents: dict[int, list[int]]) -> DataFrame:
    """(vec_id, xq, cluster, dist): nearest centroid, ties -> lowest cid.

    Arrow-batched numpy kernel (one exact matmul per batch) replacing the
    earlier per-row interpreted higher-order-function evaluation — same
    values bit-for-bit (_sq_dists_np is exact int64; np.argmin returns the
    FIRST minimum, i.e. the lowest centroid id, exactly like the
    array_position(dists, array_min) form it replaces and the SQL oracle).
    """
    cids = sorted(cents)
    C = np.asarray([cents[c] for c in cids], dtype=np.int64)
    cid_arr = np.asarray(cids, dtype=np.int64)

    def _f(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.asarray([np.asarray(v, dtype=np.int64) for v in pdf["xq"]])
            D = _sq_dists_np(X, C)
            j = np.argmin(D, axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "xq": pdf["xq"],
                    "cluster": cid_arr[j].astype(np.int32),
                    "dist": D[np.arange(len(j)), j],
                }
            )

    return pts.mapInPandas(
        _f, schema="vec_id bigint, xq array<bigint>, cluster int, dist bigint"
    )


def kmeans_assign(
    embs: DataFrame, k: int = KM_K, iters: int = KM_ITERS, dims: int | None = None
) -> DataFrame:
    """(vec_id, cluster, dist) after `iters` Lloyd rounds from the seedless
    md5 init. dist is the exact int64 lattice distance to the final
    centroid (a free per-row quality signal, and it pins the centroid
    values through the value check without emitting 64-wide arrays)."""
    pts = quantized_points(embs).persist()
    try:
        cents = _fit_centroids(pts, k, iters, dims)
        assigned = _assign(pts, cents)
        # materialize before unpersisting the lineage source
        out = assigned.select("vec_id", "cluster", "dist").localCheckpoint(eager=True)
        return out
    finally:
        pts.unpersist()


def _fit_centroids(
    pts: DataFrame, k: int, iters: int, dims: int | None
) -> dict[int, list[int]]:
    """Seedless md5 init + `iters` Lloyd rounds over a persisted quantized
    points frame; returns the final centroid table (k x dims ints, bounded
    metadata). Extracted so kmeans_assign and kmeans_quality share the
    identical iteration bit-for-bit."""
    if dims is None:  # one first() of one int — bounded metadata
        dims = int(pts.select(F.size("xq")).first()[0])
    init = (
        pts.orderBy(F.md5(F.col("vec_id").cast("string")).asc(), F.col("vec_id").asc())
        .limit(k)
        .collect()
    )
    cents = {i: [int(v) for v in r["xq"]] for i, r in enumerate(init)}
    assigned = _assign(pts, cents)
    for _ in range(iters):
        sums = (
            assigned.groupBy("cluster")
            .agg(
                F.count("*").alias("n"),
                *[
                    F.sum(F.element_at("xq", d + 1)).alias(f"s{d}")
                    for d in range(dims)
                ],
            )
            .collect()
        )
        for r in sums:  # empty clusters keep their previous centroid
            n = int(r["n"])
            cents[int(r["cluster"])] = [int(r[f"s{d}"]) // n for d in range(dims)]
        assigned = _assign(pts, cents)
    return cents


def kmeans_quality(
    embs: DataFrame, k: int = KM_K, iters: int = KM_ITERS, dims: int | None = None
) -> DataFrame:
    """Per-cluster QUALITY audit of the exact k-means: (cluster, n,
    n_boundary, sse) where sse = exact int64 sum of squared lattice
    distances to the own centroid and a point is BOUNDARY when its
    second-closest centroid is less than twice as far (squared units):
    d2 < 2*d1, the simplified-silhouette margin test kept exact by
    cross-multiplication. High boundary fractions mean the clustering is
    not separating the corpus (semdedup q74 inherits exactly that risk:
    near-dups split across two touching clusters are never compared).

    Same fit as kmeans_assign (shared _fit_centroids — bit-identical
    centroids); the final pass computes the SORTED per-point distance
    array against the k broadcast centroids (narrow map), then ONE
    map-side-combinable rollup. Everything integer-exact, so the DuckDB
    oracle re-derives fit AND audit bit-for-bit."""
    pts = quantized_points(embs).persist()
    try:
        cents = _fit_centroids(pts, k, iters, dims)
        cids = sorted(cents)
        C = np.asarray([cents[c] for c in cids], dtype=np.int64)

        def _pp(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            # numpy mirror of the earlier array_sort/array_position form:
            # cluster = FIRST minimum (lowest cid on ties), d1/d2 = the two
            # smallest distances by VALUE — exact int64 via _sq_dists_np;
            # with a single centroid there is no second distance: d2 is null
            for pdf in batches:
                if not len(pdf):
                    continue
                X = np.asarray([np.asarray(v, dtype=np.int64) for v in pdf["xq"]])
                D = _sq_dists_np(X, C)
                j = np.argmin(D, axis=1)
                if D.shape[1] > 1:
                    two = np.partition(D, 1, axis=1)
                    d1, d2 = two[:, 0], two[:, 1]
                else:
                    d1, d2 = D[:, 0], pd.array([None] * len(D), dtype="Int64")
                yield pd.DataFrame({"cluster": j.astype(np.int32), "d1": d1, "d2": d2})

        per_point = pts.mapInPandas(_pp, schema="cluster int, d1 bigint, d2 bigint")
        out = (
            per_point.groupBy("cluster")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum((F.col("d2") < 2 * F.col("d1")).cast("long"))
                .cast("long")
                .alias("n_boundary"),
                F.sum("d1").cast("long").alias("sse"),
            )
            .localCheckpoint(eager=True)
        )
        return out
    finally:
        pts.unpersist()


def semantic_dup_pairs(
    embs: DataFrame,
    tau: int,
    k: int = KM_K,
    iters: int = KM_ITERS,
    dims: int | None = None,
) -> DataFrame:
    """SemDeDup: (vec_a, vec_b, sq_dist) pairs with exact lattice distance
    <= tau, searched ONLY within a k-means cluster — the cluster bounds the
    pair join exactly like LSH bands bound the text dedup joins. tau is in
    squared lattice units ((2^16 * (x+1))^2 scale)."""
    pts = quantized_points(embs)
    asg = kmeans_assign(embs, k=k, iters=iters, dims=dims).select("vec_id", "cluster")
    pc = pts.join(asg, "vec_id")
    tau_i = int(tau)

    def _pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        # one cluster per group: exact int64 pairwise distances via blocked
        # matmul (_sq_dists_np), emitting only pairs <= tau. Replaces the
        # within-cluster pair JOIN (which shipped both 64-long arrays per
        # candidate pair through an interpreted fold) with one Arrow pass
        # per cluster — same (vec_a < vec_b, sq_dist) rows exactly.
        ids = pdf["vec_id"].to_numpy()
        n = len(ids)
        if n < 2:
            return pd.DataFrame({"vec_a": [], "vec_b": [], "sq_dist": []}).astype(
                {"vec_a": "int64", "vec_b": "int64", "sq_dist": "int64"}
            )
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        X = np.asarray([np.asarray(v, dtype=np.int64) for v in pdf["xq"]])[order]
        out_a, out_b, out_d = [], [], []
        blk = 2048  # bounds the (blk, n) distance block at ~16 MB
        for s in range(0, n, blk):
            e = min(s + blk, n)
            D = _sq_dists_np(X[s:e], X)
            ii, jj = np.nonzero(D <= tau_i)
            # strict by VALUE (not index): duplicate vec_ids must not pair
            # with themselves, exactly like the vec_a < vec_b join filter
            keep = ids[ii + s] < ids[jj]
            out_a.append(ids[ii[keep] + s])
            out_b.append(ids[jj[keep]])
            out_d.append(D[ii[keep], jj[keep]])
        return pd.DataFrame(
            {
                "vec_a": np.concatenate(out_a),
                "vec_b": np.concatenate(out_b),
                "sq_dist": np.concatenate(out_d),
            }
        )

    return pc.groupBy("cluster").applyInPandas(
        _pairs, schema="vec_a bigint, vec_b bigint, sq_dist bigint"
    )
