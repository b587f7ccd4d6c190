"""Integer-lattice k-means + SemDeDup (q73/q74): agreement with a serial
numpy mirror of the algorithm, partitioning invariance, tie/empty-cluster
semantics, planted-pair recall, plan shape."""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pytest

from datasmith_spark.operators.clustering import (
    KM_ITERS,
    KM_K,
    kmeans_assign,
    semantic_dup_pairs,
)


def _quant(v: np.ndarray) -> np.ndarray:
    return np.floor((v.astype(np.float64) + 1.0) * 65536).astype(np.int64)


def _serial_kmeans(ids, X, k=KM_K, iters=KM_ITERS):
    """Independent numpy implementation of the same algorithm (md5 init,
    lowest-cid tie-break, integer floor-mean updates, empty keep)."""
    XQ = np.array([_quant(x) for x in X])
    order = sorted(
        range(len(ids)), key=lambda i: (hashlib.md5(str(ids[i]).encode()).hexdigest(), ids[i])
    )
    cents = {c: XQ[order[c]].copy() for c in range(k)}

    def assign():
        C = np.array([cents[c] for c in range(k)])
        d = ((XQ[:, None, :] - C[None, :, :]) ** 2).sum(-1)
        return d.argmin(1), d.min(1)  # argmin = first min = lowest cid

    a, dist = assign()
    for _ in range(iters):
        for c in range(k):
            m = a == c
            if m.any():
                cents[c] = XQ[m].sum(0) // int(m.sum())
        a, dist = assign()
    return dict(zip(ids, zip(a.tolist(), dist.tolist())))


def _emb_df(spark, n=160, dims=8, seed=5, k=None):
    rng = np.random.default_rng(seed)
    X = rng.uniform(-0.6, 0.6, size=(n, dims)).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": range(n), "embedding": [x.tolist() for x in X]})
    return spark.createDataFrame(pdf), list(range(n)), list(X)


class TestKmeans:
    def test_matches_serial_mirror(self, spark):
        df, ids, X = _emb_df(spark)
        got = {
            r["vec_id"]: (r["cluster"], r["dist"])
            for r in kmeans_assign(df.repartition(7), dims=8).collect()
        }
        want = _serial_kmeans(ids, X)
        assert got == want

    def test_partitioning_invariance(self, spark):
        df, _, _ = _emb_df(spark, seed=9)
        a = {r["vec_id"]: r["cluster"] for r in kmeans_assign(df.repartition(2), dims=8).collect()}
        b = {r["vec_id"]: r["cluster"] for r in kmeans_assign(df.repartition(11), dims=8).collect()}
        assert a == b

    def test_exact_duplicate_points_tie_identically(self, spark):
        # duplicate vectors must always land in the same cluster (equal
        # distances everywhere -> same lowest-cid tie-break)
        rng = np.random.default_rng(3)
        X = rng.uniform(-0.5, 0.5, size=(40, 8)).astype(np.float32)
        X[25] = X[3]
        X[31] = X[3]
        pdf = pd.DataFrame({"vec_id": range(40), "embedding": [x.tolist() for x in X]})
        out = {r["vec_id"]: r["cluster"] for r in kmeans_assign(spark.createDataFrame(pdf), k=5, dims=8).collect()}
        assert out[3] == out[25] == out[31]

    def test_dist_is_exact_lattice_distance(self, spark):
        df, ids, X = _emb_df(spark, n=60, seed=11)
        rows = kmeans_assign(df, dims=8).collect()
        want = _serial_kmeans(ids, X)
        for r in rows:
            assert r["dist"] == want[r["vec_id"]][1]


class TestSemDedup:
    def test_planted_neardups_recovered_exactly(self, spark):
        df, ids, X = _emb_df(spark, n=120, seed=21)
        planted = pd.DataFrame(
            {
                "vec_id": [10000 + i for i in range(8)],
                "embedding": [
                    (np.array(X[i], dtype=np.float64) + 0.001).tolist() for i in range(8)
                ],
            }
        )
        base = pd.DataFrame(
            {"vec_id": ids, "embedding": [np.asarray(x, dtype=np.float64).tolist() for x in X]}
        )
        corpus = spark.createDataFrame(pd.concat([base, planted], ignore_index=True))
        pairs = semantic_dup_pairs(corpus, tau=1_000_000, k=6).collect()
        got = {(r["vec_a"], r["vec_b"]) for r in pairs}
        assert got == {(i, 10000 + i) for i in range(8)}
        assert all(r["sq_dist"] <= 8 * (66 ** 2) for r in pairs)  # ~0.001*65536 per dim

    def test_no_nested_loop_plan(self, spark):
        from tests.test_plans import _plan

        df, _, _ = _emb_df(spark, n=40, seed=2)
        plan = _plan(semantic_dup_pairs(df, tau=1000, k=3, iters=1))
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan


if __name__ == "__main__":
    import sys

    sys.exit(pytest.main([__file__, "-q"]))


def test_cluster_canonical_quality_argmax(spark):
    """Canonical = longest text, min doc_id on ties — across a multi-hop
    cluster (1-2, 2-3) and a pair cluster."""
    import pyspark.sql.functions as F

    from datasmith_spark.operators.components import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a bigint, doc_b bigint"
    )
    lens = spark.createDataFrame(
        [(1, 5), (2, 9), (3, 9), (10, 4), (11, 2)], "id bigint, n_chars bigint"
    )
    cc = connected_components(pairs, src="doc_a", dst="doc_b")
    out = {
        r.cluster_id: (r.n_members, r.canonical_id, r.canonical_chars)
        for r in cc.join(lens, "id")
        .groupBy(F.col("component").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_members"),
            F.max(F.struct(F.col("n_chars"), (-F.col("id")).alias("_neg"))).alias("_m"),
        )
        .select(
            "cluster_id", "n_members",
            (-F.col("_m._neg")).alias("canonical_id"),
            F.col("_m.n_chars").alias("canonical_chars"),
        )
        .collect()
    }
    assert out == {1: (3, 2, 9), 10: (2, 10, 4)}


def test_registry_has_q120(spark):
    from datasmith_spark.queries import ORACLE_SQL, QUERIES

    assert "q120_cluster_canonical" in QUERIES and "q120_cluster_canonical" in ORACLE_SQL


class TestKmeansQuality:
    def test_counts_and_sse_vs_assign(self, spark):
        """Mass conservation and sse consistency against kmeans_assign:
        shared fit => per-cluster n and sum(dist) must agree exactly."""
        from datasmith_spark.operators.clustering import (
            kmeans_assign,
            kmeans_quality,
        )

        embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        q = kmeans_quality(embs).toPandas().set_index("cluster").sort_index()
        a = kmeans_assign(embs).toPandas()
        want = a.groupby("cluster").agg(n=("vec_id", "count"), sse=("dist", "sum"))
        assert q.n.to_dict() == want.n.to_dict()
        assert q.sse.to_dict() == {k: int(v) for k, v in want.sse.to_dict().items()}
        assert ((q.n_boundary >= 0) & (q.n_boundary <= q.n)).all()

    def test_boundary_detects_touching_clusters(self, spark):
        """Two tight blobs + midpoint stragglers: the stragglers must flag
        as boundary, the blob cores must not."""
        import numpy as np

        rng = np.random.default_rng(9)
        a = rng.normal(0.5, 0.005, size=(20, 64))
        b = rng.normal(-0.5, 0.005, size=(20, 64))
        mid = rng.normal(0.0, 0.005, size=(4, 64))
        rows = [
            (i, [float(x) for x in v])
            for i, v in enumerate(np.vstack([a, b, mid]))
        ]
        embs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        from datasmith_spark.operators.clustering import kmeans_quality

        out = kmeans_quality(embs, k=2, iters=3).toPandas()
        assert out.n.sum() == 44
        # the 4 midpoint stragglers sit near the decision surface of the
        # two blob centroids -> exactly they flag as boundary
        assert out.n_boundary.sum() == 4

    def test_single_centroid_has_no_second_distance(self, spark):
        """k=1: no second-closest centroid exists, so d2 is null and the
        boundary count is null (not a crash in the per-point pass)."""
        from datasmith_spark.operators.clustering import kmeans_quality

        rows = [(i, [float(i) / 10.0] * 4) for i in range(5)]
        embs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = kmeans_quality(embs, k=1, iters=2).toPandas()
        assert len(out) == 1
        assert int(out.n.iloc[0]) == 5
        assert out.sse.iloc[0] > 0
        assert pd.isna(out.n_boundary.iloc[0])
