"""Local perf-measurement replica of a driver sf dir at R x scale.

The driver's round-end MEASUREMENT can run at a larger, driver-generated
scale factor than the committed /root/testdata dirs (r5 ran at sf=1.0 —
10x sf0.1). That data is not on disk here, so superlinear behavior in the
candidate-pair queries is invisible at sf0.1. This script synthesizes a
faithful R x replica of sf0.1 for LOCAL MEASUREMENT ONLY (written under
.data/, gitignored — never an input to correctness checks or the bench
contract):

  * fixed dims (region, nation) are copied;
  * keyed tables replicate R times with contiguous key offsets (the driver
    generator emits contiguous 0..N-1 keys at every sf — verified sf0.01
    vs sf0.1), preserving FK relationships and modular distributions;
  * documents: replica texts are regenerated as uniform draws from the
    SAME 30-token vocabulary with the source doc's token count (the
    driver's texts are uniform-random over that vocab, so replicas match
    the real sf1.0 distribution — in particular the tiny shingle space
    that makes the pair joins superlinear);
  * embeddings: replicas perturb the source vector with deterministic
    small noise (preserves the cluster geometry that bounds q73/q74);
  * events: replicas offset event_id/user_id; timestamps keep the fixed
    2024-01 window (density scales with sf, the window does not —
    verified sf0.01 vs sf0.1).

Usage: python scripts/make_scale_replica.py [R] [out_dir]
Defaults: R=10, out=<checkout>/.data/sfx{R}
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SIZES = {
    "customer": 15000,
    "supplier": 1000,
    "part": 20000,
    "orders": 150000,
    "lineitem": 150000,  # key space of l_orderkey
    "events": 100000,  # event_id
    "documents": 5000,
    "embeddings": 2000,
}
USERS = 1500  # user_id key space at sf0.1
PARTS = 20000
SUPPS = 1000
CUSTS = 15000


def _read(name: str) -> pa.Table:
    return pq.read_table(f"{SRC}/{name}.parquet")


def _offset(t: pa.Table, col: str, off: int) -> pa.Table:
    i = t.schema.get_field_index(col)
    arr = pa.compute.add(t.column(col), off)
    return t.set_column(i, t.schema.field(col), arr)


def replicate(name: str, r: int, offsets: dict[str, int]) -> pa.Table:
    t = _read(name)
    for col, keyspace in offsets.items():
        if r:
            t = _offset(t, col, r * keyspace)
    return t


def documents_replica(r: int, rng: np.random.Generator) -> pa.Table:
    t = _read("documents")
    if r == 0:
        return t
    t = _offset(t, "doc_id", r * SIZES["documents"])
    # regenerate text: uniform tokens from the same vocab, same token count
    texts = t.column("text").to_pylist()
    vocab = sorted({w for tx in texts for w in tx.split()})
    new_texts = []
    for tx in texts:
        n = len(tx.split())
        new_texts.append(" ".join(rng.choice(vocab, size=n)))
    n_chars = [len(tx) for tx in new_texts]
    t = t.set_column(t.schema.get_field_index("text"), "text", pa.array(new_texts))
    t = t.set_column(
        t.schema.get_field_index("n_chars"),
        t.schema.field("n_chars"),
        pa.array(n_chars, type=t.schema.field("n_chars").type),
    )
    return t


def embeddings_replica(r: int, rng: np.random.Generator) -> pa.Table:
    t = _read("embeddings")
    if r == 0:
        return t
    t = _offset(t, "vec_id", r * SIZES["embeddings"])
    emb = np.array(t.column("embedding").to_pylist(), dtype=np.float32)
    emb = emb + rng.uniform(-0.02, 0.02, size=emb.shape).astype(np.float32)
    t = t.set_column(
        t.schema.get_field_index("embedding"),
        t.schema.field("embedding"),
        pa.array(list(emb), type=t.schema.field("embedding").type),
    )
    return t


def main() -> None:
    R = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    out = sys.argv[2] if len(sys.argv) > 2 else os.path.join(ROOT, ".data", f"sfx{R}")
    os.makedirs(out, exist_ok=True)
    for name in ("region", "nation"):
        pq.write_table(_read(name), f"{out}/{name}.parquet")
    plans = {
        "customer": {"c_custkey": CUSTS},
        "supplier": {"s_suppkey": SUPPS},
        "part": {"p_partkey": PARTS},
        "orders": {"o_orderkey": SIZES["orders"], "o_custkey": CUSTS},
        "lineitem": {
            "l_orderkey": SIZES["orders"],
            "l_partkey": PARTS,
            "l_suppkey": SUPPS,
        },
        "events": {"event_id": SIZES["events"], "user_id": USERS},
    }
    for name, offsets in plans.items():
        parts = [replicate(name, r, offsets) for r in range(R)]
        pq.write_table(pa.concat_tables(parts), f"{out}/{name}.parquet")
        print(f"{name}: {sum(p.num_rows for p in parts)} rows")
    rng = np.random.default_rng(20260822)
    docs = [documents_replica(r, rng) for r in range(R)]
    pq.write_table(pa.concat_tables(docs), f"{out}/documents.parquet")
    print(f"documents: {sum(p.num_rows for p in docs)} rows")
    embs = [embeddings_replica(r, rng) for r in range(R)]
    pq.write_table(pa.concat_tables(embs), f"{out}/embeddings.parquet")
    print(f"embeddings: {sum(p.num_rows for p in embs)} rows")
    open(f"{out}/_DONE", "w").close()
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
