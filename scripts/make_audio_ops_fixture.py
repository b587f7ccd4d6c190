"""Materialize the single-process audio-ops oracle as a committed parquet
fixture (fixtures/oracle_audio_ops_n{N}.parquet) for q36/q37.

Why: resample_digest_scan / logmel_digest_scan run numeric kernels
(audio_ops._resample_pdf / _logmel_pdf) DuckDB cannot re-express — but
their outputs are deterministic functions of the pinned
clips table (seed=42, row index), so a single-process pass can record a
bit-exact digest per clip (md5 of the resampled payload bytes; md5 of the
float64 log-mel array) that the driver's DuckDB oracle reads back while the
Spark query recomputes the same digests distributed. Any bit difference in
the resampled audio or features flips the hash, so the driver's value-hash
check verifies the full kernel + Arrow plumbing end to end (same design as
make_oracle_fixture.py for q27/q28).

Portability: both kernels avoid BLAS reductions (fixed-order summation
only — see core/audio.py rms and core/resample.py logmel), so the fixture
reproduces bit-for-bit across hosts; tests/test_audio_ops.py regenerates a
sample and asserts equality.

Usage: python scripts/make_audio_ops_fixture.py [n_rows=4000]
"""

from __future__ import annotations

import hashlib
import multiprocessing as mp
import os
import sys

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FIXTURE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixtures"
)

TARGET_SR = 16000  # q36's normalization rate
CODEC_OUT = "pcm16"


def oracle_rows(indices) -> pd.DataFrame:
    """Audio-ops oracle for clip rows `indices` — mirrors the semantics of
    operators/audio_ops.py exactly (shared kernels, independent driver loop):
    undecodable rows pass through byte-identical with ok=False."""
    from datasmith_spark import datagen
    from datasmith_spark.core.audio import decode, encode
    from datasmith_spark.core.resample import logmel, resample

    clips = datagen.gen_batch(indices)
    out = {
        "clip_id": [], "resample_ok": [], "sr_hz": [], "dur_ms": [],
        "payload_md5": [], "ok": [], "n_frames": [], "n_mels": [], "feats_md5": [],
    }
    for row in clips.itertuples(index=False):
        sr = None if pd.isna(row.sr_hz) else int(row.sr_hz)
        pcm = decode(row.bytes, row.codec) if sr and sr > 0 else None
        out["clip_id"].append(row.clip_id)
        if pcm is None:
            out["resample_ok"].append(False)
            out["sr_hz"].append(sr)
            out["dur_ms"].append(None if pd.isna(row.dur_ms) else int(row.dur_ms))
            out["payload_md5"].append(
                None if row.bytes is None else hashlib.md5(row.bytes).hexdigest()
            )
            out["ok"].append(False)
            out["n_frames"].append(0)
            out["n_mels"].append(40)
            out["feats_md5"].append(hashlib.md5(b"").hexdigest())
            continue
        y = resample(pcm, sr, TARGET_SR, mode="sinc")
        buf = encode(y, CODEC_OUT)
        out["resample_ok"].append(True)
        out["sr_hz"].append(TARGET_SR)
        out["dur_ms"].append(int(round(y.size / TARGET_SR * 1000.0)))
        out["payload_md5"].append(hashlib.md5(buf).hexdigest())
        m = logmel(pcm, sr)
        out["ok"].append(True)
        out["n_frames"].append(m.shape[0])
        out["n_mels"].append(40)
        out["feats_md5"].append(
            hashlib.md5(np.ascontiguousarray(m.reshape(-1), dtype="<f8").tobytes()).hexdigest()
        )
    df = pd.DataFrame(out)
    df["sr_hz"] = df["sr_hz"].astype("Int32")
    df["dur_ms"] = df["dur_ms"].astype("Int32")
    df["n_frames"] = df["n_frames"].astype("Int32")
    df["n_mels"] = df["n_mels"].astype("Int32")
    return df


def _chunk(args) -> pd.DataFrame:
    lo, hi = args
    return oracle_rows(range(lo, hi))


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 4000
    os.makedirs(FIXTURE_DIR, exist_ok=True)
    chunks = [(lo, min(lo + 125, n)) for lo in range(0, n, 125)]
    procs = min(16, os.cpu_count() or 8)
    with mp.get_context("fork").Pool(procs) as pool:
        parts = pool.map(_chunk, chunks)
    df = pd.concat(parts, ignore_index=True)
    assert len(df) == n
    out = os.path.join(FIXTURE_DIR, f"oracle_audio_ops_n{n}.parquet")
    df.to_parquet(out, index=False)
    print(
        f"wrote {out}: {len(df)} rows, {int(df['resample_ok'].sum())} resampled, "
        f"{int(df['ok'].sum())} featurized"
    )


if __name__ == "__main__":
    main()
