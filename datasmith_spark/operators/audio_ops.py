"""Audio prep, augmentation and quality operators over the clip table.

Each per-clip operator is one per-batch pandas kernel (`_X_pdf`: bytes in,
bytes or compact features out) run by ONE Spark source, `X_scan(spark,
input_dir)` — scan_decode.manifest_scan, which reads the parquet directory
worker-side via pyarrow (memory_map, bounded row-group batches) and hands
each Arrow batch straight to the kernel: audio bytes never enter the JVM,
so even a default-heap session verifies the full table. The DSP kernels
live in core/ and are shared with the single-process fixture scripts, so
both sides move together. The payload-producing kernels take digest=True
in the scans (payload md5 instead of bytes — the queries' oracle
compare); digest=False is the bytes reference the kernel tests check the
digests against.

At 100 TB these are embarrassingly parallel narrow maps — no shuffle, no
cross-row state; manifest_scan runs one task per core, up to one per
file. The two pairwise operators (mix_overlay_clips, xcorr_align_clips)
join two clip DataFrames on a pair key; the corpus-level audits
(transcript_reuse, the feature-statistics reduces) aggregate DataFrames.
"""

from __future__ import annotations

import hashlib
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core.audio import ITEMSIZE, decode, encode
from ..core.resample import (
    add_noise,
    cmvn,
    logmel,
    mfcc,
    pitch_shift,
    resample,
    spec_augment,
    wsola,
)
from ..core.spectral import (
    bw_bin_to_hz,
    speaking_rate_keep,
    spectral_metrics,
)
from ..core.vad import (
    ACTIVE_DB,
    FRAME_MS,
    active_span_samples,
    vad_keep,
    vad_metrics,
)
from .scan_decode import manifest_scan

RESAMPLED_DIGEST_DDL = (
    "clip_id string, resample_ok boolean, sr_hz int, dur_ms int, payload_md5 string"
)

LOGMEL_DIGEST_DDL = "clip_id string, ok boolean, n_frames int, n_mels int, feats_md5 string"

MFCC_DIGEST_DDL = "clip_id string, ok boolean, n_frames int, n_coef int, feats_md5 string"

VAD_DDL = (
    "clip_id string, ok boolean, n_samples int, n_frames int, n_active int, "
    "trim_start_ms int, trim_end_ms int, n_clipped int, keep boolean"
)

TRIMMED_DIGEST_DDL = (
    "clip_id string, trimmed boolean, dur_ms int, payload_md5 string"
)

SPECTRAL_DDL = (
    "clip_id string, ok boolean, n_bins int, n_harmonic int, snr_log2 int, "
    "snr_ok boolean, bw_hz int, narrowband boolean, keep boolean"
)

RATE_DDL = (
    "clip_id string, ok boolean, n_chars int, active_ms int, rate_keep boolean"
)

# peak-normalization target: 57/64 exactly (an exact binary fraction, so the
# gain division and per-sample multiply are IEEE-portable with no libm pow) —
# within 0.01 dB of the conventional -1 dBFS headroom target
NORM_TARGET_PEAK = 0.890625

NORMALIZED_DIGEST_DDL = (
    "clip_id string, normalized boolean, payload_md5 string"
)


def _resample_pdf(
    pdf: pd.DataFrame, target_sr: int, mode: str, codec_out: str, digest: bool
) -> pd.DataFrame:
    """One pandas batch of clips -> resampled batch (or digest batch)."""
    out_bytes, out_sr, out_dur, out_codec, ok = [], [], [], [], []
    for buf, sr, codec in zip(pdf["bytes"], pdf["sr_hz"], pdf["codec"]):
        sr = None if pd.isna(sr) else int(sr)
        pcm = decode(buf, codec) if sr and sr > 0 else None
        if pcm is None:
            out_bytes.append(buf)
            out_sr.append(sr)
            out_dur.append(None)
            out_codec.append(codec)
            ok.append(False)
            continue
        y = resample(pcm, int(sr), target_sr, mode=mode)
        out_bytes.append(encode(y, codec_out))
        out_sr.append(target_sr)
        out_dur.append(int(round(y.size / target_sr * 1000.0)))
        out_codec.append(codec_out)
        ok.append(True)
    dur = pd.array(
        [d if d is not None else pdf["dur_ms"].iloc[i] for i, d in enumerate(out_dur)],
        dtype="Int32",
    )
    if digest:
        return pd.DataFrame(
            {
                "clip_id": pdf["clip_id"],
                "resample_ok": ok,
                "sr_hz": pd.array(out_sr, dtype="Int32"),
                "dur_ms": dur,
                "payload_md5": [
                    None if b is None else hashlib.md5(b).hexdigest() for b in out_bytes
                ],
            }
        )
    return pd.DataFrame(
        {
            "clip_id": pdf["clip_id"],
            "bytes": out_bytes,
            "sr_hz": pd.array(out_sr, dtype="Int32"),
            "dur_ms": dur,
            "codec": out_codec,
            "transcript": pdf["transcript"],
            "resample_ok": ok,
        }
    )


def _logmel_pdf(
    pdf: pd.DataFrame, n_fft: int, hop: int, n_mels: int, digest: bool
) -> pd.DataFrame:
    """One pandas batch of clips -> log-mel batch (or digest batch)."""
    oks, nfs, feats = [], [], []
    for buf, sr, codec in zip(pdf["bytes"], pdf["sr_hz"], pdf["codec"]):
        sr = None if pd.isna(sr) else int(sr)
        pcm = decode(buf, codec) if sr and sr > 0 else None
        if pcm is None:
            oks.append(False)
            nfs.append(0)
            feats.append(np.zeros(0))
            continue
        m = logmel(pcm, int(sr), n_fft=n_fft, hop=hop, n_mels=n_mels)
        oks.append(True)
        nfs.append(m.shape[0])
        feats.append(m.reshape(-1))
    out = {
        "clip_id": pdf["clip_id"],
        "ok": oks,
        "n_frames": pd.array(nfs, dtype="Int32"),
        "n_mels": pd.array([n_mels] * len(pdf), dtype="Int32"),
    }
    if digest:
        out["feats_md5"] = [
            hashlib.md5(np.ascontiguousarray(a, dtype="<f8").tobytes()).hexdigest()
            for a in feats
        ]
    else:
        out["feats"] = feats
    return pd.DataFrame(out)


def _mfcc_pdf(
    pdf: pd.DataFrame, n_fft: int, hop: int, n_mels: int, n_mfcc: int, digest: bool
) -> pd.DataFrame:
    """One pandas batch of clips -> MFCC+delta+delta2 batch (or digest
    batch). Same conditional-enrich shape as _logmel_pdf: undecodable rows
    emit ok=False with the empty-array digest."""
    n_coef = 3 * n_mfcc
    oks, nfs, feats = [], [], []
    for buf, sr, codec in zip(pdf["bytes"], pdf["sr_hz"], pdf["codec"]):
        sr = None if pd.isna(sr) else int(sr)
        pcm = decode(buf, codec) if sr and sr > 0 else None
        if pcm is None:
            oks.append(False)
            nfs.append(0)
            feats.append(np.zeros(0))
            continue
        m = mfcc(pcm, int(sr), n_fft=n_fft, hop=hop, n_mels=n_mels, n_mfcc=n_mfcc)
        oks.append(True)
        nfs.append(m.shape[0])
        feats.append(m.reshape(-1))
    out = {
        "clip_id": pdf["clip_id"],
        "ok": oks,
        "n_frames": pd.array(nfs, dtype="Int32"),
        "n_coef": pd.array([n_coef] * len(pdf), dtype="Int32"),
    }
    if digest:
        out["feats_md5"] = [
            hashlib.md5(np.ascontiguousarray(a, dtype="<f8").tobytes()).hexdigest()
            for a in feats
        ]
    else:
        out["feats"] = feats
    return pd.DataFrame(out)


def _cmvn_pdf(
    pdf: pd.DataFrame, n_fft: int, hop: int, n_mels: int, digest: bool
) -> pd.DataFrame:
    """One pandas batch of clips -> per-utterance-CMVN log-mel batch.

    logmel -> cmvn fused in ONE decode pass (per-utterance normalization
    needs no corpus statistics, so the whole featurization chain stays a
    shuffle-free narrow map). Same schema family as _logmel_pdf."""
    oks, nfs, feats = [], [], []
    for buf, sr, codec in zip(pdf["bytes"], pdf["sr_hz"], pdf["codec"]):
        sr = None if pd.isna(sr) else int(sr)
        pcm = decode(buf, codec) if sr and sr > 0 else None
        if pcm is None:
            oks.append(False)
            nfs.append(0)
            feats.append(np.zeros(0))
            continue
        m = cmvn(logmel(pcm, int(sr), n_fft=n_fft, hop=hop, n_mels=n_mels))
        oks.append(True)
        nfs.append(m.shape[0])
        feats.append(m.reshape(-1))
    out = {
        "clip_id": pdf["clip_id"],
        "ok": oks,
        "n_frames": pd.array(nfs, dtype="Int32"),
        "n_mels": pd.array([n_mels] * len(pdf), dtype="Int32"),
    }
    if digest:
        out["feats_md5"] = [
            hashlib.md5(np.ascontiguousarray(a, dtype="<f8").tobytes()).hexdigest()
            for a in feats
        ]
    else:
        out["feats"] = feats
    return pd.DataFrame(out)


def _specaug_pdf(
    pdf: pd.DataFrame, n_fft: int, hop: int, n_mels: int, digest: bool
) -> pd.DataFrame:
    """One pandas batch of clips -> SpecAugment-masked CMVN log-mel batch.

    decode -> logmel -> cmvn -> spec_augment fused in ONE Arrow pass; the
    mask geometry is a pure function of clip_id (core/resample.py
    spec_augment), so the augmentation is reproducible per clip and the
    whole chain stays a shuffle-free narrow map."""
    oks, nfs, feats = [], [], []
    for cid, buf, sr, codec in zip(
        pdf["clip_id"], pdf["bytes"], pdf["sr_hz"], pdf["codec"]
    ):
        sr = None if pd.isna(sr) else int(sr)
        pcm = decode(buf, codec) if sr and sr > 0 else None
        if pcm is None:
            oks.append(False)
            nfs.append(0)
            feats.append(np.zeros(0))
            continue
        m = spec_augment(
            cmvn(logmel(pcm, int(sr), n_fft=n_fft, hop=hop, n_mels=n_mels)),
            str(cid),
        )
        oks.append(True)
        nfs.append(m.shape[0])
        feats.append(m.reshape(-1))
    out = {
        "clip_id": pdf["clip_id"],
        "ok": oks,
        "n_frames": pd.array(nfs, dtype="Int32"),
        "n_mels": pd.array([n_mels] * len(pdf), dtype="Int32"),
    }
    if digest:
        out["feats_md5"] = [
            hashlib.md5(np.ascontiguousarray(a, dtype="<f8").tobytes()).hexdigest()
            for a in feats
        ]
    else:
        out["feats"] = feats
    return pd.DataFrame(out)


def _vad_pdf(
    pdf: pd.DataFrame, frame_ms: int = FRAME_MS, active_db: float = ACTIVE_DB
) -> pd.DataFrame:
    """One pandas batch of clips -> VAD/trim/clipping metrics batch.

    All emitted metrics are integers/booleans (core/vad.py contract), so the
    oracle compare is exact with no digest indirection. Undecodable rows get
    ok=false, zero counts, null trims — flag-not-crash, any clip_id accepted
    (no datagen naming assumption; cf. the r4 audio_fp defect)."""
    out = {
        "clip_id": pdf["clip_id"], "ok": [], "n_samples": [], "n_frames": [],
        "n_active": [], "trim_start_ms": [], "trim_end_ms": [], "n_clipped": [],
        "keep": [],
    }
    for buf, sr, codec in zip(pdf["bytes"], pdf["sr_hz"], pdf["codec"]):
        sr = None if pd.isna(sr) else int(sr)
        pcm = decode(buf, codec) if sr and sr > 0 else None
        ok = pcm is not None
        ns, nf, na, t0, t1, nc = vad_metrics(
            pcm, sr if ok else 0, frame_ms=frame_ms, active_db=active_db
        )
        out["ok"].append(ok)
        out["n_samples"].append(ns)
        out["n_frames"].append(nf)
        out["n_active"].append(na)
        out["trim_start_ms"].append(t0)
        out["trim_end_ms"].append(t1)
        out["n_clipped"].append(nc)
        out["keep"].append(vad_keep(ok, ns, nf, na, nc))
    for c in ("n_samples", "n_frames", "n_active", "trim_start_ms",
              "trim_end_ms", "n_clipped"):
        out[c] = pd.array(out[c], dtype="Int32")
    return pd.DataFrame(out)


def _spectral_pdf(pdf: pd.DataFrame) -> pd.DataFrame:
    """One pandas batch of clips -> spectral SNR + bandwidth quality batch.

    All emitted metrics are integers/booleans (core/spectral.py contract —
    frexp-based log2 bands, cross-multiplied predicates, no libm
    transcendentals), so the committed-fixture oracle compare is exact and
    host-portable. keep = decodable AND snr_ok AND NOT narrowband: the
    composite spectral-quality rule. Any clip_id accepted; undecodable rows
    get ok=false, zero/null metrics — flag, never crash."""
    out = {
        "clip_id": pdf["clip_id"], "ok": [], "n_bins": [], "n_harmonic": [],
        "snr_log2": [], "snr_ok": [], "bw_hz": [], "narrowband": [], "keep": [],
    }
    for buf, sr, codec in zip(pdf["bytes"], pdf["sr_hz"], pdf["codec"]):
        sr = None if pd.isna(sr) else int(sr)
        pcm = decode(buf, codec) if sr and sr > 0 else None
        ok = pcm is not None
        n_bins, n_harm, snr_log2, snr_ok, bw_bin, narrow = spectral_metrics(pcm)
        out["ok"].append(ok)
        out["n_bins"].append(n_bins)
        out["n_harmonic"].append(n_harm)
        out["snr_log2"].append(snr_log2)
        out["snr_ok"].append(snr_ok)
        out["bw_hz"].append(bw_bin_to_hz(bw_bin, sr) if ok else None)
        out["narrowband"].append(narrow)
        out["keep"].append(ok and snr_ok and not narrow)
    for c in ("n_bins", "n_harmonic", "snr_log2", "bw_hz"):
        out[c] = pd.array(out[c], dtype="Int32")
    return pd.DataFrame(out)


def _rate_pdf(
    pdf: pd.DataFrame, frame_ms: int = FRAME_MS, active_db: float = ACTIVE_DB
) -> pd.DataFrame:
    """One pandas batch of clips -> speaking-rate sanity batch.

    active_ms is the TOTAL voiced time (n_active VAD frames x frame_ms),
    not the trim span — pauses inside the clip do not inflate the implied
    characters-per-second. All-integer metrics; rate_keep is the integer
    cross-multiplied CPS window (core/spectral.py speaking_rate_keep)."""
    out = {
        "clip_id": pdf["clip_id"], "ok": [], "n_chars": [], "active_ms": [],
        "rate_keep": [],
    }
    for buf, sr, codec, tr in zip(
        pdf["bytes"], pdf["sr_hz"], pdf["codec"], pdf["transcript"]
    ):
        sr = None if pd.isna(sr) else int(sr)
        pcm = decode(buf, codec) if sr and sr > 0 else None
        ok = pcm is not None
        _, _, n_active, _, _, _ = vad_metrics(
            pcm, sr if ok else 0, frame_ms=frame_ms, active_db=active_db
        )
        n_chars = 0 if tr is None or pd.isna(tr) else len(str(tr).strip())
        active_ms = n_active * frame_ms if ok else None
        out["ok"].append(ok)
        out["n_chars"].append(n_chars)
        out["active_ms"].append(active_ms)
        out["rate_keep"].append(speaking_rate_keep(n_chars, active_ms))
    for c in ("n_chars", "active_ms"):
        out[c] = pd.array(out[c], dtype="Int32")
    return pd.DataFrame(out)


def _trim_pdf(
    pdf: pd.DataFrame, frame_ms: int, active_db: float, digest: bool
) -> pd.DataFrame:
    """One pandas batch of clips -> silence-trimmed batch (or digest batch).

    The trim is a BYTE-level cut at the VAD boundaries (every codec has a
    fixed itemsize), never a decode->re-encode round trip — the kept span is
    bit-identical to the source, lossless for every codec including the
    companded ones. Rows with no active frames (or undecodable) pass through
    byte-identical with trimmed=false; the table stays complete for lineage.
    """
    out_bytes, out_dur, trimmed = [], [], []
    for buf, sr, dur, codec in zip(
        pdf["bytes"], pdf["sr_hz"], pdf["dur_ms"], pdf["codec"]
    ):
        sr = None if pd.isna(sr) else int(sr)
        pcm = decode(buf, codec) if sr and sr > 0 else None
        if pcm is None:
            out_bytes.append(buf)
            out_dur.append(None if pd.isna(dur) else int(dur))
            trimmed.append(False)
            continue
        span = active_span_samples(pcm, sr, frame_ms, active_db)
        if span is None:
            out_bytes.append(buf)
            out_dur.append(None if pd.isna(dur) else int(dur))
            trimmed.append(False)
            continue
        lo, hi = span
        isz = ITEMSIZE[codec]
        out_bytes.append(bytes(buf[lo * isz : hi * isz]))
        out_dur.append(int(round((hi - lo) / sr * 1000.0)))
        trimmed.append(lo > 0 or hi < pcm.size)
    dur_arr = pd.array(out_dur, dtype="Int32")
    if digest:
        return pd.DataFrame(
            {
                "clip_id": pdf["clip_id"],
                "trimmed": trimmed,
                "dur_ms": dur_arr,
                "payload_md5": [
                    None if b is None else hashlib.md5(b).hexdigest()
                    for b in out_bytes
                ],
            }
        )
    return pd.DataFrame(
        {
            "clip_id": pdf["clip_id"],
            "bytes": out_bytes,
            "sr_hz": pdf["sr_hz"],
            "dur_ms": dur_arr,
            "codec": pdf["codec"],
            "transcript": pdf["transcript"],
            "trimmed": trimmed,
        }
    )


def _normalize_pdf(
    pdf: pd.DataFrame, target_peak: float, digest: bool
) -> pd.DataFrame:
    """One pandas batch of clips -> peak-normalized batch (or digest batch).

    gain = target_peak / max|x| applied in float64, re-encoded in the
    SOURCE codec (the prep step before resample/feature extraction levels
    loudness without changing the storage format). Exactly-representable
    target + IEEE division/multiply = host-portable digests. Silent
    (peak == 0) and undecodable rows pass through byte-identical with
    normalized=false — flag, never crash; the table stays complete."""
    out_bytes, normalized = [], []
    for buf, sr, codec in zip(pdf["bytes"], pdf["sr_hz"], pdf["codec"]):
        sr = None if pd.isna(sr) else int(sr)
        pcm = decode(buf, codec) if sr and sr > 0 else None
        if pcm is None:
            out_bytes.append(buf)
            normalized.append(False)
            continue
        peak = float(np.max(np.abs(pcm)))
        if peak <= 0.0:
            out_bytes.append(buf)
            normalized.append(False)
            continue
        out_bytes.append(encode(pcm * (target_peak / peak), codec))
        normalized.append(True)
    if digest:
        return pd.DataFrame(
            {
                "clip_id": pdf["clip_id"],
                "normalized": normalized,
                "payload_md5": [
                    None if b is None else hashlib.md5(b).hexdigest()
                    for b in out_bytes
                ],
            }
        )
    return pd.DataFrame(
        {
            "clip_id": pdf["clip_id"],
            "bytes": out_bytes,
            "sr_hz": pdf["sr_hz"],
            "dur_ms": pdf["dur_ms"],
            "codec": pdf["codec"],
            "transcript": pdf["transcript"],
            "normalized": normalized,
        }
    )

SEGMENT_DIGEST_DDL = (
    "clip_id string, seg_idx int, start_ms int, dur_ms int, ok boolean, "
    "payload_md5 string"
)


def _segment_pdf(
    pdf: pd.DataFrame,
    seg_ms: int,
    hop_ms: int,
    frame_ms: int,
    active_db: float,
    digest: bool,
) -> pd.DataFrame:
    """One pandas batch of clips -> fixed-length training windows.

    Within each clip's VAD-active span, windows of seg_ms are cut every
    hop_ms (overlap when hop < seg) as BYTE slices of the encoded payload
    (fixed itemsize per codec — bit-identical to the source, lossless even
    for companded codecs, the q44 trim construction). The trailing
    remainder shorter than seg_ms is dropped — unless NO full window fits,
    in which case the whole active span is emitted as the single segment 0
    (short utterances are kept, not discarded). Undecodable / no-active-
    span rows emit one passthrough row (ok=false, seg_idx null) so the
    table stays complete for lineage."""
    cols = {
        "clip_id": [], "seg_idx": [], "start_ms": [], "dur_ms": [],
        "ok": [], "sr_hz": [], "codec": [], "bytes": [],
    }

    def _push(cid, idx, start_ms, dur, ok, sr, codec, buf):
        cols["clip_id"].append(cid)
        cols["seg_idx"].append(idx)
        cols["start_ms"].append(start_ms)
        cols["dur_ms"].append(dur)
        cols["ok"].append(ok)
        cols["sr_hz"].append(sr)
        cols["codec"].append(codec)
        cols["bytes"].append(buf)

    for cid, buf, sr, dur, codec in zip(
        pdf["clip_id"], pdf["bytes"], pdf["sr_hz"], pdf["dur_ms"], pdf["codec"]
    ):
        sr = None if pd.isna(sr) else int(sr)
        pcm = decode(buf, codec) if sr and sr > 0 else None
        span = (
            active_span_samples(pcm, sr, frame_ms, active_db)
            if pcm is not None
            else None
        )
        if span is None:
            _push(cid, None, None, None if pd.isna(dur) else int(dur),
                  False, sr, codec, buf)
            continue
        lo, hi = span
        seg = max(1, sr * seg_ms // 1000)
        hop = max(1, sr * hop_ms // 1000)
        isz = ITEMSIZE[codec]
        starts = list(range(lo, hi - seg + 1, hop))
        if not starts:
            # active span shorter than one window: keep it whole
            _push(cid, 0, lo * 1000 // sr, (hi - lo) * 1000 // sr, True,
                  sr, codec, bytes(buf[lo * isz : hi * isz]))
            continue
        for i, s in enumerate(starts):
            _push(cid, i, s * 1000 // sr, seg * 1000 // sr, True,
                  sr, codec, bytes(buf[s * isz : (s + seg) * isz]))
    for k in ("seg_idx", "start_ms", "dur_ms", "sr_hz"):
        cols[k] = pd.array(cols[k], dtype="Int32")
    if digest:
        return pd.DataFrame(
            {
                "clip_id": cols["clip_id"],
                "seg_idx": cols["seg_idx"],
                "start_ms": cols["start_ms"],
                "dur_ms": cols["dur_ms"],
                "ok": cols["ok"],
                "payload_md5": [
                    None if b is None else hashlib.md5(b).hexdigest()
                    for b in cols["bytes"]
                ],
            }
        )
    return pd.DataFrame(cols)


# Kaldi's standard 3-way speed-perturbation schedule: 0.9x / 1.0x / 1.1x,
# expressed as exact integer rationals so the resample ratio (and therefore
# the digests) carries no float rounding of the factor itself
SPEED_FACTORS = ((9, 10), (10, 10), (11, 10))

SPEED_DIGEST_DDL = (
    "clip_id string, f_num int, f_den int, sp_ok boolean, sr_hz int, "
    "dur_ms int, payload_md5 string"
)


def _speed_pdf(
    pdf: pd.DataFrame,
    factors: tuple[tuple[int, int], ...],
    codec_out: str,
    digest: bool,
) -> pd.DataFrame:
    """One pandas batch of clips -> len(factors) rows per clip: the clip
    played back at num/den of its original speed (the Kaldi sp-augmentation
    construction: y[j] = x(f*j), i.e. resample with rate ratio num:den and
    keep the ORIGINAL sample-rate label, shifting both tempo and pitch by
    f). factor (1,1) short-circuits inside the resample kernel to a plain
    decode -> re-encode, so the identity lane doubles as the re-encode
    baseline. Undecodable rows emit one passthrough row per factor with
    sp_ok=false — the augmented table keeps the full lineage."""
    cols = {
        "clip_id": [], "f_num": [], "f_den": [], "sp_ok": [], "sr_hz": [],
        "dur_ms": [], "bytes": [], "codec": [], "transcript": [],
    }
    for cid, buf, sr, dur, codec, tr in zip(
        pdf["clip_id"], pdf["bytes"], pdf["sr_hz"], pdf["dur_ms"],
        pdf["codec"], pdf["transcript"],
    ):
        sr = None if pd.isna(sr) else int(sr)
        pcm = decode(buf, codec) if sr and sr > 0 else None
        for num, den in factors:
            cols["clip_id"].append(cid)
            cols["f_num"].append(num)
            cols["f_den"].append(den)
            cols["sr_hz"].append(sr)
            cols["transcript"].append(tr)
            if pcm is None:
                cols["sp_ok"].append(False)
                cols["dur_ms"].append(None if pd.isna(dur) else int(dur))
                cols["bytes"].append(buf)
                cols["codec"].append(codec)
                continue
            # ratio num:den IS the speed factor — the absolute rates cancel
            y = resample(pcm, num, den)
            cols["sp_ok"].append(True)
            cols["dur_ms"].append(int(y.size * 1000) // int(sr))
            cols["bytes"].append(encode(y, codec_out))
            cols["codec"].append(codec_out)
    for k in ("f_num", "f_den", "sr_hz", "dur_ms"):
        cols[k] = pd.array(cols[k], dtype="Int32")
    if digest:
        return pd.DataFrame(
            {
                "clip_id": cols["clip_id"],
                "f_num": cols["f_num"],
                "f_den": cols["f_den"],
                "sp_ok": cols["sp_ok"],
                "sr_hz": cols["sr_hz"],
                "dur_ms": cols["dur_ms"],
                "payload_md5": [
                    None if b is None else hashlib.md5(b).hexdigest()
                    for b in cols["bytes"]
                ],
            }
        )
    return pd.DataFrame(cols)

NOISED_DIGEST_DDL = "clip_id string, augmented boolean, payload_md5 string"


def _noise_pdf(pdf: pd.DataFrame, snr_db: int, digest: bool) -> pd.DataFrame:
    """One pandas batch of clips -> noise-augmented batch (or digest batch).

    Additive white noise at an exact target SNR (core/resample.py
    add_noise: Philox stream keyed by md5(clip_id) — deterministic per
    clip, independent across clips), re-encoded in the clip's OWN codec
    like the q50 normalize lane. Silent and undecodable rows pass through
    byte-identical with augmented=false."""
    out_bytes, augmented = [], []
    for cid, buf, sr, codec in zip(
        pdf["clip_id"], pdf["bytes"], pdf["sr_hz"], pdf["codec"]
    ):
        sr = None if pd.isna(sr) else int(sr)
        pcm = decode(buf, codec) if sr and sr > 0 else None
        y = add_noise(pcm, str(cid), snr_db) if pcm is not None else None
        if y is None:
            out_bytes.append(buf)
            augmented.append(False)
            continue
        out_bytes.append(encode(y, codec))
        augmented.append(True)
    if digest:
        return pd.DataFrame(
            {
                "clip_id": pdf["clip_id"],
                "augmented": augmented,
                "payload_md5": [
                    None if b is None else hashlib.md5(b).hexdigest()
                    for b in out_bytes
                ],
            }
        )
    return pd.DataFrame(
        {
            "clip_id": pdf["clip_id"],
            "bytes": out_bytes,
            "sr_hz": pdf["sr_hz"],
            "dur_ms": pdf["dur_ms"],
            "codec": pdf["codec"],
            "transcript": pdf["transcript"],
            "augmented": augmented,
        }
    )


# tempo-perturbation schedule: 0.9x / 1.1x (no identity lane — WSOLA's
# overlap-add is not a bit-identity at rate 1, so the lane would be a
# misleading "augmentation"; q54's identity lane already covers re-encode)
TEMPO_FACTORS = ((9, 10), (11, 10))

TEMPO_DIGEST_DDL = (
    "clip_id string, f_num int, f_den int, tp_ok boolean, sr_hz int, "
    "dur_ms int, payload_md5 string"
)


def _tempo_pdf(
    pdf: pd.DataFrame,
    factors: tuple[tuple[int, int], ...],
    codec_out: str,
    digest: bool,
    kernel=None,
) -> pd.DataFrame:
    """One pandas batch of clips -> len(factors) tempo-perturbed rows per
    clip (WSOLA: tempo shifts, pitch does NOT — the complement of
    _speed_pdf). Undecodable or too-short rows emit one passthrough row
    per factor with tp_ok=false.

    `kernel(pcm, num, den) -> pcm | None` defaults to wsola; the pitch
    lane (q84) passes core.resample.pitch_shift — same row contract, so
    the whole fan-out/passthrough/digest scaffolding is shared."""
    if kernel is None:
        kernel = wsola
    cols = {
        "clip_id": [], "f_num": [], "f_den": [], "tp_ok": [], "sr_hz": [],
        "dur_ms": [], "bytes": [], "codec": [], "transcript": [],
    }
    for cid, buf, sr, dur, codec, tr in zip(
        pdf["clip_id"], pdf["bytes"], pdf["sr_hz"], pdf["dur_ms"],
        pdf["codec"], pdf["transcript"],
    ):
        sr = None if pd.isna(sr) else int(sr)
        pcm = decode(buf, codec) if sr and sr > 0 else None
        for num, den in factors:
            y = kernel(pcm, num, den) if pcm is not None else None
            cols["clip_id"].append(cid)
            cols["f_num"].append(num)
            cols["f_den"].append(den)
            cols["sr_hz"].append(sr)
            cols["transcript"].append(tr)
            if y is None:
                cols["tp_ok"].append(False)
                cols["dur_ms"].append(None if pd.isna(dur) else int(dur))
                cols["bytes"].append(buf)
                cols["codec"].append(codec)
                continue
            cols["tp_ok"].append(True)
            cols["dur_ms"].append(int(y.size * 1000) // int(sr))
            cols["bytes"].append(encode(y, codec_out))
            cols["codec"].append(codec_out)
    for k in ("f_num", "f_den", "sr_hz", "dur_ms"):
        cols[k] = pd.array(cols[k], dtype="Int32")
    if digest:
        return pd.DataFrame(
            {
                "clip_id": cols["clip_id"],
                "f_num": cols["f_num"],
                "f_den": cols["f_den"],
                "tp_ok": cols["tp_ok"],
                "sr_hz": cols["sr_hz"],
                "dur_ms": cols["dur_ms"],
                "payload_md5": [
                    None if b is None else hashlib.md5(b).hexdigest()
                    for b in cols["bytes"]
                ],
            }
        )
    return pd.DataFrame(cols)


# ------------------------------------------------------------- the scans

def resample_digest_scan(
    spark: SparkSession, input_dir: str, target_sr: int,
    mode: str = "sinc", codec_out: str = "pcm16",
) -> DataFrame:
    """Normalize every decodable clip to target_sr, re-encoded as codec_out,
    and emit the payload md5 (q36). Undecodable rows pass through
    byte-identical with resample_ok=false — the table stays complete for
    lineage; already-at-rate clips are still re-encoded, so the output is
    homogeneous (one codec)."""
    return manifest_scan(
        spark,
        input_dir,
        lambda pdf: _resample_pdf(pdf, target_sr, mode, codec_out, True),
        RESAMPLED_DIGEST_DDL,
    )


def trim_digest_scan(
    spark: SparkSession, input_dir: str,
    frame_ms: int = FRAME_MS, active_db: float = ACTIVE_DB,
) -> DataFrame:
    """Silence-trim every decodable clip to its VAD-active span (a lossless
    byte cut in the original codec) and emit the payload md5 (q44)."""
    return manifest_scan(
        spark,
        input_dir,
        lambda pdf: _trim_pdf(pdf, frame_ms, active_db, True),
        TRIMMED_DIGEST_DDL,
    )


def vad_trim_scan(
    spark: SparkSession, input_dir: str,
    frame_ms: int = FRAME_MS, active_db: float = ACTIVE_DB,
) -> DataFrame:
    """Per-clip voice-activity / trim / clipping quality metrics (q41); keep
    is the composite audio-quality rule (core/vad.py vad_keep). Kernel-bound
    (decode + one framed-energy pass)."""
    return manifest_scan(
        spark,
        input_dir,
        lambda pdf: _vad_pdf(pdf, frame_ms, active_db),
        VAD_DDL,
        columns=["clip_id", "bytes", "sr_hz", "codec"],
    )


def spectral_quality_scan(spark: SparkSession, input_dir: str) -> DataFrame:
    """Per-clip spectral SNR estimate + effective-bandwidth quality filter
    (q46); keep is the composite spectral rule. FFT-kernel bound."""
    return manifest_scan(
        spark,
        input_dir,
        _spectral_pdf,
        SPECTRAL_DDL,
        columns=["clip_id", "bytes", "sr_hz", "codec"],
    )


def speaking_rate_scan(
    spark: SparkSession, input_dir: str,
    frame_ms: int = FRAME_MS, active_db: float = ACTIVE_DB,
) -> DataFrame:
    """Per-clip transcript-vs-audio speaking-rate sanity filter (q47):
    implied characters per second over the VAD-active time must land in
    the plausible window. Kernel-bound (decode + one framed-energy pass)."""
    return manifest_scan(
        spark,
        input_dir,
        lambda pdf: _rate_pdf(pdf, frame_ms, active_db),
        RATE_DDL,
        columns=["clip_id", "bytes", "sr_hz", "codec", "transcript"],
    )


def normalize_digest_scan(
    spark: SparkSession, input_dir: str, target_peak: float = NORM_TARGET_PEAK
) -> DataFrame:
    """Peak-normalize every decodable clip to target_peak in its own codec
    and emit the payload md5 (q50) — the loudness-levelling step between
    ingest and featurization."""
    return manifest_scan(
        spark,
        input_dir,
        lambda pdf: _normalize_pdf(pdf, target_peak, True),
        NORMALIZED_DIGEST_DDL,
    )


def segment_digest_scan(
    spark: SparkSession,
    input_dir: str,
    seg_ms: int = 1000,
    hop_ms: int = 500,
    frame_ms: int = FRAME_MS,
    active_db: float = ACTIVE_DB,
) -> DataFrame:
    """Fixed-length training-window segmentation (q55), one digest row per
    segment. The row fan-out happens inside the batch, whatever the
    per-clip segment count."""
    return manifest_scan(
        spark,
        input_dir,
        lambda pdf: _segment_pdf(pdf, seg_ms, hop_ms, frame_ms, active_db, True),
        SEGMENT_DIGEST_DDL,
    )


def speed_digest_scan(
    spark: SparkSession,
    input_dir: str,
    factors: tuple[tuple[int, int], ...] = SPEED_FACTORS,
    codec_out: str = "pcm16",
) -> DataFrame:
    """Speed-perturbation augmentation (q54): one input clip ->
    len(factors) digest rows, fanned out inside the batch. Kernel-bound."""
    return manifest_scan(
        spark,
        input_dir,
        lambda pdf: _speed_pdf(pdf, factors, codec_out, True),
        SPEED_DIGEST_DDL,
    )


def logmel_digest_scan(
    spark: SparkSession, input_dir: str,
    n_fft: int = 512, hop: int = 256, n_mels: int = 40,
) -> DataFrame:
    """Per-clip log-mel spectrogram, emitted as the bit-exact md5 of its
    little-endian float64 bytes (q37): ok=false for undecodable payloads,
    n_frames=0 for clips shorter than one FFT window."""
    return manifest_scan(
        spark,
        input_dir,
        lambda pdf: _logmel_pdf(pdf, n_fft, hop, n_mels, True),
        LOGMEL_DIGEST_DDL,
    )


def mfcc_digest_scan(
    spark: SparkSession, input_dir: str,
    n_fft: int = 512, hop: int = 256, n_mels: int = 40, n_mfcc: int = 13,
) -> DataFrame:
    """MFCC + delta + delta-delta features as a digest (q160). The cepstral
    transform and both regression deltas are per clip, so the chain needs
    no corpus pass — FFT+DCT kernel bound like q36/q37."""
    return manifest_scan(
        spark,
        input_dir,
        lambda pdf: _mfcc_pdf(pdf, n_fft, hop, n_mels, n_mfcc, True),
        MFCC_DIGEST_DDL,
    )


def specaug_digest_scan(
    spark: SparkSession, input_dir: str,
    n_fft: int = 512, hop: int = 256, n_mels: int = 40,
) -> DataFrame:
    """SpecAugment-masked CMVN log-mel features as a digest (q57)."""
    return manifest_scan(
        spark,
        input_dir,
        lambda pdf: _specaug_pdf(pdf, n_fft, hop, n_mels, True),
        LOGMEL_DIGEST_DDL,
    )


def noise_digest_scan(
    spark: SparkSession, input_dir: str, snr_db: int = 10
) -> DataFrame:
    """Additive-noise augmentation at an exact SNR, as payload digests
    (q63)."""
    return manifest_scan(
        spark,
        input_dir,
        lambda pdf: _noise_pdf(pdf, snr_db, True),
        NOISED_DIGEST_DDL,
    )


def tempo_digest_scan(
    spark: SparkSession,
    input_dir: str,
    factors: tuple[tuple[int, int], ...] = TEMPO_FACTORS,
    codec_out: str = "pcm16",
) -> DataFrame:
    """WSOLA tempo perturbation (q64): len(factors) digest rows per clip,
    fanned out inside the batch."""
    return manifest_scan(
        spark,
        input_dir,
        lambda pdf: _tempo_pdf(pdf, factors, codec_out, True),
        TEMPO_DIGEST_DDL,
    )


PITCH_FACTORS = ((9, 8), (8, 9))  # ~+/-2 semitones

PITCH_DIGEST_DDL = (
    "clip_id string, f_num int, f_den int, ps_ok boolean, sr_hz int, "
    "dur_ms int, payload_md5 string"
)


def _pitch_pdf(
    pdf: pd.DataFrame,
    factors: tuple[tuple[int, int], ...],
    codec_out: str,
    digest: bool,
) -> pd.DataFrame:
    """One pandas batch of clips -> len(factors) pitch-shifted rows per
    clip (resample+WSOLA composition: pitch shifts, tempo does NOT — the
    third prosody axis beside _speed_pdf and _tempo_pdf). Same row
    contract as _tempo_pdf via the shared scaffolding."""
    out = _tempo_pdf(pdf, factors, codec_out, digest, kernel=pitch_shift)
    return out.rename(columns={"tp_ok": "ps_ok"})


def pitch_digest_scan(
    spark: SparkSession,
    input_dir: str,
    factors: tuple[tuple[int, int], ...] = PITCH_FACTORS,
    codec_out: str = "pcm16",
) -> DataFrame:
    """Pitch perturbation (q84): len(factors) digest rows per clip, fanned
    out inside the batch."""
    return manifest_scan(
        spark,
        input_dir,
        lambda pdf: _pitch_pdf(pdf, factors, codec_out, True),
        PITCH_DIGEST_DDL,
    )


def cmvn_digest_scan(
    spark: SparkSession, input_dir: str,
    n_fft: int = 512, hop: int = 256, n_mels: int = 40,
) -> DataFrame:
    """Per-utterance-CMVN log-mel features as a digest (q56). The
    normalization is per clip, so the chain needs no corpus pass."""
    return manifest_scan(
        spark,
        input_dir,
        lambda pdf: _cmvn_pdf(pdf, n_fft, hop, n_mels, True),
        LOGMEL_DIGEST_DDL,
    )


REVERB_DIGEST_DDL = NOISED_DIGEST_DDL


def _reverb_pdf(pdf: pd.DataFrame, tail_ms: int, digest: bool) -> pd.DataFrame:
    """One pandas batch of clips -> reverberated batch (or digest batch).

    RIR convolution (core/resample.reverb: a deterministic synthetic room
    impulse response from a Philox stream keyed by md5(clip_id), direct
    path + early reflections + exponentially decaying tail, convolved via
    the same deterministic pocketfft the log-mel fixtures pin), re-encoded
    in the clip's OWN codec like the q50/q63 lanes. Undecodable rows pass
    through byte-identical with augmented=false."""
    from ..core.resample import reverb

    out_bytes, augmented = [], []
    for cid, buf, sr, codec in zip(
        pdf["clip_id"], pdf["bytes"], pdf["sr_hz"], pdf["codec"]
    ):
        sr = None if pd.isna(sr) else int(sr)
        pcm = decode(buf, codec) if sr and sr > 0 else None
        y = reverb(pcm, str(cid), sr, tail_ms) if pcm is not None else None
        if y is None:
            out_bytes.append(buf)
            augmented.append(False)
            continue
        out_bytes.append(encode(y, codec))
        augmented.append(True)
    if digest:
        return pd.DataFrame(
            {
                "clip_id": pdf["clip_id"],
                "augmented": augmented,
                "payload_md5": [
                    None if b is None else hashlib.md5(b).hexdigest()
                    for b in out_bytes
                ],
            }
        )
    return pd.DataFrame(
        {
            "clip_id": pdf["clip_id"],
            "bytes": out_bytes,
            "sr_hz": pdf["sr_hz"],
            "dur_ms": pdf["dur_ms"],
            "codec": pdf["codec"],
            "transcript": pdf["transcript"],
            "augmented": augmented,
        }
    )


def reverb_digest_scan(
    spark: SparkSession, input_dir: str, tail_ms: int = 200
) -> DataFrame:
    """Reverberation augmentation as payload digests (q71)."""
    return manifest_scan(
        spark,
        input_dir,
        lambda pdf: _reverb_pdf(pdf, tail_ms, True),
        REVERB_DIGEST_DDL,
    )


TRANSCODE_DIGEST_DDL = "clip_id string, codec_out string, transcoded boolean, payload_md5 string"


def _transcode_pdf(pdf: pd.DataFrame, codec_out: str, digest: bool) -> pd.DataFrame:
    """One pandas batch of clips -> codec-normalized batch (or digest batch).

    Ingest-side codec normalization: decode whatever arrives (pcm16/pcm8/
    float32/mulaw/alaw) and re-encode in ONE canonical codec, so every
    downstream stage sees uniform samples. Rows already in the target codec
    pass through BYTE-IDENTICAL (no decode->re-encode round trip — lossy
    for companded codecs and pointless for exact ones); undecodable rows
    pass through with transcoded=false."""
    out_bytes, transcoded, codecs = [], [], []
    for buf, sr, codec in zip(pdf["bytes"], pdf["sr_hz"], pdf["codec"]):
        sr = None if pd.isna(sr) else int(sr)
        if codec == codec_out:
            out_bytes.append(buf)
            transcoded.append(False)
            codecs.append(codec)
            continue
        pcm = decode(buf, codec) if sr and sr > 0 else None
        if pcm is None:
            out_bytes.append(buf)
            transcoded.append(False)
            codecs.append(codec)
            continue
        out_bytes.append(encode(pcm, codec_out))
        transcoded.append(True)
        codecs.append(codec_out)
    if digest:
        return pd.DataFrame(
            {
                "clip_id": pdf["clip_id"],
                "codec_out": codecs,
                "transcoded": transcoded,
                "payload_md5": [
                    None if b is None else hashlib.md5(b).hexdigest()
                    for b in out_bytes
                ],
            }
        )
    return pd.DataFrame(
        {
            "clip_id": pdf["clip_id"],
            "bytes": out_bytes,
            "sr_hz": pdf["sr_hz"],
            "dur_ms": pdf["dur_ms"],
            "codec": codecs,
            "transcript": pdf["transcript"],
            "transcoded": transcoded,
        }
    )


def transcode_digest_scan(
    spark: SparkSession, input_dir: str, codec_out: str = "pcm16"
) -> DataFrame:
    """Codec normalization as payload digests (q78). Byte-bound
    (decode+requantize, no DSP kernel)."""
    return manifest_scan(
        spark,
        input_dir,
        lambda pdf: _transcode_pdf(pdf, codec_out, True),
        TRANSCODE_DIGEST_DDL,
    )


AUG_ROUTES = ("noise", "reverb", "speed", "tempo", "pitch")

AUG_ROUTE_DIGEST_DDL = "clip_id string, aug string, ok boolean, payload_md5 string"


def default_aug_route(clip_id: str) -> int:
    """crc32-based route for arbitrary clip ids (the default — the q85
    registration routes by datagen index instead so the fixture oracle can
    reproduce the routing in SQL)."""
    return zlib.crc32(clip_id.encode("utf-8")) % len(AUG_ROUTES)


def _aug_route_pdf(
    pdf: pd.DataFrame, route_fn, snr_db: int, tail_ms: int
) -> pd.DataFrame:
    """One pandas batch of clips -> one digest row per clip, augmented by
    the ONE lane its route selects. Row-wise kernels make sub-batch
    dispatch safe (batch invariance is pinned per lane by the per-lane
    suites), so the router costs one kernel call per present lane, not
    one pass per lane over the whole batch."""
    routes = np.fromiter(
        (route_fn(c) for c in pdf["clip_id"]), dtype=np.int64, count=len(pdf)
    )
    # normalize so an out-of-range route (a caller's % 6 typo, a -1 for
    # unparseable ids) folds onto a lane instead of silently DROPPING the
    # clip — the contract is one output row per input row, always
    routes %= len(AUG_ROUTES)

    def norm(df: pd.DataFrame, aug: str, flag: str) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "clip_id": df["clip_id"].to_numpy(),
                "aug": aug,
                "ok": df[flag].to_numpy(),
                "payload_md5": df["payload_md5"].to_numpy(),
            }
        )

    lanes = (
        ("noise", lambda s: _noise_pdf(s, snr_db, True), "augmented"),
        ("reverb", lambda s: _reverb_pdf(s, tail_ms, True), "augmented"),
        ("speed", lambda s: _speed_pdf(s, ((11, 10),), "pcm16", True), "sp_ok"),
        ("tempo", lambda s: _tempo_pdf(s, ((11, 10),), "pcm16", True), "tp_ok"),
        ("pitch", lambda s: _pitch_pdf(s, ((9, 8),), "pcm16", True), "ps_ok"),
    )
    parts = []
    for r, (aug, fn, flag) in enumerate(lanes):
        sub = pdf[routes == r]
        if len(sub):
            parts.append(norm(fn(sub), aug, flag))
    if not parts:
        return pd.DataFrame(
            {
                "clip_id": pd.Series(dtype="object"),
                "aug": pd.Series(dtype="object"),
                "ok": pd.Series(dtype="bool"),
                "payload_md5": pd.Series(dtype="object"),
            }
        )
    return pd.concat(parts, ignore_index=True)


def augment_route_digest_scan(
    spark: SparkSession,
    input_dir: str,
    route_fn=default_aug_route,
    snr_db: int = 10,
    tail_ms: int = 200,
) -> DataFrame:
    """Deterministic augmentation-policy router (q85): each clip receives
    exactly ONE of the five augmentations (noise/reverb/speed/tempo/pitch)
    chosen by `route_fn(clip_id)` — the "augment a slice of the corpus,
    evenly across policies" pattern, composed from the five deterministic
    lanes. One decode per clip, one kernel by route, digest out."""
    return manifest_scan(
        spark,
        input_dir,
        lambda pdf: _aug_route_pdf(pdf, route_fn, snr_db, tail_ms),
        AUG_ROUTE_DIGEST_DDL,
    )


# ------------------------------------------------------------- overlap mix

MIXED_DIGEST_DDL = "clip_id string, ovl_id string, mixed boolean, payload_md5 string"

MIXED_DDL = (
    "clip_id string, ovl_id string, mixed boolean, bytes binary, sr_hz int, "
    "dur_ms int, codec string, transcript string"
)


def _mix_pdf(pdf: pd.DataFrame, sir_db: int, digest: bool) -> pd.DataFrame:
    """One pandas batch of JOINED (base, overlay) clip pairs -> mixed batch.

    Speech-overlap augmentation at an exact target SIR (core/resample.py
    mix_overlay): the overlay is resampled to the base rate when needed,
    fitted to the base length, scaled, added, and re-encoded in the BASE
    clip's codec. Pairs where either side is undecodable or silent pass
    the base through byte-identical with mixed=false."""
    from ..core.resample import mix_overlay

    out_bytes, mixed = [], []
    for buf, sr, codec, obuf, osr, ocodec in zip(
        pdf["bytes"], pdf["sr_hz"], pdf["codec"],
        pdf["ovl_bytes"], pdf["ovl_sr"], pdf["ovl_codec"],
    ):
        sr = None if pd.isna(sr) else int(sr)
        osr = None if pd.isna(osr) else int(osr)
        pcm = decode(buf, codec) if sr and sr > 0 else None
        opcm = decode(obuf, ocodec) if osr and osr > 0 else None
        y = (
            mix_overlay(pcm, sr, opcm, osr, sir_db)
            if pcm is not None and opcm is not None
            else None
        )
        if y is None:
            out_bytes.append(buf)
            mixed.append(False)
            continue
        out_bytes.append(encode(y, codec))
        mixed.append(True)
    if digest:
        return pd.DataFrame(
            {
                "clip_id": pdf["clip_id"],
                "ovl_id": pdf["ovl_id"],
                "mixed": mixed,
                "payload_md5": [
                    None if b is None else hashlib.md5(b).hexdigest()
                    for b in out_bytes
                ],
            }
        )
    return pd.DataFrame(
        {
            "clip_id": pdf["clip_id"],
            "ovl_id": pdf["ovl_id"],
            "mixed": mixed,
            "bytes": out_bytes,
            "sr_hz": pdf["sr_hz"],
            "dur_ms": pdf["dur_ms"],
            "codec": pdf["codec"],
            "transcript": pdf["transcript"],
        }
    )


def mix_overlay_clips(
    base: DataFrame,
    overlay: DataFrame,
    on: str = "pair_id",
    sir_db: int = 10,
    digest: bool = False,
) -> DataFrame:
    """Pairwise overlap-mix: each base clip is mixed with the overlay clip
    sharing its `on` key, at an exact target SIR (digest=True is the q89
    verification mode).

    This is the ONE augmentation lane whose input is a pair of payloads,
    so unlike every narrow-map lane (q54/q63/q64/q71/q84) it cannot be
    shuffle-free: both sides hash-partition on the pair key and the
    overlay payload crosses the wire exactly once into the equi-join; the
    kernel then runs Arrow-batched over the joined rows. At 10^12 clips
    the two sides are written bucketed on the pair key (tables.TableLayer
    write_bucketed, the q82 store convention) and the join is
    zero-exchange; pairing policy is the caller's (the registered query
    pairs index i with i + N/2 so the oracle can reproduce it).

    Because each JOINED row carries TWO payloads (~0.7 MB avg on the
    pinned table, multi-MB tail), the Arrow batch is bounded harder than
    the single-payload lanes' ARROW_BATCH — at the default 10,000-row
    batches a vanilla-heap driver session dies in the JVM->Python
    transfer before the kernel sees a byte."""
    from pyspark.sql import functions as F

    b = base.select(
        F.col(on).alias("_p"),
        "clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript",
    )
    o = overlay.select(
        F.col(on).alias("_p"),
        F.col("clip_id").alias("ovl_id"),
        F.col("bytes").alias("ovl_bytes"),
        F.col("sr_hz").alias("ovl_sr"),
        F.col("codec").alias("ovl_codec"),
    )
    joined = b.join(o, "_p").drop("_p")
    conf = base.sparkSession.conf
    conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "32")
    # the JVM vectorized parquet reader sizes its column vectors by ROWS
    # (default 4096): on a multi-hundred-KB binary column that is a
    # multi-GB on-heap spike per task. Bound it the same way the Arrow
    # batch is bounded — this lane is the only one that scans payloads
    # through the JVM (every narrow lane reads worker-side via pyarrow).
    conf.set("spark.sql.parquet.columnarReaderBatchSize", "64")

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _mix_pdf(pdf, sir_db, digest)

    return joined.mapInPandas(_run, schema=MIXED_DIGEST_DDL if digest else MIXED_DDL)


# ----------------------------------------------------------- xcorr alignment

ALIGN_DDL = "clip_id string, ok boolean, true_lag int, est_lag int, hit boolean"
PAIR_ALIGN_DDL = "clip_id string, probe_id string, ok boolean, lag int"

ALIGN_MAX_LAG = 512
_ALIGN_GAIN = 0.6


def _plant_lag(clip_id: str) -> int:
    """Deterministic planted offset for ANY clip id (crc32, never an index
    parse — the q38 clip_id-shape defect class is designed out)."""
    import zlib

    return 16 + zlib.crc32(str(clip_id).encode("utf-8")) % 300


def _align_pdf(pdf: pd.DataFrame, max_lag: int) -> pd.DataFrame:
    """Planted-probe alignment: per clip, build the probe IN the kernel
    (zeros(d) prepended + gain 0.6 — a delayed, attenuated re-record) and
    recover d with the FFT cross-correlator. est == planted proves the
    estimator end-to-end; undecodable rows flag ok=false, never raise."""
    from ..core.audio import decode
    from ..core.spectral import xcorr_lag

    out = {"clip_id": [], "ok": [], "true_lag": [], "est_lag": [], "hit": []}
    for r in pdf.itertuples(index=False):
        cid = r.clip_id
        sr = None if pd.isna(r.sr_hz) else int(r.sr_hz)
        pcm = decode(r.bytes, r.codec) if sr and sr > 0 else None
        out["clip_id"].append(cid)
        if pcm is None or len(pcm) == 0:
            out["ok"].append(False)
            out["true_lag"].append(None)
            out["est_lag"].append(None)
            out["hit"].append(False)
            continue
        d = _plant_lag(cid)
        probe = np.concatenate([np.zeros(d, dtype=np.float64), _ALIGN_GAIN * pcm])
        est, _ = xcorr_lag(pcm, probe, max_lag)
        out["ok"].append(True)
        out["true_lag"].append(d)
        out["est_lag"].append(est)
        out["hit"].append(est == d)
    df = pd.DataFrame(out)
    df["true_lag"] = df["true_lag"].astype("Int32")
    df["est_lag"] = df["est_lag"].astype("Int32")
    return df


def align_digest_scan(
    spark: SparkSession, input_dir: str, max_lag: int = ALIGN_MAX_LAG
) -> DataFrame:
    """Planted-probe alignment over a parquet directory via the fused
    manifest scan (q156's verification path) — FFT-kernel bound."""
    return manifest_scan(
        spark,
        input_dir,
        lambda pdf: _align_pdf(pdf, max_lag),
        ALIGN_DDL,
        columns=["clip_id", "bytes", "sr_hz", "codec"],
    )


def xcorr_align_clips(
    base: DataFrame, probe: DataFrame, on: str = "pair_id", max_lag: int = ALIGN_MAX_LAG
) -> DataFrame:
    """General pairwise alignment: for each (base, probe) pair sharing the
    `on` key, the integer lag in [0, max_lag] at which the probe payload
    best matches the base (FFT cross-correlation, core/spectral.xcorr_lag)
    — the primitive under duplicate-with-delay detection and rough
    transcript/audio re-sync.

    Join shape is mix_overlay_clips' exactly: two payloads per joined row,
    both sides hash-partitioned on the pair key (bucketed at 10^12 —
    zero-exchange), Arrow batches bounded to 32 rows for the dual-payload
    transfer. Works on ARBITRARY clip ids (no index parsing)."""
    from pyspark.sql import functions as F

    b = base.select(
        F.col(on).alias("_p"), "clip_id", "bytes", "sr_hz", "codec"
    )
    p = probe.select(
        F.col(on).alias("_p"),
        F.col("clip_id").alias("probe_id"),
        F.col("bytes").alias("probe_bytes"),
        F.col("sr_hz").alias("probe_sr"),
        F.col("codec").alias("probe_codec"),
    )
    joined = b.join(p, "_p").drop("_p")
    conf = base.sparkSession.conf
    conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "32")

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..core.audio import decode
        from ..core.spectral import xcorr_lag

        for pdf in batches:
            out = {"clip_id": [], "probe_id": [], "ok": [], "lag": []}
            for r in pdf.itertuples(index=False):
                sr = None if pd.isna(r.sr_hz) else int(r.sr_hz)
                psr = None if pd.isna(r.probe_sr) else int(r.probe_sr)
                x = decode(r.bytes, r.codec) if sr and sr > 0 else None
                y = decode(r.probe_bytes, r.probe_codec) if psr and psr > 0 else None
                out["clip_id"].append(r.clip_id)
                out["probe_id"].append(r.probe_id)
                if x is None or y is None or len(x) == 0 or len(y) == 0:
                    out["ok"].append(False)
                    out["lag"].append(None)
                else:
                    out["ok"].append(True)
                    out["lag"].append(xcorr_lag(x, y, max_lag)[0])
            df = pd.DataFrame(out)
            df["lag"] = df["lag"].astype("Int32")
            yield df

    return joined.mapInPandas(_run, schema=PAIR_ALIGN_DDL)


PITCH_STATS_DDL = (
    "clip_id string, ok boolean, n_frames int, n_voiced int, voiced_pct int, "
    "med_lag int, f0_hz int"
)


def _pitch_stats_pdf(pdf: pd.DataFrame) -> pd.DataFrame:
    """One pandas batch of clips -> pitch/voicing prosody stats batch
    (core/pitch.pitch_stats; all-integer metrics). Undecodable rows emit
    ok=False with zeroed stats."""
    from ..core.pitch import pitch_stats

    oks, nfs, nvs, vps, mls, f0s = [], [], [], [], [], []
    for buf, sr, codec in zip(pdf["bytes"], pdf["sr_hz"], pdf["codec"]):
        sr = None if pd.isna(sr) else int(sr)
        pcm = decode(buf, codec) if sr and sr > 0 else None
        if pcm is None or pcm.size == 0:
            oks.append(False)
            nfs.append(0); nvs.append(0); vps.append(0); mls.append(0); f0s.append(0)
            continue
        st = pitch_stats(pcm, int(sr))
        oks.append(True)
        nfs.append(st["n_frames"]); nvs.append(st["n_voiced"])
        vps.append(st["voiced_pct"]); mls.append(st["med_lag"]); f0s.append(st["f0_hz"])
    return pd.DataFrame(
        {
            "clip_id": pdf["clip_id"],
            "ok": oks,
            "n_frames": pd.array(nfs, dtype="Int32"),
            "n_voiced": pd.array(nvs, dtype="Int32"),
            "voiced_pct": pd.array(vps, dtype="Int32"),
            "med_lag": pd.array(mls, dtype="Int32"),
            "f0_hz": pd.array(f0s, dtype="Int32"),
        }
    )


def pitch_stats_scan(spark: SparkSession, input_dir: str) -> DataFrame:
    """Per-clip autocorrelation pitch/voicing prosody statistics (q164) —
    the TTS-curation features next to VAD (q41) and spectral quality
    (q46): voiced fraction, median F0 lag, integer Hz. FFT-kernel bound."""
    return manifest_scan(
        spark,
        input_dir,
        _pitch_stats_pdf,
        PITCH_STATS_DDL,
        columns=["clip_id", "bytes", "sr_hz", "codec"],
    )


INTEG_DDL = (
    "clip_id string, ok boolean, n_samples int, max_zero_run int, "
    "max_rep_run int, dropout boolean, stuck boolean, keep boolean"
)

INTEG_AUG_MIN_MS = 120  # plant only when the clip holds both artifacts


def _integrity_pdf(pdf: pd.DataFrame, aug_every: int) -> pd.DataFrame:
    """One pandas batch of clips -> sample-integrity audit batch
    (core/integrity.integrity_metrics; all-integer metrics), plus planted
    corrupted co_ variants for every aug_every-th datagen clip (q166's
    ground truth). The default (aug_every=0) accepts ARBITRARY
    clip ids — the q38-family contract."""
    from ..core.integrity import corrupted_variant, integrity_metrics
    from .audio_fp import clip_index

    cols = ("n_samples", "max_zero_run", "max_rep_run", "dropout", "stuck", "keep")
    out = {c: [] for c in ("clip_id", "ok") + cols}

    def _emit(cid, ok, m):
        out["clip_id"].append(cid)
        out["ok"].append(ok)
        for c in cols:
            out[c].append(m[c] if m else (0 if c in cols[:3] else False))

    for cid, buf, sr, codec in zip(pdf["clip_id"], pdf["bytes"], pdf["sr_hz"], pdf["codec"]):
        sr = None if pd.isna(sr) else int(sr)
        pcm = decode(buf, codec) if sr and sr > 0 else None
        if pcm is None or pcm.size == 0:
            _emit(cid, False, None)
            continue
        _emit(cid, True, integrity_metrics(pcm, sr))
        if (
            aug_every
            and clip_index(cid) % aug_every == 0
            and pcm.size * 1000 >= INTEG_AUG_MIN_MS * sr
        ):
            i = clip_index(cid)
            y = corrupted_variant(pcm, sr, cid)
            _emit(f"co_{i:012d}", True, integrity_metrics(y, sr))
    df = pd.DataFrame(out)
    for c in ("n_samples", "max_zero_run", "max_rep_run"):
        df[c] = df[c].astype("int32")
    return df


def integrity_scan(spark: SparkSession, input_dir: str, aug_every: int = 0) -> DataFrame:
    """Per-clip sample-integrity audit (q166): dropout / stuck-sample run
    lengths and the rate-independent keep verdict. Decode-bound."""
    return manifest_scan(
        spark,
        input_dir,
        lambda pdf: _integrity_pdf(pdf, aug_every),
        INTEG_DDL,
        columns=["clip_id", "bytes", "sr_hz", "codec"],
    )


GATE_DDL = (
    "clip_id string, ok boolean, vad_keep boolean, spectral_keep boolean, "
    "rate_keep boolean, integrity_keep boolean, text_keep boolean, keep boolean"
)


def _quality_gate_pdf(pdf: pd.DataFrame) -> pd.DataFrame:
    """One pandas batch of clips -> the FUSED five-lane quality verdict:
    ONE decode per clip feeds the VAD keep (q41 semantics, -20 dBFS floor),
    the spectral SNR/bandwidth keep (q46), the speaking-rate keep (q47),
    the sample-integrity keep (q166) and the transcript-compressibility
    keep (q163); keep = decodable AND all five. Each lane calls the SAME
    shared kernel its committed fixture used, so the q167 oracle is a pure
    JOIN of the four lane fixtures — fusion changes the pass structure,
    never a value."""
    from ..core.integrity import integrity_metrics
    from ..core.text import compress_keep, compress_metrics
    from ..core.vad import Q41_ACTIVE_DB

    out = {
        "clip_id": pdf["clip_id"], "ok": [], "vad_keep": [], "spectral_keep": [],
        "rate_keep": [], "integrity_keep": [], "text_keep": [], "keep": [],
    }
    for buf, sr, codec, tr in zip(
        pdf["bytes"], pdf["sr_hz"], pdf["codec"], pdf["transcript"]
    ):
        sr = None if pd.isna(sr) else int(sr)
        pcm = decode(buf, codec) if sr and sr > 0 else None
        ok = pcm is not None
        ns, nf, na, t0, t1, nc = vad_metrics(
            pcm, sr if ok else 0, active_db=Q41_ACTIVE_DB
        )
        vkeep = vad_keep(ok, ns, nf, na, nc)
        _, _, _, snr_ok, _, narrow = spectral_metrics(pcm)
        skeep = ok and snr_ok and not narrow
        _, _, n_active35, _, _, _ = vad_metrics(pcm, sr if ok else 0)
        n_chars = 0 if tr is None or pd.isna(tr) else len(str(tr).strip())
        active_ms = n_active35 * FRAME_MS if ok else None
        rkeep = speaking_rate_keep(n_chars, active_ms)
        ikeep = bool(integrity_metrics(pcm, sr)["keep"]) if ok else False
        tkeep = compress_keep(*compress_metrics(None if tr is None or pd.isna(tr) else str(tr)))[2]
        out["ok"].append(ok)
        out["vad_keep"].append(vkeep)
        out["spectral_keep"].append(skeep)
        out["rate_keep"].append(rkeep)
        out["integrity_keep"].append(ikeep)
        out["text_keep"].append(tkeep)
        out["keep"].append(ok and vkeep and skeep and rkeep and ikeep and tkeep)
    return pd.DataFrame(out)


def quality_gate_scan(spark: SparkSession, input_dir: str) -> DataFrame:
    """Fused five-lane audio+text quality gate (q167): the one-stop keep
    decision with per-lane attribution. At 10^12 clips the decode pass is
    the dominant cost, and this operator pays it ONCE for five verdicts
    instead of five times — the fusion you actually run in production, with
    the per-lane queries (q41/q46/q47/q163/q166) as its audited
    components."""
    return manifest_scan(
        spark,
        input_dir,
        _quality_gate_pdf,
        GATE_DDL,
        columns=["clip_id", "bytes", "sr_hz", "codec", "transcript"],
    )


ELEC_DDL = (
    "clip_id string, ok boolean, n_frames int, hum_log2 int, hum boolean, "
    "dc_log2 int, dc boolean, keep boolean"
)

ELEC_AUG_MIN_MS = 400  # plant only when the clip holds >= 2 hum frames


def _electrical_pdf(pdf: pd.DataFrame, aug_every: int) -> pd.DataFrame:
    """One pandas batch of clips -> electrical-defect audit batch
    (core/electrical.electrical_metrics: mains-hum band power + DC offset,
    integer log2 bands), plus planted el_ variants (50/60 Hz square hum at
    rms/2 + rms/8 offset) for every aug_every-th datagen clip — q170's
    ground truth. The default (aug_every=0) accepts ARBITRARY
    clip ids — the q38-family contract."""
    from ..core.electrical import electrical_metrics, electrical_variant
    from .audio_fp import clip_index

    cols = ("n_frames", "hum_log2", "hum", "dc_log2", "dc", "keep")
    out = {c: [] for c in ("clip_id", "ok") + cols}

    def _emit(cid, ok, m):
        out["clip_id"].append(cid)
        out["ok"].append(ok)
        for c in cols:
            out[c].append(m[c])

    for cid, buf, sr, codec in zip(pdf["clip_id"], pdf["bytes"], pdf["sr_hz"], pdf["codec"]):
        sr = None if pd.isna(sr) else int(sr)
        pcm = decode(buf, codec) if sr and sr > 0 else None
        ok = pcm is not None and pcm.size > 0
        _emit(cid, ok, electrical_metrics(pcm if ok else None, sr))
        if (
            aug_every
            and ok
            and clip_index(cid) % aug_every == 0
            and pcm.size * 1000 >= ELEC_AUG_MIN_MS * sr
        ):
            y = electrical_variant(pcm, sr, cid)
            if y is not None:
                i = clip_index(cid)
                _emit(f"el_{i:012d}", True, electrical_metrics(y, sr))
    df = pd.DataFrame(out)
    for c in ("n_frames", "hum_log2", "dc_log2"):
        df[c] = pd.array(df[c], dtype="Int32")
    return df


def electrical_scan(spark: SparkSession, input_dir: str, aug_every: int = 0) -> DataFrame:
    """Per-clip electrical-defect audit (q170): mains-hum band ratio and
    DC-offset verdicts. Decode+FFT bound."""
    return manifest_scan(
        spark,
        input_dir,
        lambda pdf: _electrical_pdf(pdf, aug_every),
        ELEC_DDL,
        columns=["clip_id", "bytes", "sr_hz", "codec"],
    )


# ------------------------------------------------------- clipping audit

CLIPA_DDL = (
    "clip_id string, ok boolean, n_samples int, n_clipped int, "
    "n_clip_runs int, max_clip_run int, clip_log2 int, clipped boolean, "
    "keep boolean"
)


def _clipping_pdf(pdf: pd.DataFrame, aug_every: int) -> pd.DataFrame:
    """One pandas batch of clips -> clipping/saturation audit batch
    (core/clipping.clipping_metrics: exact decoded-domain saturation-bound
    equality classes, integer run/fraction verdicts), plus planted cl_
    hard-clip variants (amplitude-relative 8x/16x power-of-two overdrive)
    for every aug_every-th datagen clip — q171's ground truth. The
    default (aug_every=0) accepts ARBITRARY clip ids — the
    q38-family contract."""
    from ..core.clipping import clipping_metrics, clipping_variant
    from .audio_fp import clip_index

    cols = ("n_samples", "n_clipped", "n_clip_runs", "max_clip_run",
            "clip_log2", "clipped", "keep")
    out = {c: [] for c in ("clip_id", "ok") + cols}

    def _emit(cid, ok, m):
        out["clip_id"].append(cid)
        out["ok"].append(ok)
        for c in cols:
            out[c].append(m[c])

    for cid, buf, sr, codec in zip(pdf["clip_id"], pdf["bytes"], pdf["sr_hz"], pdf["codec"]):
        sr = None if pd.isna(sr) else int(sr)
        pcm = decode(buf, codec) if sr and sr > 0 else None
        ok = pcm is not None and pcm.size > 0
        _emit(cid, ok, clipping_metrics(pcm if ok else None, codec))
        if aug_every and ok and clip_index(cid) % aug_every == 0:
            y = clipping_variant(pcm, codec, cid)
            if y is not None:
                _emit(f"cl_{clip_index(cid):012d}", True, clipping_metrics(y, codec))
    df = pd.DataFrame(out)
    for c in ("n_samples", "n_clipped", "n_clip_runs", "max_clip_run"):
        df[c] = df[c].astype("int32")
    df["clip_log2"] = pd.array(df["clip_log2"], dtype="Int32")
    return df


def clipping_scan(spark: SparkSession, input_dir: str, aug_every: int = 0) -> DataFrame:
    """Per-clip clipping/saturation audit (q171): exact saturated-sample
    counts, flat-top run lengths and the two-axis keep verdict.
    Decode-bound."""
    return manifest_scan(
        spark,
        input_dir,
        lambda pdf: _clipping_pdf(pdf, aug_every),
        CLIPA_DDL,
        columns=["clip_id", "bytes", "sr_hz", "codec"],
    )


# ------------------------------------------------------ bit-depth audit

BITD_DDL = (
    "clip_id string, ok boolean, n_nonzero int, grid_gcd bigint, "
    "eff_bits int, nominal_bits int, depth_fraud boolean, keep boolean"
)


def _bitdepth_pdf(pdf: pd.DataFrame, aug_every: int) -> pd.DataFrame:
    """One pandas batch of clips -> effective-bit-depth audit batch
    (core/bitdepth.bitdepth_metrics: gcd of the decoded 16-bit-grid
    magnitudes, all-integer), plus planted bd_ bit-crush variants
    (id-hashed 6/4-bit power-of-two grids) for every aug_every-th datagen
    clip — q172's ground truth. The default (aug_every=0)
    accepts ARBITRARY clip ids — the q38-family contract."""
    from ..core.bitdepth import bitdepth_metrics, bitdepth_variant
    from .audio_fp import clip_index

    cols = ("n_nonzero", "grid_gcd", "eff_bits", "nominal_bits",
            "depth_fraud", "keep")
    out = {c: [] for c in ("clip_id", "ok") + cols}

    def _emit(cid, ok, m):
        out["clip_id"].append(cid)
        out["ok"].append(ok)
        for c in cols:
            out[c].append(m[c])

    for cid, buf, sr, codec in zip(pdf["clip_id"], pdf["bytes"], pdf["sr_hz"], pdf["codec"]):
        sr = None if pd.isna(sr) else int(sr)
        pcm = decode(buf, codec) if sr and sr > 0 else None
        ok = pcm is not None and pcm.size > 0
        _emit(cid, ok, bitdepth_metrics(pcm if ok else None, codec))
        if aug_every and ok and clip_index(cid) % aug_every == 0:
            y = bitdepth_variant(pcm, codec, cid)
            if y is not None:
                _emit(f"bd_{clip_index(cid):012d}", True, bitdepth_metrics(y, codec))
    df = pd.DataFrame(out)
    df["n_nonzero"] = df["n_nonzero"].astype("int32")
    df["grid_gcd"] = pd.array(df["grid_gcd"], dtype="Int64")
    for c in ("eff_bits", "nominal_bits"):
        df[c] = pd.array(df[c], dtype="Int32")
    return df


def bitdepth_scan(spark: SparkSession, input_dir: str, aug_every: int = 0) -> DataFrame:
    """Per-clip effective-bit-depth audit (q172): decoded-grid gcd,
    measured vs nominal depth and the fraud verdict. Decode-bound."""
    return manifest_scan(
        spark,
        input_dir,
        lambda pdf: _bitdepth_pdf(pdf, aug_every),
        BITD_DDL,
        columns=["clip_id", "bytes", "sr_hz", "codec"],
    )


# ------------------------------------------------------- looping audit

LOOPA_DDL = (
    "clip_id string, ok boolean, n_samples int, loop_k int, "
    "loop_period int, looped boolean, keep boolean"
)


def _looping_pdf(pdf: pd.DataFrame, aug_every: int) -> pd.DataFrame:
    """One pandas batch of clips -> looped-content audit batch
    (core/looping.looping_metrics: exact k-fold tiling equality, all-
    integer), plus planted lp_ tiled variants (id-hashed k in {2,3,4})
    for every aug_every-th datagen clip — q173's ground truth. The
    default (aug_every=0) accepts ARBITRARY clip ids — the
    q38-family contract."""
    from ..core.looping import looping_metrics, looping_variant
    from .audio_fp import clip_index

    cols = ("n_samples", "loop_k", "loop_period", "looped", "keep")
    out = {c: [] for c in ("clip_id", "ok") + cols}

    def _emit(cid, ok, m):
        out["clip_id"].append(cid)
        out["ok"].append(ok)
        for c in cols:
            out[c].append(m[c])

    for cid, buf, sr, codec in zip(pdf["clip_id"], pdf["bytes"], pdf["sr_hz"], pdf["codec"]):
        sr = None if pd.isna(sr) else int(sr)
        pcm = decode(buf, codec) if sr and sr > 0 else None
        ok = pcm is not None and pcm.size > 0
        _emit(cid, ok, looping_metrics(pcm if ok else None))
        if aug_every and ok and clip_index(cid) % aug_every == 0:
            y = looping_variant(pcm, cid)
            if y is not None:
                _emit(f"lp_{clip_index(cid):012d}", True, looping_metrics(y))
    df = pd.DataFrame(out)
    for c in ("n_samples", "loop_k"):
        df[c] = df[c].astype("int32")
    df["loop_period"] = pd.array(df["loop_period"], dtype="Int32")
    return df


def looping_scan(spark: SparkSession, input_dir: str, aug_every: int = 0) -> DataFrame:
    """Per-clip looped-content audit (q173): exact k-fold tiling detection.
    Decode-bound."""
    return manifest_scan(
        spark,
        input_dir,
        lambda pdf: _looping_pdf(pdf, aug_every),
        LOOPA_DDL,
        columns=["clip_id", "bytes", "sr_hz", "codec"],
    )


# ----------------------------------------------- fused defect-audit gate

DEFECT_DDL = (
    "clip_id string, ok boolean, integrity_keep boolean, "
    "electrical_keep boolean, clipping_keep boolean, bitdepth_keep boolean, "
    "looping_keep boolean, keep boolean, drop_lane string"
)

# fixed audit order for first-failing-lane attribution (q168 convention)
DEFECT_LANES = ("integrity", "electrical", "clipping", "bitdepth", "looping")


def _defect_gate_pdf(pdf: pd.DataFrame) -> pd.DataFrame:
    """One pandas batch of clips -> the FUSED five-lane recording-defect
    verdict: ONE decode per clip feeds the integrity (q166), electrical
    (q170), clipping (q171), bit-depth (q172), and looping (q173) kernels —
    five audits for one pass over the bytes, the q167 fusion shape applied
    to the defect family. drop_lane charges each dropped clip to its FIRST
    failing lane in the fixed audit order (q168 convention); kept clips
    and undecodable rows carry null. Accepts ARBITRARY clip ids (no
    planting on the fused path — each lane's own query owns its plants)."""
    from ..core.bitdepth import bitdepth_metrics
    from ..core.clipping import clipping_metrics
    from ..core.electrical import electrical_metrics
    from ..core.integrity import integrity_metrics
    from ..core.looping import looping_metrics

    out = {c: [] for c in ("clip_id", "ok") + tuple(f"{l}_keep" for l in DEFECT_LANES)
           + ("keep", "drop_lane")}
    for cid, buf, sr, codec in zip(pdf["clip_id"], pdf["bytes"], pdf["sr_hz"], pdf["codec"]):
        sr = None if pd.isna(sr) else int(sr)
        pcm = decode(buf, codec) if sr and sr > 0 else None
        ok = pcm is not None and pcm.size > 0
        keeps = {
            "integrity": integrity_metrics(pcm, sr)["keep"] if ok else True,
            "electrical": electrical_metrics(pcm if ok else None, sr)["keep"],
            "clipping": clipping_metrics(pcm if ok else None, codec)["keep"],
            "bitdepth": bitdepth_metrics(pcm if ok else None, codec)["keep"],
            "looping": looping_metrics(pcm if ok else None)["keep"],
        }
        out["clip_id"].append(cid)
        out["ok"].append(ok)
        for lane in DEFECT_LANES:
            out[f"{lane}_keep"].append(keeps[lane])
        keep = all(keeps.values())
        out["keep"].append(keep)
        out["drop_lane"].append(
            None if keep else next(l for l in DEFECT_LANES if not keeps[l])
        )
    return pd.DataFrame(out)


def defect_gate_scan(spark: SparkSession, input_dir: str) -> DataFrame:
    """Fused five-lane defect gate (q174): five sample-domain audits off one
    decode, with first-failing-lane attribution."""
    return manifest_scan(
        spark,
        input_dir,
        _defect_gate_pdf,
        DEFECT_DDL,
        columns=["clip_id", "bytes", "sr_hz", "codec"],
    )


# ------------------------------------------------ transcript-reuse audit

REUSE_MIN_LEN = 20  # audit only substantive transcripts: short utterances
#                     ("yes", "okay") legitimately repeat across clips


def transcript_reuse(
    clips: DataFrame, plant_every: int = 0, min_len: int = REUSE_MIN_LEN
) -> DataFrame:
    """Cross-modal LABEL-REUSE audit: groups of clips sharing one
    substantive transcript verbatim. Two distinct failure stories split by
    the audio payload: n_distinct_audio == 1 is a true duplicate (the q20
    exact-dedup case seen from the label side), while n_distinct_audio >=
    2 means one transcript was attached to DIFFERENT recordings — label
    reuse from a broken scrape join or copy-paste annotation, which
    poisons supervised training twice (wrong label for at least one clip,
    and a spurious "easy" pair for contrastive objectives). Neither audio
    dedup (q38: same AUDIO) nor text dedup (q20/q21: documents) expresses
    this transcript-keyed, audio-distinguished group shape.

    Entirely JVM-native (md5 / crc32 / group-agg — no decode, no UDF):
    one shuffle on the transcript key with map-side partial aggregation;
    only groups with >= 2 clips are emitted (the audit's subjects).
    Measured on the pinned corpus: ZERO natural groups at min_len=20
    (short-transcript repeats are excluded by design), so every emitted
    row is ground truth.

    plant_every > 0 adds a deterministic tr_ label-reuse twin for every
    clip with crc32(clip_id) % plant_every == 0 (id-HASH selection — the
    q156 rule, arbitrary ids): same transcript, audio payload extended by
    one 0x00 byte (a different recording under the same label).

    Output (transcript_md5, n_clips, n_distinct_audio, mislabel,
    exact_dup) — strings/longs/booleans.
    """
    eligible = clips.filter(
        F.col("transcript").isNotNull() & (F.length("transcript") >= min_len)
    )
    rows = eligible.select(
        "clip_id", "transcript", F.md5(F.col("bytes")).alias("audio_md5")
    )
    if plant_every:
        plants = eligible.filter(
            F.pmod(F.crc32(F.col("clip_id").cast("binary")), F.lit(plant_every)) == 0
        ).select(
            F.concat(F.lit("tr_"), F.col("clip_id")).alias("clip_id"),
            "transcript",
            F.md5(F.concat(F.col("bytes"), F.lit(b"\x00"))).alias("audio_md5"),
        )
        rows = rows.unionAll(plants)
    return (
        rows.groupBy("transcript")
        .agg(
            F.count("*").alias("n_clips"),
            F.countDistinct("audio_md5").alias("n_distinct_audio"),
        )
        .filter(F.col("n_clips") >= 2)
        .select(
            F.md5(F.col("transcript").cast("binary")).alias("transcript_md5"),
            F.col("n_clips").cast("long").alias("n_clips"),
            F.col("n_distinct_audio").cast("long").alias("n_distinct_audio"),
            (F.col("n_distinct_audio") >= 2).alias("mislabel"),
            ((F.col("n_clips") >= 2) & (F.col("n_distinct_audio") == 1)).alias("exact_dup"),
        )
    )


# ------------------------------------------- corpus-level feature statistics

FEATURE_QSTATS_DDL = (
    "clip_id string, bin int, n_frames int, sum_q long, sumsq_q long"
)

GLOBAL_STATS_DDL = (
    "bin int, n_clips long, n_frames long, sum_q long, sumsq_q long"
)

CORPUS_CMVN_DIGEST_DDL = (
    "clip_id string, ok boolean, n_frames int, n_mels int, feats_md5 string"
)


def _feature_qstats_pdf(
    pdf: pd.DataFrame, n_fft: int, hop: int, n_mels: int
) -> pd.DataFrame:
    """One pandas batch of clips -> per-clip per-bin fixed-point log-mel
    partial statistics (core/resample.logmel_qstats). Undecodable and
    shorter-than-one-window clips contribute no rows — they carry no
    frames, so their absence IS their exact contribution."""
    from ..core.resample import logmel_qstats

    ids, bins, nfs, sums, sqs = [], [], [], [], []
    for cid, buf, sr, codec in zip(
        pdf["clip_id"], pdf["bytes"], pdf["sr_hz"], pdf["codec"]
    ):
        sr = None if pd.isna(sr) else int(sr)
        pcm = decode(buf, codec) if sr and sr > 0 else None
        if pcm is None:
            continue
        nf, sum_q, sumsq_q = logmel_qstats(
            pcm, sr, n_fft=n_fft, hop=hop, n_mels=n_mels
        )
        if nf == 0:
            continue
        ids.extend([cid] * n_mels)
        bins.extend(range(n_mels))
        nfs.extend([nf] * n_mels)
        sums.extend(sum_q.tolist())
        sqs.extend(sumsq_q.tolist())
    return pd.DataFrame(
        {
            "clip_id": ids,
            "bin": pd.array(bins, dtype="int32"),
            "n_frames": pd.array(nfs, dtype="int32"),
            "sum_q": pd.array(sums, dtype="int64"),
            "sumsq_q": pd.array(sqs, dtype="int64"),
        }
    )


def feature_qstats_scan(
    spark: SparkSession, input_dir: str,
    n_fft: int = 512, hop: int = 256, n_mels: int = 40,
) -> DataFrame:
    """Per-clip fixed-point feature-statistics partials over a parquet
    directory via the fused manifest scan (FFT-bound like q37). The
    fan-out to n_mels rows per clip happens inside the Arrow batch."""
    return manifest_scan(
        spark,
        input_dir,
        lambda pdf: _feature_qstats_pdf(pdf, n_fft, hop, n_mels),
        FEATURE_QSTATS_DDL,
        columns=["clip_id", "bytes", "sr_hz", "codec"],
    )


def global_feature_stats(
    spark: SparkSession, input_dir: str,
    n_fft: int = 512, hop: int = 256, n_mels: int = 40,
) -> DataFrame:
    """CORPUS-level log-mel statistics: per mel bin, the exact integer
    (n_clips, n_frames, sum_q, sumsq_q) over every decodable clip — the
    first pass of corpus CMVN (q56 normalizes per UTTERANCE; training
    recipes that share one normalization across the corpus need these
    global constants instead).

    Because the per-clip partials are already integers (fixed-point
    quantization in core/resample.logmel_qstats), the groupBy sum is
    EXACT and order-independent — a float sum here would differ run to
    run with the shuffle schedule and could never be oracle-checked.
    Scale shape: narrow decode scan -> ONE map-side-combinable groupBy
    on the bin (n_mels groups) -> an n_mels-row result that broadcasts
    back for the apply pass. At ~10^9+ clips sumsq_q approaches int64
    range at this scale factor: widen the agg to decimal(38,0) — the
    quantized values themselves are unchanged."""
    parts = feature_qstats_scan(spark, input_dir, n_fft, hop, n_mels)
    return aggregate_feature_qstats(parts)


def aggregate_feature_qstats(parts: DataFrame) -> DataFrame:
    """The global reduce over per-clip q-stats partials
    (global_feature_stats and the corpus-CMVN apply pass). The partials
    are exact integers, so the sums are exact whatever the shuffle
    schedule, where float stats would drift from run to run."""
    return parts.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_clips"),
        F.sum("n_frames").cast("long").alias("n_frames"),
        F.sum("sum_q").cast("long").alias("sum_q"),
        F.sum("sumsq_q").cast("long").alias("sumsq_q"),
    )


def corpus_cmvn_digest_scan(
    spark: SparkSession, input_dir: str,
    n_fft: int = 512, hop: int = 256, n_mels: int = 40,
    stats_df: DataFrame | None = None,
) -> DataFrame:
    """Corpus-CMVN features, digest mode: pass 1 reduces the exact global
    statistics (n_mels rows — bounded METADATA, the one collect this
    operator makes), pass 2 re-decodes and normalizes every clip with the
    broadcast constants, hashing the float64 features in the same Arrow
    batch. Both engines derive (mean, istd) from identical integers with
    identical IEEE ops, so the digests are bit-exact (q183's oracle).

    At 10^12 clips this is the canonical two-pass normalization: a
    map-side-combined n_mels-row aggregate, a driver-side constant fold,
    and a second shuffle-free narrow map — no row-scale state anywhere."""
    import hashlib

    import numpy as np

    from ..core.resample import corpus_cmvn_apply, corpus_cmvn_constants

    if stats_df is None:
        stats_df = global_feature_stats(spark, input_dir, n_fft, hop, n_mels)
    stats = {r["bin"]: r for r in stats_df.collect()}
    n = int(stats[0]["n_frames"]) if stats else 0
    sum_q = np.array([stats[b]["sum_q"] for b in range(n_mels)], dtype=np.int64)
    sumsq_q = np.array([stats[b]["sumsq_q"] for b in range(n_mels)], dtype=np.int64)
    mean_q, istd_q = corpus_cmvn_constants(n, sum_q, sumsq_q)

    def _pdf(pdf: pd.DataFrame) -> pd.DataFrame:
        oks, nfs, digs = [], [], []
        for buf, sr, codec in zip(pdf["bytes"], pdf["sr_hz"], pdf["codec"]):
            sr = None if pd.isna(sr) else int(sr)
            pcm = decode(buf, codec) if sr and sr > 0 else None
            if pcm is None:
                oks.append(False)
                nfs.append(0)
                a = np.zeros((0, n_mels))
            else:
                a = corpus_cmvn_apply(
                    pcm, sr, mean_q, istd_q,
                    n_fft=n_fft, hop=hop, n_mels=n_mels,
                )
                oks.append(True)
                nfs.append(a.shape[0])
            digs.append(
                hashlib.md5(
                    np.ascontiguousarray(a.reshape(-1), dtype="<f8").tobytes()
                ).hexdigest()
            )
        return pd.DataFrame(
            {
                "clip_id": pdf["clip_id"],
                "ok": oks,
                "n_frames": pd.array(nfs, dtype="Int32"),
                "n_mels": pd.array([n_mels] * len(pdf), dtype="Int32"),
                "feats_md5": digs,
            }
        )

    return manifest_scan(
        spark,
        input_dir,
        _pdf,
        CORPUS_CMVN_DIGEST_DDL,
        columns=["clip_id", "bytes", "sr_hz", "codec"],
    )


FEATURE_DRIFT_TAU_Q = 200  # ~0.049 log10 units at the 2^12 fixed-point scale

FEATURE_DRIFT_DDL = (
    "bin int, n_a long, n_b long, sum_a long, sum_b long, "
    "diff_num long, drift boolean"
)


def feature_drift(
    spark: SparkSession, input_dir: str, tau_q: int = FEATURE_DRIFT_TAU_Q,
    n_fft: int = 512, hop: int = 256, n_mels: int = 40,
) -> DataFrame:
    """Per-bin feature DRIFT between two deterministic corpus halves — the
    audio-feature twin of the source-distribution drift probe (q123): if
    the halves were ingested by different pipelines/eras, a mean shift in
    any mel band flags a front-end change (resampler, codec mix, loudness)
    before it silently skews training.

    Split: half a <=> md5(clip_id) first hex nibble in 0-7 — defined for
    arbitrary ids, identical bytes in Spark (md5 of the UTF-8 cast) and
    DuckDB (md5 of VARCHAR). Verdict in EXACT integers on the fixed-point
    statistics: |mean_a - mean_b| > tau_q cross-multiplies to

        diff_num = |sum_a*n_b - sum_b*n_a| > tau_q * n_a * n_b

    so no float crosses the oracle boundary. Scale shape: the q182 narrow
    scan with one extra (half, bin) group key — 2*n_mels groups, map-side
    combined; the a-vs-b join is n_mels rows."""
    parts = feature_qstats_scan(spark, input_dir, n_fft, hop, n_mels)
    return feature_drift_from_parts(parts, tau_q)


def feature_drift_from_parts(
    parts: DataFrame, tau_q: int = FEATURE_DRIFT_TAU_Q
) -> DataFrame:
    """feature_drift over an existing per-clip q-stats partials frame —
    lets q182/q183/q184 share ONE kernel-bound stats scan per session."""
    halves = parts.withColumn(
        "half",
        F.when(
            F.substring(F.md5(F.col("clip_id").cast("binary")), 1, 1).isin(
                *"01234567"
            ),
            F.lit("a"),
        ).otherwise(F.lit("b")),
    ).groupBy("half", "bin").agg(
        F.sum("n_frames").cast("long").alias("n"),
        F.sum("sum_q").cast("long").alias("s"),
    )
    a = halves.filter(F.col("half") == "a").select(
        "bin", F.col("n").alias("n_a"), F.col("s").alias("sum_a")
    )
    b = halves.filter(F.col("half") == "b").select(
        "bin", F.col("n").alias("n_b"), F.col("s").alias("sum_b")
    )
    j = a.join(b, "bin")
    diff = F.abs(F.col("sum_a") * F.col("n_b") - F.col("sum_b") * F.col("n_a"))
    return j.select(
        "bin", "n_a", "n_b", "sum_a", "sum_b",
        diff.cast("long").alias("diff_num"),
        (diff > F.lit(tau_q) * F.col("n_a") * F.col("n_b")).alias("drift"),
    )
