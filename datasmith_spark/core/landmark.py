"""Constellation-landmark audio fingerprint kernel (pure numpy).

SHIFT-INVARIANT audio near-duplicate detection. The engine's two existing
audio-dedup lanes key on frame-ALIGNED Haitsma-Kalker k-grams
(core/audio_fp.py): exact keys (q38) catch gain + fine requantization and
the Hamming-ball lane (q40) adds coarse companding — but both assume the
duplicate starts at the same sample. A re-upload with leading silence, a
trimmed intro, or a DJ-style delayed overlay shifts every analysis frame,
flips most fingerprint bits, and defeats both lanes. This kernel closes
that gap with the classic constellation construction (Wang, "An
Industrial-Strength Audio Search Algorithm", ISMIR 2003 — public
literature): spectrogram peaks ("landmarks") paired into combinatorial
(f1, f2, dt) hashes whose VALUES are independent of absolute time; a true
duplicate shows up as many shared hash values whose anchor-time differences
agree on one offset, so matching = equi-join on the hash + a vote on
t_dup - t_src (both relational, both oracle-expressible in SQL).

Determinism / portability design (same rules as core/audio_fp.py):

  * All analysis happens at LM_SR after the shared fixed-order Lanczos
    `resample`, through numpy's pocketfft `rfft` (the same FFT every
    committed audio fixture here already pins) with a fixed periodic Hann
    window — no BLAS, no library-version-dependent kernels.
  * Peak picking is per-frame-local only: strict 8-neighbour local maxima
    of the power spectrogram, top LM_PEAKS_PER_FRAME per frame ordered by
    (power desc, bin asc). No GLOBAL statistics — so prepending m*LM_HOP
    zero samples translates the constellation of frames >= 1 EXACTLY by m
    frames (zero frames have zero power and never out-compete a real
    peak), and a power-of-two gain rescales every power by an exact factor
    (float multiply by 2^k is error-free), leaving every comparison —
    hence every landmark — identical. tests/test_landmark.py asserts both
    properties exactly.
  * Hashes pack (f1, f2, dt) into one small int: equi-joinable in Spark
    (long column) and DuckDB (BIGINT) with no float anywhere downstream —
    the match stage's columns (votes, dt) are all integers, so the q157
    oracle needs no float-digest contract.

The planted ground truth (delayed_variant16) is the realistic composite the
aligned lanes cannot recover: an ARBITRARY-phase sample delay (plant_delay:
16 + crc32(id) % 1200 samples — deliberately not hop-aligned; q38's key
Jaccard measures ~0 there), gain LM_AUG_GAIN (0.6, deliberately not a
power of two), and a pcm16 requantization round-trip. A sub-hop phase
splits each landmark's vote between the two bracketing frame offsets, so
the matcher scores ADJACENT-offset pooled votes (votes[dt] + votes[dt+1]);
measured on the pinned corpus the weakest plant still pools 35 votes on
its true bracket while the strongest unrelated pair pools 16 — the margin
the operator thresholds inside (operators/landmark.py LM_MIN_VOTES).

Ancestry: the reference dedups rows via an exact seen-set over scraped keys
(/root/reference/src/datasmith/scrape/code_coverage.py:83-88); like
core/audio_fp.py this is the modality-aware analogue, extended to the
time-shifted duplicate class.

>>> import numpy as np
>>> sr = 16000
>>> t = np.arange(2 * sr) / sr
>>> x = np.sin(2 * np.pi * 440 * t) + 0.3 * np.sin(2 * np.pi * 1330 * t)
>>> hs = landmark_hashes16(x)
>>> len(hs) > 0 and all(h >= 0 and t0 >= 0 for h, t0 in hs)
True
>>> m = 7
>>> y = np.concatenate([np.zeros(m * LM_HOP), 0.5 * x])  # exact-gain delay
>>> base = {(h, t0) for h, t0 in hs if t0 >= 1}
>>> shifted = {(h, t0) for h, t0 in landmark_hashes16(y)}
>>> all((h, t0 + m) in shifted for h, t0 in base)
True
"""

from __future__ import annotations

import zlib

import numpy as np

from .audio import decode, encode
from .resample import add_noise

LM_SR = 16000  # common analysis rate (same as FP_SR): hashes comparable
LM_NFFT = 512
LM_HOP = 256
LM_MAX_S = 3.0  # landmark the clip head only: bounds cost + key count per row
LM_PEAKS_PER_FRAME = 3
LM_FANOUT = 3  # target-zone pairs per anchor peak
LM_DT_MAX = 63  # max anchor->target frame gap (6 bits in the hash)
LM_AUG_GAIN = 0.6  # planted-duplicate attenuation (not a power of two: robust path)
LM_PLANT_MIN_D = 16
LM_PLANT_MOD_D = 1200  # planted delay: 16 + crc32(id) % 1200 SAMPLES (any phase)

_HANN = 0.5 - 0.5 * np.cos(2.0 * np.pi * np.arange(LM_NFFT) / LM_NFFT)


def plant_delay(clip_id: str) -> int:
    """Deterministic planted delay in SAMPLES — an id-HASH, never an index
    parse (the q156 rule), so it is defined for arbitrary ids. Deliberately
    NOT hop-aligned: the modulus 1200 sweeps every sub-hop phase, the
    duplicate class where frame-aligned fingerprints lose ALL their keys
    (measured q38 key Jaccard ~0 at any non-hop-multiple delay) while the
    constellation still concentrates votes on the true offset's frame
    bracket."""
    return LM_PLANT_MIN_D + zlib.crc32(clip_id.encode()) % LM_PLANT_MOD_D


def spectrogram16(x16: np.ndarray) -> np.ndarray:
    """float PCM at LM_SR -> (n_frames, LM_NFFT//2+1) power spectrogram.

    Periodic-Hann windowed frames at LM_HOP through pocketfft rfft; power =
    re^2 + im^2 (no sqrt — monotone, so peak ordering is unaffected)."""
    x = np.asarray(x16, dtype=np.float64)
    n = x.size
    if n < LM_NFFT:
        return np.zeros((0, LM_NFFT // 2 + 1), dtype=np.float64)
    nf = 1 + (n - LM_NFFT) // LM_HOP
    idx = np.arange(LM_NFFT)[None, :] + LM_HOP * np.arange(nf)[:, None]
    spec = np.fft.rfft(x[idx] * _HANN, axis=1)
    return spec.real**2 + spec.imag**2


def landmark_peaks16(x16: np.ndarray) -> np.ndarray:
    """Constellation points: (k, 2) int32 array of (t_frame, f_bin), sorted
    by (t, f). A point is a STRICT 8-neighbour local max of the power
    spectrogram with power > 0 (out-of-range neighbours count as smaller),
    keeping the top LM_PEAKS_PER_FRAME per frame by (power desc, bin asc).
    Purely frame-local, hence exactly translation-equivariant (see module
    docstring)."""
    P = spectrogram16(x16)
    nf, nb = P.shape
    if nf == 0:
        return np.zeros((0, 2), dtype=np.int32)
    pad = np.full((nf + 2, nb + 2), -1.0)
    pad[1:-1, 1:-1] = P
    m = P > 0.0
    for dt in (-1, 0, 1):
        for df in (-1, 0, 1):
            if dt == 0 and df == 0:
                continue
            m &= P > pad[1 + dt : 1 + dt + nf, 1 + df : 1 + df + nb]
    ts, fs = np.nonzero(m)
    if ts.size == 0:
        return np.zeros((0, 2), dtype=np.int32)
    pw = P[ts, fs]
    order = np.lexsort((fs, -pw, ts))  # t asc, then power desc, then bin asc
    ts, fs = ts[order], fs[order]
    starts = np.searchsorted(ts, np.unique(ts))
    counts = np.diff(np.append(starts, ts.size))
    rank = np.arange(ts.size) - np.repeat(starts, counts)
    keep = rank < LM_PEAKS_PER_FRAME
    ts, fs = ts[keep], fs[keep]
    order = np.lexsort((fs, ts))
    return np.stack([ts[order], fs[order]], axis=1).astype(np.int32)


def landmark_hashes16(x16: np.ndarray) -> list[tuple[int, int]]:
    """Distinct (hash, t_anchor) landmark pairs, sorted.

    Each anchor peak (t1, f1) pairs with its first LM_FANOUT successors in
    (t, f) order with 1 <= t2 - t1 <= LM_DT_MAX; the hash packs
    (f1 << 15) | (f2 << 6) | dt — time-offset free, so the VALUE is shift
    invariant while the stored anchor time carries the offset evidence."""
    pk = landmark_peaks16(x16)
    n = pk.shape[0]
    out: set[tuple[int, int]] = set()
    for i in range(n):
        t1, f1 = int(pk[i, 0]), int(pk[i, 1])
        fan = 0
        for j in range(i + 1, n):
            dt = int(pk[j, 0]) - t1
            if dt < 1:
                continue
            if dt > LM_DT_MAX:
                break
            out.add(((f1 << 15) | (int(pk[j, 1]) << 6) | dt, t1))
            fan += 1
            if fan >= LM_FANOUT:
                break
    return sorted(out)


def delayed_variant16(x16: np.ndarray, delay_samples: int) -> np.ndarray:
    """Deterministic SHIFTED near-duplicate of an LM_SR-domain head: delay
    by `delay_samples` of leading silence (ANY phase, not hop-aligned),
    gain LM_AUG_GAIN, pcm16 requantization round-trip — the duplicate
    class the frame-aligned fingerprint lanes (q38/q40) cannot recover
    (their keys vanish at any non-hop-multiple delay). Ground truth for
    q157."""
    y = np.concatenate(
        [np.zeros(delay_samples, dtype=np.float64), LM_AUG_GAIN * np.asarray(x16, dtype=np.float64)]
    )
    return decode(encode(y, "pcm16"), "pcm16")


LM_NOISE_SNR_DB = 30  # planted-noise level (see noisy_variant16 docstring)


def noisy_variant16(x16: np.ndarray, clip_id: str) -> np.ndarray | None:
    """Deterministic NOISY near-duplicate of an LM_SR-domain head: additive
    white noise at exactly LM_NOISE_SNR_DB dB SNR (core/resample.add_noise —
    counter-based Philox keyed by the clip id, so seedless and idempotent),
    gain LM_AUG_GAIN, pcm16 requantization round-trip — the hiss-floor
    re-encode class (tape/preamp noise, low-bitrate codec dither). Ground
    truth for q161. Returns None for silent input (add_noise's contract:
    no signal to scale against).

    MEASURED robustness envelope on the pinned corpus (stop-hash 32,
    corpus-wide match): at 30 dB SNR every plant passes the UNCHANGED q157
    verdict with min pooled votes 146 (threshold 24) and min dominance
    12.17 (threshold 2.2), zero false pairs. At 20 dB SNR the separation
    COLLAPSES on this tonal corpus — stop-hash filtering removes wallpaper
    hashes that noise leaves intact while noise kills discriminative
    landmark pairs, compressing plants to min 14 votes vs 22 for the
    strongest unrelated pair — so 20 dB is outside this lane's envelope;
    the public technique beyond it is wider fanout + Hamming-tolerant hash
    lookup (Wang ISMIR 2003 §3.2 discusses the noise/landmark-density
    trade)."""
    y = add_noise(
        LM_AUG_GAIN * np.asarray(x16, dtype=np.float64),
        f"noise|{clip_id}",
        snr_db=LM_NOISE_SNR_DB,
    )
    if y is None:
        return None
    return decode(encode(y, "pcm16"), "pcm16")


SNIP_SAMPLES = LM_SR  # 1.0 s query snippet (the retrieval lane's probe)


def snippet_start(clip_id: str, n_avail: int) -> int:
    """Deterministic planted snippet start (samples) — an id-HASH over the
    clip's usable head length, any phase, never an index parse."""
    return zlib.crc32((clip_id + "#snip").encode()) % max(n_avail - SNIP_SAMPLES + 1, 1)


def snippet_variant16(x16: np.ndarray, clip_id: str) -> tuple[int, np.ndarray]:
    """Deterministic QUERY SNIPPET of an LM_SR-domain head: a 1-second cut
    from an id-hashed mid-clip position (any sub-hop phase), gain
    LM_AUG_GAIN, pcm16 requantization round-trip — the query-by-example
    probe the retrieval lane (q158) must locate inside its source. Returns
    (start_sample, snippet)."""
    s = snippet_start(clip_id, len(x16))
    y = LM_AUG_GAIN * np.asarray(x16[s : s + SNIP_SAMPLES], dtype=np.float64)
    return s, decode(encode(y, "pcm16"), "pcm16")
