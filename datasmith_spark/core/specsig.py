"""Spectral-signature kernel: speed/pitch-shift-ROBUST audio matching.

The last cell of the engine's audio near-duplicate robustness matrix:

  gain / requantization        -> exact HK keys        (q38, core/audio_fp.py)
  8-bit companding             -> Hamming-ball keys    (q40)
  time shift (delay/trim)      -> constellation        (q157/q158, core/landmark.py)
  SPEED / PITCH SHIFT          -> THIS kernel          (q159)

A resampling speed change (the Kaldi sp augmentation, q54: y[j] = x(f*j))
scales every frequency by f and every duration by 1/f — it moves every
fingerprint bit, every landmark frequency AND every landmark dt, so all
three prior lanes lose essentially everything at f as mild as 21/20. What
survives is the RATIO STRUCTURE of the clip's stationary spectral peaks:
if x has tones at (f1, f2, f3), the variant has (f·f1, f·f2, f·f3) — the
set is multiplied by one unknown constant. Matching is therefore:

  1. signature: the clip's tonal peak BINS from the time-averaged power
     spectrum (strict local maxima within SS_REL of the strongest, below
     the resampler transition band SS_BMAX) — a tiny array per clip.
  2. candidates: INTRA-clip integer ratio keys (SS_QR*b_i) // b_j for
     every ordered peak pair — scale-invariant by construction, so a
     speed variant shares keys with its source; +-1 key expansion absorbs
     bin-quantization noise (the q40 ball idea, radix 1 on a ratio grid).
  3. verify: an exhaustive integer RATE-HYPOTHESIS test over the <= k*k
     peak pairings r = a_i/b_j within the plausible speed band
     [SS_RMIN, SS_RMAX] = [4/5, 5/4]: a hypothesis holds iff every peak
     of each side is matched by the other within SS_TOL bins under r —
     EXCEPT peaks whose predicted image falls beyond the measurable band
     (a tone near Nyquist legitimately leaves the spectrum when sped up:
     rate-aware exemption, not a hard band cut, which is provably
     asymmetric) — with at least 2 actually-matched peaks. The returned
     hypothesis IS the recovered rate as an exact integer bin ratio.

Everything is integer comparisons over <= SS_MAXK-element int arrays, so
the Spark side evaluates it with native higher-order functions (no UDF)
and the DuckDB oracle re-derives it with list lambdas — byte-identical
semantics, no float anywhere downstream of the committed peak fixture.

Scope (documented, honest): clips need 2..SS_MAXK stable tonal peaks to
be matchable — a single tone sped up IS another pure tone (the problem is
ill-posed), and noise-dominated clips have no stable peaks (their local
maxima churn under any re-encode). The operator emits per-clip k so the
consumer can see which rows were in scope. Measured on the pinned corpus:
45/46 in-scope planted speed variants (rates 9/10..11/10, gain 0.8, pcm16
requant) are detected with the rate recovered exactly (the one miss loses
its second tone past the band edge at rate 11/10 — genuinely out of
band), zero verified pairs among unrelated clips.

Ancestry: the reference dedups rows via an exact seen-set
(/root/reference/src/datasmith/scrape/code_coverage.py:83-88); this is
the augmentation-robust analogue for the speed/pitch axis.

>>> import numpy as np
>>> sr = 16000
>>> t = np.arange(3 * sr) / sr
>>> x = 0.6 * np.sin(2 * np.pi * 500 * t) + 0.4 * np.sin(2 * np.pi * 1300 * t)
>>> pa = tone_peaks16(x)
>>> [round(b * sr / SS_NFFT) for b in pa]
[500, 1301]
>>> from .resample import resample
>>> y = resample(x, 11, 10)  # sped up 11/10: tones at 550 and 1430
>>> hyp = rate_hypothesis(pa, tone_peaks16(y))
>>> hyp is not None and abs(hyp[0] * 11 - 10 * hyp[1]) <= SS_TOL * 11
True
"""

from __future__ import annotations

import zlib

import numpy as np

from .audio import decode, encode

SS_NFFT = 4096  # 3.9 Hz/bin at 16 kHz: rate resolution ~ SS_TOL/bin
SS_REL = 256.0  # keep peaks within 24 dB of the strongest
SS_MAXK = 5  # > SS_MAXK peaks = noise-dominated, out of scope
SS_TOL = 2  # bin tolerance for peak correspondence
SS_BMAX = int(0.95 * (SS_NFFT // 2))  # resampler transition band excluded
SS_QR = 64  # ratio-key quantizer: key = (SS_QR*a) // b
SS_RMIN_N, SS_RMIN_D = 4, 5  # plausible speed band [0.8, 1.25]
SS_RMAX_N, SS_RMAX_D = 5, 4
SS_AUG_GAIN = 0.8  # planted-variant attenuation
SS_RATES = ((9, 10), (19, 20), (21, 20), (11, 10))  # planted speed factors


def plant_speed(clip_id: str) -> tuple[int, int]:
    """Deterministic planted speed factor (num, den) — an id-HASH, never
    an index parse, defined for arbitrary ids."""
    return SS_RATES[zlib.crc32((clip_id + "#sp").encode()) % len(SS_RATES)]


def tone_peaks16(x16: np.ndarray) -> list[int]:
    """Tonal peak bins of an LM_SR-domain head: strict 1-D local maxima of
    the time-averaged power spectrum (non-overlapping SS_NFFT frames,
    vectorized mean — the per-bin mean is order-fixed), within SS_REL of
    the strongest and below SS_BMAX. Sorted ascending. Gain-invariant
    (every comparison is homogeneous in the signal scale)."""
    x = np.asarray(x16, dtype=np.float64)
    n_frames = x.size // SS_NFFT
    if n_frames == 0:
        return []
    frames = x[: n_frames * SS_NFFT].reshape(n_frames, SS_NFFT)
    spec = np.fft.rfft(frames, axis=1)
    p = (spec.real**2 + spec.imag**2).mean(axis=0)
    m = np.zeros(p.size, dtype=bool)
    m[1:-1] = (p[1:-1] > p[:-2]) & (p[1:-1] > p[2:]) & (p[1:-1] > 0)
    m[SS_BMAX:] = False
    idx = np.nonzero(m)[0]
    if idx.size == 0:
        return []
    pm = p[idx].max()
    return sorted(int(b) for b in idx[p[idx] * SS_REL >= pm])


def rate_hypothesis(
    pa: list[int], pb: list[int], tol: int = SS_TOL
) -> tuple[int, int] | None:
    """The smallest (rate_num, rate_den) integer bin-ratio hypothesis under
    which the two peak sets correspond (see module docstring for the exact
    rule), or None. Reference implementation shared by the fixture script
    and the tests; operators/specsig.py evaluates the SAME rule with Spark
    higher-order functions and the oracle with DuckDB list lambdas."""
    best: tuple[int, int] | None = None
    for ai in pa:
        for bj in pb:
            # band check with `tol` bins of quantization slack, so factors
            # ON the band edge (e.g. exactly 5/4) stay claimable when bin
            # rounding nudges the measured ratio past the boundary
            if not (
                SS_RMIN_N * bj <= SS_RMIN_D * (ai + tol)
                and SS_RMAX_D * (ai - tol) <= SS_RMAX_N * bj
            ):
                continue
            matched = 0
            ok = True
            for a in pa:
                if any(abs(a * bj - ai * b) <= tol * bj for b in pb):
                    matched += 1
                elif a * bj <= (SS_BMAX - tol) * ai:
                    ok = False
                    break
            if not ok or matched < 2:
                continue
            for b in pb:
                if not any(abs(a * bj - ai * b) <= tol * ai for a in pa) and b * ai <= (
                    SS_BMAX - tol
                ) * bj:
                    ok = False
                    break
            if ok:
                cand = (ai, bj)
                if best is None or cand < best:
                    best = cand
    return best


def speed_variant16(x16: np.ndarray, clip_id: str) -> np.ndarray:
    """Deterministic SPEED near-duplicate of an LM_SR-domain head: the
    Kaldi sp construction at the id-hashed factor (resample by num:den —
    shifts tempo AND pitch), gain SS_AUG_GAIN, pcm16 requantization round
    trip — the augmentation class every aligned/constellation lane loses.
    Ground truth for q159."""
    from .resample import resample

    num, den = plant_speed(clip_id)
    y = SS_AUG_GAIN * resample(np.asarray(x16, dtype=np.float64), num, den)
    return decode(encode(y, "pcm16"), "pcm16")
