"""Heuristic quality-rule constants + the pure-python evaluation kernel.

The thresholds and this python kernel are the single source of truth: the
Spark label kernel (datasmith_spark/operators/scan_decode.py) and the
single-process oracle both evaluate rule_reasons/decode_reasons, so they
agree exactly on every row (edge cases in tests/test_rules.py).

Ancestry: null-hostile boolean-mask filter
(/root/reference/src/datasmith/scrape/filter_dashboards.py:113-121, nulls fail
the predicate) + regex "core file" predicate
(/root/reference/scripts/filter_commits.py:46-81).
"""

from __future__ import annotations

import re

from .audio import ITEMSIZE

VALID_SR = (8000, 16000, 22050, 44100, 48000)
DUR_MIN_MS = 50
DUR_MAX_MS = 120_000
DUR_REL_TOL = 0.02          # |est_ms - dur_ms| / dur_ms tolerance
CPS_MIN = 2.0               # transcript chars per second of audio, lower band
CPS_MAX = 40.0              # upper band
REP_MIN_WORDS = 20          # repetition rule applies only to >= 20 words
REP_MAX_LAG = 4             # phrase lengths probed for adjacent-phrase repeats
REP_MATCH_MAX = 0.50        # max_p mean(w[i]==w[i-p]) above => repetition
SYMBOL_DENSITY_MAX = 0.25   # non-[A-Za-z0-9 ] chars / total chars
TOX_RATIO_MAX = 0.05        # scrub stage: tox hits / words above => drop

# decode-stage thresholds (audio feature sanity)
PEAK_MAX = 1.5              # float32 garbage => absurd amplitudes
RMS_MIN = 1e-4              # near-silence
FINITE_FRAC_MIN = 1.0       # any NaN/Inf sample => decode_error

# langid / perplexity stage thresholds
LANG_PROB_MIN = 0.80
# per-language ppl band is frozen into the model artifact (core/lm.py)

SYMBOL_RE = re.compile(r"[^A-Za-z0-9 ]")
WS_SPLIT_RE = re.compile(r"\s+")

# canonical stage names (lineage/metrics keys)
STAGE_RULES = "rules"
STAGE_DECODE = "decode"
STAGE_LANGID = "langid"
STAGE_PPL = "ppl"
STAGE_SCRUB = "scrub"
STAGES = (STAGE_RULES, STAGE_DECODE, STAGE_LANGID, STAGE_PPL, STAGE_SCRUB)


def repetition_score(words: list[str]) -> float:
    """max over lag p in [1, REP_MAX_LAG] of mean(words[i] == words[i-p]).

    Length-independent detector of adjacent-phrase repetition (a phrase of
    length p repeated back-to-back matches itself at lag p). Natural Zipf text
    scores ~ sum(p_word^2) << 0.5.

    >>> repetition_score(["buy"] * 10)          # lag-1 stutter
    1.0
    >>> repetition_score(["a", "b"] * 6)        # lag-2 phrase repeat
    1.0
    >>> repetition_score("the quick brown fox".split())
    0.0
    >>> repetition_score([])
    0.0
    """
    n = len(words)
    best = 0.0
    for p in range(1, REP_MAX_LAG + 1):
        if n - p <= 0:
            break
        m = sum(1 for i in range(p, n) if words[i] == words[i - p]) / (n - p)
        if m > best:
            best = m
    return best


def rule_reasons(
    codec: str | None,
    sr_hz: int | None,
    dur_ms: int | None,
    byte_len: int | None,
    transcript: str | None,
) -> list[str]:
    """Stage-R (native-expressible) drop reasons for one row.

    Null-hostile: missing values fail their predicate (reference
    filter_dashboards.py:113-119 semantics).

    A clean pcm16 row — 1 s at 16 kHz is 32,000 bytes, 11 chars/s is in the
    [CPS_MIN, CPS_MAX] band:

    >>> rule_reasons("pcm16", 16000, 1000, 32000, "hello world")
    []
    >>> rule_reasons("ogg", None, 10, 0, "  ")
    ['unknown_codec', 'empty_audio', 'bad_sr', 'bad_duration', 'empty_transcript']
    >>> rule_reasons("pcm16", 16000, 1000, 33000, "hello world")
    ['dur_mismatch']
    """
    reasons: list[str] = []
    itemsize = ITEMSIZE.get(codec or "")
    if itemsize is None:
        reasons.append("unknown_codec")
    if byte_len is None or byte_len == 0:
        reasons.append("empty_audio")
    elif itemsize is not None and byte_len % itemsize != 0:
        reasons.append("misaligned_audio")
    if sr_hz is None or sr_hz not in VALID_SR:
        reasons.append("bad_sr")
    if dur_ms is None or dur_ms < DUR_MIN_MS or dur_ms > DUR_MAX_MS:
        reasons.append("bad_duration")
    elif (
        itemsize is not None
        and byte_len is not None
        and byte_len > 0
        and byte_len % itemsize == 0
        and sr_hz is not None
        and sr_hz in VALID_SR
    ):
        est_ms = (byte_len / itemsize) / sr_hz * 1000.0
        if abs(est_ms - dur_ms) > DUR_REL_TOL * dur_ms:
            reasons.append("dur_mismatch")

    t = transcript or ""
    stripped = t.strip()
    if not stripped:
        reasons.append("empty_transcript")
    else:
        n_chars = len(t)
        if dur_ms is not None and dur_ms > 0:
            cps = n_chars / (dur_ms / 1000.0)
            if cps < CPS_MIN or cps > CPS_MAX:
                reasons.append("len_ratio")
        words = WS_SPLIT_RE.split(stripped)
        n_words = len(words)
        if n_words >= REP_MIN_WORDS and repetition_score(words) > REP_MATCH_MAX:
            reasons.append("repetition")
        if n_chars > 0 and len(SYMBOL_RE.findall(t)) / n_chars > SYMBOL_DENSITY_MAX:
            reasons.append("symbol_noise")
    return reasons


def decode_reasons(ok: bool, rms: float, peak: float, finite_frac: float) -> list[str]:
    """Stage-D drop reasons from decoded-audio features.

    >>> decode_reasons(True, 0.1, 0.5, 1.0)
    []
    >>> decode_reasons(False, 0.1, 0.5, 1.0)
    ['decode_error']
    >>> decode_reasons(True, 1e-6, 0.5, 1.0)   # below RMS_MIN
    ['silence']
    >>> decode_reasons(True, 0.1, 2.0, 0.99)   # nonfinite wins over amplitude
    ['nonfinite_audio']
    """
    if not ok:
        return ["decode_error"]
    reasons: list[str] = []
    if finite_frac < FINITE_FRAC_MIN:
        reasons.append("nonfinite_audio")
    elif peak > PEAK_MAX:
        reasons.append("bad_amplitude")
    elif rms < RMS_MIN:
        reasons.append("silence")
    return reasons
