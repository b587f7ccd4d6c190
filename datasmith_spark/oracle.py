"""Single-process reference implementation ("reference labels").

Runs the full curation chain row-by-row in plain pandas/numpy, composing the
SAME core kernels the Spark pipeline uses inside its Arrow-batched UDFs.
This is the oracle for the BASELINE.json per-row invariants:
  * keep/drop F1 >= 0.99 (target: exact)
  * scrubbed-transcript string equality
  * decoded-PCM SNR >= 30 dB

Stage order and short-circuit semantics (a row dropped at stage k is not
evaluated at stages > k) mirror the reference pipeline's
filter-before-expensive-enrich ordering
(/root/reference/scripts/filter_commits.py:89-96,109).
"""

from __future__ import annotations

import zlib

import pandas as pd

from .core import audio, langid, lm, rules
from .core.scrub import count_words, scrub_text

LABEL_COLUMNS = [
    "clip_id", "part_id", "codec", "keep", "drop_stage", "drop_reasons",
    "lang", "lang_prob", "ppl", "pii_count", "tox_count", "scrubbed_transcript",
]


def part_id_of(clip_id: str, n_parts: int) -> int:
    """crc32(utf8(clip_id)) % n_parts — matches Spark F.crc32 exactly."""
    return zlib.crc32(clip_id.encode("utf-8")) % n_parts


def label_row(
    clip_id: str,
    buf: bytes | None,
    sr_hz: int | None,
    dur_ms: int | None,
    codec: str | None,
    transcript: str | None,
    n_parts: int = 32,
) -> dict:
    out = {
        "clip_id": clip_id,
        "part_id": part_id_of(clip_id, n_parts),
        "codec": codec,
        "keep": False,
        "drop_stage": None,
        "drop_reasons": [],
        "lang": None,
        "lang_prob": None,
        "ppl": None,
        "pii_count": None,
        "tox_count": None,
        "scrubbed_transcript": None,
    }

    r = rules.rule_reasons(codec, sr_hz, dur_ms, len(buf) if buf is not None else None, transcript)
    if r:
        out.update(drop_stage=rules.STAGE_RULES, drop_reasons=r)
        return out

    pcm = audio.decode(buf, codec)
    _, rms, peak, _, fin = audio.pcm_features(pcm)
    d = rules.decode_reasons(pcm is not None, rms, peak, fin)
    if d:
        out.update(drop_stage=rules.STAGE_DECODE, drop_reasons=d)
        return out

    lang, prob = langid.model().predict_one(transcript)
    out.update(lang=lang, lang_prob=prob)
    if lang is None or prob < rules.LANG_PROB_MIN:
        out.update(drop_stage=rules.STAGE_LANGID, drop_reasons=["lang_confidence"])
        return out

    ppl = lm.model().ppl_one(transcript, lang)
    out.update(ppl=ppl)
    if not lm.model().in_band(ppl, lang):
        out.update(drop_stage=rules.STAGE_PPL, drop_reasons=["ppl_outlier"])
        return out

    scrubbed, pii, tox = scrub_text(transcript)
    n_words = count_words(transcript)
    out.update(pii_count=pii, tox_count=tox, scrubbed_transcript=scrubbed)
    if n_words > 0 and tox / n_words > rules.TOX_RATIO_MAX:
        out.update(drop_stage=rules.STAGE_SCRUB, drop_reasons=["toxicity"])
        return out

    out["keep"] = True
    return out


def oracle_labels(clips: pd.DataFrame, n_parts: int = 32) -> pd.DataFrame:
    """Label every clip row (single-process reference)."""
    recs = [
        label_row(
            row.clip_id, row.bytes, int(row.sr_hz), int(row.dur_ms), row.codec,
            row.transcript, n_parts,
        )
        for row in clips.itertuples(index=False)
    ]
    df = pd.DataFrame(recs, columns=LABEL_COLUMNS)
    df["part_id"] = df["part_id"].astype("int32")
    df["lang_prob"] = df["lang_prob"].astype("float64")
    df["ppl"] = df["ppl"].astype("float64")
    return df

