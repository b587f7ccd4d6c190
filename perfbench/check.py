"""Label checks against the oracle: exact per-row comparison (floats bitwise,
drop_reasons elementwise), keep/drop F1, and the drop-stage histogram; and a
check of the oracle itself against the frozen reference labels."""

from __future__ import annotations

import math
import struct
import zlib
from collections import Counter
from pathlib import Path

import pandas as pd
import pyarrow.dataset as ds
from datasmith_spark.oracle import LABEL_COLUMNS

# labels of gen_row(0..3999), frozen; the test suite holds them as the reference
REFERENCE = Path(__file__).resolve().parent.parent / "fixtures" / "oracle_labels_n4000.parquet"
_FLOAT_COLUMNS = ("lang_prob", "ppl")
_INT_COLUMNS = ("part_id", "pii_count", "tox_count")


def _canon(col: str, v):
    """One comparable value per cell: null-likes -> None, floats -> their
    64-bit pattern, integral counts -> int, reasons -> tuple."""
    if col == "drop_reasons":
        return tuple(v) if v is not None else ()
    if v is None or v is pd.NA or (isinstance(v, float) and math.isnan(v)):
        return None
    if col in _FLOAT_COLUMNS:
        return struct.pack("<d", float(v))
    if col in _INT_COLUMNS:
        return int(v)
    if col == "keep":
        return bool(v)
    return v


def canonical_rows(*frames: pd.DataFrame) -> dict[str, tuple]:
    """clip_id -> canonical label tuple, over the rows of all frames in
    order. A duplicated clip_id maps to None, which never matches."""
    out: dict[str, tuple | None] = {}
    for df in frames:
        for vals in zip(*(df[c].tolist() for c in LABEL_COLUMNS)):
            row = tuple(_canon(c, v) for c, v in zip(LABEL_COLUMNS, vals))
            out[row[0]] = None if row[0] in out else row
    return out


def read_labels(labels_dir: Path) -> pd.DataFrame:
    """Read a labels table written by the batch (part_id=) or streaming
    (batch_id=/part_id=) sink; hidden staging files are skipped."""
    if not labels_dir.is_dir():
        return pd.DataFrame(columns=LABEL_COLUMNS)
    table = ds.dataset(str(labels_dir), format="parquet", partitioning="hive").to_table()
    return table.to_pandas()[LABEL_COLUMNS]


class Verdict:
    """Comparison of one output labels table with the oracle rows it should hold."""

    def __init__(self, out: pd.DataFrame, oracle: dict[str, tuple]):
        got = canonical_rows(out)
        self.missing = [c for c in oracle if c not in got]
        self.extra = [c for c in got if c not in oracle]
        self.mismatched = [c for c, r in oracle.items() if c in got and got[c] != r]
        self.bad = set(self.missing) | set(self.extra) | set(self.mismatched)
        tp = fp = fn = 0
        for c, r in oracle.items():
            want = r[3]
            have = got[c][3] if got.get(c) is not None else None
            tp += want and have is True
            fn += want and have is not True
            fp += (not want) and have is True
        fp += sum(1 for c in self.extra if got[c] is not None and got[c][3])
        self.keep_f1 = 2 * tp / (2 * tp + fp + fn) if tp + fp + fn else 1.0
        self.stage_hist = Counter(r[4] for r in got.values() if r is not None)

    @property
    def ok(self) -> bool:
        return not self.bad

    def summary(self) -> str:
        return (f"{len(self.missing)} missing, {len(self.extra)} extra, "
                f"{len(self.mismatched)} mismatched (e.g. {sorted(self.bad)[:3]})")


def against_reference(oracle: dict[str, tuple], n_parts: int) -> tuple[int, list[str]]:
    """(rows compared, clip ids that differ) between oracle rows and the
    frozen reference labels. The oracle runs the same core kernels as the
    pipeline, so only this comparison catches a change to a kernel's output."""
    ref = pd.read_parquet(REFERENCE, columns=LABEL_COLUMNS)
    # part_id is the layout, not a label: the reference was cut into 32 parts
    ref["part_id"] = [zlib.crc32(c.encode()) % n_parts for c in ref["clip_id"]]
    want = canonical_rows(ref)
    common = [c for c in oracle if c in want]
    return len(common), [c for c in common if oracle[c] != want[c]]
