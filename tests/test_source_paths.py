"""No source file names the absolute path of the checkout it lives in.

Scripts, the benchmark harness and the package derive their paths from
`__file__`, so a checkout works wherever it is cloned; a path written out
in full only works in the one place it was written."""

from __future__ import annotations

import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
SOURCES = [
    *(ROOT / "datasmith_spark").rglob("*.py"),
    *(ROOT / "scripts").rglob("*.py"),
    *(ROOT / "tests").rglob("*.py"),
    ROOT / "bench.py",
    ROOT / "bench_extra.py",
    ROOT / "__spark_entry__.py",
]


def test_no_source_file_names_the_checkout_path():
    needle = str(ROOT) + "/"
    named = [
        f"{p.relative_to(ROOT)}:{i}"
        for p in SOURCES
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if needle in line
    ]
    assert len(SOURCES) > 3 and not named, named
