"""Measurement from outside the program: spans around calls into layer
functions, Spark job counts, process-tree memory, output file deltas, and
serial per-layer kernel timings."""

from __future__ import annotations

import contextlib
import os
import threading
import time
from collections import defaultdict
from pathlib import Path

import pandas as pd
import pyarrow.parquet as pq


class Spans:
    """In-memory span log. A span is (name, start, end, parent); spans of one
    operation share its op id. Written out only when the run ends."""

    def __init__(self) -> None:
        self.records: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"name": name, "op": self.op, "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter()}
        self.records.append(rec)
        self._stack.append(len(self.records) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def total(self, name: str, op: str) -> float:
        return sum(r["end"] - r["start"] for r in self.records if r["name"] == name and r["op"] == op)


@contextlib.contextmanager
def patched(obj, attr: str, wrap):
    """Replace obj.attr by wrap(original) for the duration of the block."""
    orig = getattr(obj, attr)
    setattr(obj, attr, wrap(orig))
    try:
        yield
    finally:
        setattr(obj, attr, orig)


def spanned(spans: Spans, name: str):
    """Wrapper factory: record each call as a span called `name`."""
    def wrap(fn):
        def inner(*args, **kwargs):
            with spans.span(name):
                return fn(*args, **kwargs)
        return inner
    return wrap


@contextlib.contextmanager
def pipeline_spans(spans: Spans):
    """Spans around the steps run_pipeline takes in the Spark driver: the fingerprint
    pre-scan, the labels overwrite, and the side-table appends."""
    from datasmith_spark import pipeline
    from datasmith_spark.tables import TableLayer

    with patched(pipeline, "part_fingerprints", spanned(spans, "pipeline.fingerprint")), \
         patched(TableLayer, "overwrite_partitions", spanned(spans, "pipeline.label_write")), \
         patched(TableLayer, "append", spanned(spans, "pipeline.side_tables")):
        yield


@contextlib.contextmanager
def labels_committed(marks: list[float]):
    """Append the time each labels overwrite (TableLayer.overwrite_partitions,
    which run_pipeline calls once per run) returns."""
    from datasmith_spark.tables import TableLayer

    def wrap(fn):
        def inner(*args, **kwargs):
            out = fn(*args, **kwargs)
            marks.append(time.perf_counter())
            return out
        return inner

    with patched(TableLayer, "overwrite_partitions", wrap):
        yield


def spark_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) Spark ran under one job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in info.stageIds if info else []:
            stages += 1
            si = st.getStageInfo(s)
            tasks += si.numTasks if si else 0
    return len(jobs), stages, tasks


def child_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids[ppid].append(int(d))
    return kids


def _mem_kb(pid: int) -> int:
    """Proportional set size, so that pages the Python workers share
    copy-on-write with their daemon count once in a sum. The JVM shares
    nothing with the tree, so its RSS (statm, cheap) stands in for its PSS
    (smaps_rollup walks every page table: ~35 ms for a 3 GB heap)."""
    try:
        with open(f"/proc/{pid}/comm") as f:
            if f.read().strip() == "java":
                with open(f"/proc/{pid}/statm") as g:
                    return int(g.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") // 1024
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except (OSError, IndexError, ValueError):
        pass
    return 0


def tree_pss_mb(root: int) -> float:
    """Memory of every descendant of `root` (the JVM and its Python
    workers), not counting `root` itself."""
    kids = child_map()
    todo, total = list(kids.get(root, [])), 0
    while todo:
        p = todo.pop()
        total += _mem_kb(p)
        todo.extend(kids.get(p, []))
    return total / 1e3


class MemorySampler:
    """Background thread sampling the process tree's memory; keeps the peak."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="memory-sampler", daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_pss_mb(me))
            self._stop.wait(self.period)

    def __enter__(self) -> MemorySampler:
        self._thread.start()
        return self

    def stop(self) -> None:
        """End sampling; the peak stays as it is from here on."""
        self._stop.set()
        self._thread.join()

    def __exit__(self, *exc) -> None:
        self.stop()


def file_index(root: Path) -> dict[str, tuple[int, int]]:
    """path -> (inode, size) of every file under root."""
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_ino, st.st_size)
    return out


def files_written(before: dict, after: dict) -> tuple[int, float]:
    """(files, MB) present after that are new or replaced since before."""
    new = [v for p, v in after.items() if before.get(p, (None,))[0] != v[0]]
    return len(new), sum(v[1] for v in new) / 1e6


def core_layer_times(sample: pd.DataFrame) -> dict[str, float]:
    """Serial in-process timings of the core kernels over a fixed sample,
    in microseconds per clip that reached each stage (same stage order and
    short-circuiting as the pipeline)."""
    from datasmith_spark.core import audio, langid, lm, rules
    from datasmith_spark.core.scrub import count_words, scrub_text

    rows = list(sample.itertuples(index=False))
    lid, lmm = langid.model(), lm.model()
    t = time.perf_counter()
    ok = [r for r in rows if not rules.rule_reasons(
        r.codec, r.sr_hz, r.dur_ms, None if r.bytes is None else len(r.bytes), r.transcript)]
    t_rules = time.perf_counter() - t
    t = time.perf_counter()
    decoded = []
    for r in ok:
        pcm = audio.decode(r.bytes, r.codec)
        _, rms, peak, _, fin = audio.pcm_features(pcm)
        if not rules.decode_reasons(pcm is not None, rms, peak, fin):
            decoded.append(r)
    t_decode = time.perf_counter() - t
    texts = [r.transcript for r in decoded]
    t = time.perf_counter()
    langs, probs = lid.predict_batch(texts) if texts else ([], [])
    t_langid = time.perf_counter() - t
    alive = [(x, g) for x, g, p in zip(texts, langs, probs) if g is not None and p >= rules.LANG_PROB_MIN]
    t = time.perf_counter()
    ppl = lmm.ppl_batch([x for x, _ in alive], [g for _, g in alive]) if alive else []
    t_lm = time.perf_counter() - t
    kept = [x for (x, g), v in zip(alive, ppl) if lmm.in_band(float(v), g)]
    t = time.perf_counter()
    for x in kept:
        scrub_text(x)
        count_words(x)
    t_scrub = time.perf_counter() - t

    def per(sec: float, n: int) -> float:
        return 1e6 * sec / n if n else 0.0

    return {
        "core.rules.us_per_clip": per(t_rules, len(rows)),
        "core.audio.decode_us_per_clip": per(t_decode, len(ok)),
        "core.langid.us_per_clip": per(t_langid, len(decoded)),
        "core.lm.us_per_clip": per(t_lm, len(alive)),
        "core.scrub.us_per_clip": per(t_scrub, len(kept)),
    }


def scan_layer_times(files: list[Path], n_parts: int) -> dict[str, float]:
    """Serial fused-scan kernels over the given files: pyarrow reads of the
    clip columns, then label_batch_pdf over the same batches."""
    from datasmith_spark.operators.scan_decode import CLIP_COLUMNS, label_batch_pdf

    batches, mb = [], 0.0
    t = time.perf_counter()
    for f in files:
        pf = pq.ParquetFile(f, memory_map=True)
        for rb in pf.iter_batches(batch_size=256, columns=CLIP_COLUMNS):
            batches.append(rb.to_pandas())
            mb += rb.nbytes / 1e6
    t_read = time.perf_counter() - t
    n = sum(len(b) for b in batches)
    t = time.perf_counter()
    for b in batches:
        label_batch_pdf(b, n_parts)
    t_label = time.perf_counter() - t
    return {
        "scan_decode.read_mb_per_s": mb / t_read if t_read else 0.0,
        "scan_decode.label_batch_us_per_clip": 1e6 * t_label / n if n else 0.0,
    }


def manifest_size(files: list[Path]) -> tuple[int, float]:
    """(rows, MB on disk) of a set of parquet files."""
    rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    return rows, sum(f.stat().st_size for f in files) / 1e6
