"""The workloads. Each runs its operations for the given number of
seconds after set-up, checks every output against the oracle, and returns
its end-to-end metrics, plus the per-layer metrics when traced."""

from __future__ import annotations

import dataclasses
import json
import math
import os
import shutil
import statistics
import threading
import time
from pathlib import Path

from . import check, inputs, probes

E2E_UNITS = {
    "setup_s": "s", "run_s": "s", "clips_per_sec": "1/s", "latency_p50_ms": "ms",
    "latency_p90_ms": "ms", "keep_f1": "ratio", "peak_rss_mb": "MB",
}
LAYER_UNITS = {
    "core.rules.us_per_clip": "us", "core.audio.decode_us_per_clip": "us",
    "core.langid.us_per_clip": "us", "core.lm.us_per_clip": "us", "core.scrub.us_per_clip": "us",
    **{f"core.stage_rows_in.{s}": "count" for s in ("rules", "decode", "langid", "ppl", "scrub")},
    "core.decode.useful_frac": "ratio",
    "scan_decode.read_mb_per_s": "MB/s", "scan_decode.label_batch_us_per_clip": "us",
    "scan_decode.rows_scanned": "count", "scan_decode.mb_scanned": "MB",
    "pipeline.fingerprint_s": "s", "pipeline.label_write_s": "s",
    "pipeline.side_tables_s": "s", "pipeline.other_s": "s",
    "pipeline.parts_relabelled": "count", "pipeline.rows_relabelled": "count",
    "tables.files_written": "count", "tables.mb_written": "MB", "tables.checkpoint_files": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "streaming.batches": "count", "streaming.rows_per_batch": "count",
    "streaming.trigger_ms": "ms", "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms", "streaming.latest_offset_ms": "ms",
    "streaming.wal_commit_ms": "ms", "streaming.gen_late_ms": "ms",
    "setup.session_s": "s", "setup.input_s": "s", "setup.oracle_s": "s", "setup.warmup_s": "s",
    "trace.overhead_s": "s",
}
SETUP_REPEATS = 3  # input assembly + oracle load are repeated; setup_s takes their median
STREAM_RATE = 10.0  # one-clip files dropped per second (open loop), below capacity
STREAM_BURSTS = 2  # backlogs dropped at once after the open-loop phase, to measure capacity
SAMPLE_ROWS = 256  # rows of the workload's input timed serially per layer


@dataclasses.dataclass
class Ctx:
    spark: object
    workload: str
    pool: inputs.Pool
    seed: int
    seconds: float
    trace: bool
    work: Path  # scratch directory of this run
    procs: int
    out: Path  # where traces are written
    setup: dict = dataclasses.field(default_factory=dict)  # setup.* seconds
    reference_ok: bool = False  # the oracle agrees with the frozen reference labels


@dataclasses.dataclass
class Result:
    correct: bool
    attempted: int
    failed: int
    e2e: dict
    layers: dict


def _q(xs: list[float], p: float) -> float:
    """p-quantile (p in hundredths) with linear interpolation between samples."""
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[round(p * 100) - 1]


def _stage_layers(hist, n_rows: int) -> dict:
    """Rows entering each stage, from the drop-stage histogram of the output."""
    out, alive = {}, n_rows
    for s in ("rules", "decode", "langid", "ppl", "scrub"):
        out[f"core.stage_rows_in.{s}"] = alive
        alive -= hist.get(s, 0)
    dec = out["core.stage_rows_in.decode"]
    out["core.decode.useful_frac"] = hist.get(None, 0) / dec if dec else 0.0
    return out


def _kernel_layers(files: list[Path], n_parts: int) -> dict:
    """Serial core and fused-scan timings over the leading files that hold
    at least SAMPLE_ROWS rows."""
    import pandas as pd
    import pyarrow.parquet as pq

    picked, n = [], 0
    for f in files:
        picked.append(f)
        n += pq.ParquetFile(f).metadata.num_rows
        if n >= SAMPLE_ROWS:
            break
    sample = pd.concat([pq.read_table(f).to_pandas() for f in picked], ignore_index=True)
    return {**probes.core_layer_times(sample), **probes.scan_layer_times(picked, n_parts)}


def _setup_inputs(ctx: Ctx, build) -> tuple:
    """Assemble inputs, load the oracle and check it against the reference
    labels SETUP_REPEATS times into fresh directories; the last assembly is
    used. Records median seconds."""
    t_in, t_or, got = [], [], None
    for i in range(SETUP_REPEATS):
        d = ctx.work / f"inputs-{i}"
        t = time.perf_counter()
        ctx.pool.ensure(ctx.procs)
        inp = build(d)
        t_in.append(time.perf_counter() - t)
        t = time.perf_counter()
        oracle = check.canonical_rows(*inputs.oracle_frames(inp))
        n_ref, bad = check.against_reference(oracle, ctx.pool.sizes.n_parts)
        t_or.append(time.perf_counter() - t)
        if got is not None:
            shutil.rmtree(ctx.work / f"inputs-{i - 1}", ignore_errors=True)
        got = (inp, oracle)
    ctx.setup["setup.input_s"] = statistics.median(t_in)
    ctx.setup["setup.oracle_s"] = statistics.median(t_or)
    ctx.reference_ok = n_ref > 0 and not bad
    if not ctx.reference_ok:
        print(f"perfbench: oracle differs from {check.REFERENCE.name} on {len(bad)} of {n_ref} rows "
              f"(e.g. {sorted(bad)[:3]})", flush=True)
    return got


def _run_pipeline(ctx: Ctx, input_dir: Path, out: Path, spans: probes.Spans | None, op: str):
    """One run_pipeline call; traced when spans is given. Returns the call's
    result, its wall, the seconds until its labels were committed, and the
    per-layer metrics of a traced call."""
    from datasmith_spark import pipeline

    n_parts = ctx.pool.sizes.n_parts
    sc = ctx.spark.sparkContext
    if spans is None:
        marks: list[float] = []
        t = time.perf_counter()
        with probes.labels_committed(marks):
            r = pipeline.run_pipeline(ctx.spark, None, str(out), n_parts=n_parts, input_dir=str(input_dir))
        wall = time.perf_counter() - t
        return r, wall, (marks[-1] - t if marks else wall), {}
    before = probes.file_index(out)
    sc.setJobGroup(op, op)
    spans.op = op
    with probes.pipeline_spans(spans), spans.span("pipeline.run") as rec:
        r = pipeline.run_pipeline(ctx.spark, None, str(out), n_parts=n_parts, input_dir=str(input_dir))
    sc.setLocalProperty("spark.jobGroup.id", None)
    wall = rec["end"] - rec["start"]
    writes = [x["end"] for x in spans.records if x["name"] == "pipeline.label_write" and x["op"] == op]
    to_labels = (writes[-1] if writes else rec["end"]) - rec["start"]
    fp, lw, st = (spans.total(n, op) for n in
                  ("pipeline.fingerprint", "pipeline.label_write", "pipeline.side_tables"))
    jobs, stages, tasks = probes.spark_counts(sc, op)
    nfiles, mb = probes.files_written(before, probes.file_index(out))
    cp = out / "checkpoints"
    layers = {
        "pipeline.fingerprint_s": fp, "pipeline.label_write_s": lw,
        "pipeline.side_tables_s": st, "pipeline.other_s": wall - fp - lw - st,
        "pipeline.parts_relabelled": r["parts_processed"], "pipeline.rows_relabelled": r["n_labeled"],
        "tables.files_written": nfiles, "tables.mb_written": mb,
        "tables.checkpoint_files": len(os.listdir(cp)) if cp.is_dir() else 0,
        "spark.jobs": jobs, "spark.stages": stages, "spark.tasks": tasks,
    }
    return r, wall, to_labels, layers


def _closed_loop(ctx: Ctx, input_dir: Path, oracle: dict) -> Result:
    """Run run_pipeline back to back for ctx.seconds (at least once), each
    into a fresh output directory, checking every output. One untimed call
    comes first: the first call of a session runs cold code paths, and
    counts as warm-up."""
    out = ctx.work / "out"
    expect_parts = ctx.pool.sizes.n_parts
    t = time.perf_counter()
    r, _, _, _ = _run_pipeline(ctx, input_dir, out, None, "warm-up")
    warm_ok = (check.Verdict(check.read_labels(out / "labels"), oracle).ok
               and r["parts_processed"] == expect_parts)
    ctx.setup["setup.warmup_s"] = ctx.setup.get("setup.warmup_s", 0.0) + time.perf_counter() - t

    spans = probes.Spans()
    walls, rates, to_labels, f1s, traced_walls, layer_rows = [], [], [], [], [], []
    failed = 0
    hist_rows = None  # output rows of the first call, for the drop-stage histogram
    with probes.MemorySampler() as mem:
        t_end = time.perf_counter() + ctx.seconds
        i = 0
        while time.perf_counter() < t_end or not walls or (ctx.trace and not traced_walls):
            shutil.rmtree(out)
            traced = ctx.trace and i % 2 == 1
            r, wall, lat, layers = _run_pipeline(ctx, input_dir, out, spans if traced else None, f"op-{i}")
            labels = check.read_labels(out / "labels")
            verdict = check.Verdict(labels, oracle)
            ok = verdict.ok and r["parts_processed"] == expect_parts
            if not ok:
                failed += 1
                print(f"perfbench: op {i} failed: {verdict.summary()}, "
                      f"{r['parts_processed']} parts relabelled (want {expect_parts})", flush=True)
            f1s.append(verdict.keep_f1)
            if traced:
                traced_walls.append(wall)
                layer_rows.append(layers)
            else:
                walls.append(wall)
                rates.append(r["n_labeled"] / wall)
                to_labels.append(lat)
            if hist_rows is None:
                hist_rows = labels
            i += 1
    e2e = {
        "run_s": statistics.median(walls),
        "clips_per_sec": statistics.median(rates),
        "latency_p50_ms": 1e3 * _q(to_labels, 0.5),
        "latency_p90_ms": 1e3 * _q(to_labels, 0.9),
        "keep_f1": min(f1s),
        "peak_rss_mb": mem.peak_mb,
    }
    layers = {}
    if ctx.trace:
        layers = {k: statistics.median(row[k] for row in layer_rows) for k in layer_rows[0]} if layer_rows else {}
        layers["trace.overhead_s"] = (statistics.median(traced_walls) - statistics.median(walls)
                                      if traced_walls else 0.0)
        layers.update(_stage_layers(check.Verdict(hist_rows, {}).stage_hist, len(hist_rows)))
        _dump_spans(ctx, spans)
    n = len(walls) + len(traced_walls)
    return Result(failed == 0 and warm_ok, n, failed, e2e, layers)


def _dump_spans(ctx: Ctx, spans: probes.Spans) -> None:
    ctx.out.mkdir(parents=True, exist_ok=True)
    path = ctx.out / f"trace-{ctx.workload}-seed{ctx.seed}.json"
    path.write_text(json.dumps({"spans": spans.records, "setup": ctx.setup}, indent=1))


def batch_full(ctx: Ctx) -> Result:
    """run_pipeline over A into a fresh output directory, closed loop."""
    a, oracle = _setup_inputs(ctx, lambda d: inputs.assemble_a(ctx.pool, ctx.seed, d / "a"))
    res = _closed_loop(ctx, a.files[0].parent, oracle)
    if ctx.trace:
        res.layers.update(_kernel_layers(a.files, ctx.pool.sizes.n_parts))
        rows, mb = probes.manifest_size(a.files)
        res.layers.update({"scan_decode.rows_scanned": rows, "scan_decode.mb_scanned": mb})
    return res


class _Generator(threading.Thread):
    """Open-loop file generator: file j is due at t0 + j / rate, regardless
    of how the query keeps up. Each file is copied into a staging directory
    and renamed into the watched directory (atomic on one filesystem)."""

    def __init__(self, files: list[Path], watch: Path, stage: Path, rate: float, t0: float):
        super().__init__(name="stream-generator", daemon=True)
        self.files, self.watch, self.stage, self.rate, self.t0 = files, watch, stage, rate, t0
        self.due: dict[str, float] = {}
        self.late: list[float] = []
        self.error: Exception | None = None

    @staticmethod
    def name_of(j: int) -> str:
        return f"in-{j:05d}.parquet"

    def run(self) -> None:
        try:
            self.stage.mkdir(parents=True, exist_ok=True)
            for j, f in enumerate(self.files):
                name = self.name_of(j)
                due = self.t0 + j / self.rate
                time.sleep(max(0.0, due - time.time()))
                shutil.copyfile(f, self.stage / name)
                os.rename(self.stage / name, self.watch / name)
                self.due[name] = due
                self.late.append(time.time() - due)
        except Exception as e:  # re-raised by the caller after join
            self.error = e


def _committed_files(ckpt: Path, seen: dict[str, int], commit_t: dict[int, float]) -> None:
    """Fold newly committed micro-batches into `seen` (file name -> batch id)
    and `commit_t` (batch id -> commit file mtime)."""
    commits = ckpt / "commits"
    new = [int(n) for n in (os.listdir(commits) if commits.is_dir() else [])
           if n.isdigit() and int(n) not in commit_t]
    if not new:
        return
    for n in new:
        commit_t[n] = (commits / str(n)).stat().st_mtime
    log = ckpt / "sources" / "0"
    for n in sorted(os.listdir(log)):
        if n.startswith("."):
            continue
        try:
            lines = (log / n).read_text().splitlines()[1:]
        except FileNotFoundError:  # removed by log compaction meanwhile
            continue
        for ln in lines:
            e = json.loads(ln)
            if e["batchId"] in commit_t:
                seen[os.path.basename(e["path"])] = e["batchId"]


def stream_ingest(ctx: Ctx) -> Result:
    """Open-loop file drops into a watched directory, labelled by
    run_streaming_pipeline (transfer path: JVM scan -> Arrow -> stage UDFs),
    then STREAM_BURSTS bursts of files dropped at once to measure capacity."""
    from datasmith_spark import streaming

    burst = ctx.pool.sizes.burst_files
    n_open = max(1, math.ceil(ctx.seconds * STREAM_RATE))
    n_open = min(n_open, ctx.pool.sizes.stream_files - STREAM_BURSTS * burst)
    n_files = n_open + STREAM_BURSTS * burst
    inp, oracle = _setup_inputs(ctx, lambda d: inputs.select_stream(ctx.pool, ctx.seed, n_files))
    n_parts = ctx.pool.sizes.n_parts
    ctx.spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")

    t = time.perf_counter()
    warm_in, warm_out = ctx.work / "warm-in", ctx.work / "warm-out"
    warm_in.mkdir(parents=True)
    for j, f in enumerate(inp.files[:4]):
        shutil.copyfile(f, warm_in / f"w-{j}.parquet")
    streaming.run_streaming_pipeline(ctx.spark, str(warm_in), str(warm_out), n_parts=n_parts).stop()
    want = dict(list(oracle.items())[: 4 * ctx.pool.sizes.rows_per_stream_file])
    warm_ok = check.Verdict(check.read_labels(warm_out / "labels"), want).ok
    shutil.rmtree(warm_out)
    ctx.setup["setup.warmup_s"] = time.perf_counter() - t

    watch, out, stage = ctx.work / "watch", ctx.work / "stream-out", ctx.work / "stage"
    watch.mkdir()
    ckpt = out / "_stream_checkpoint"
    seen: dict[str, int] = {}
    commit_t: dict[int, float] = {}
    names = [_Generator.name_of(j) for j in range(len(inp.files))]
    rates = []  # clips per second of each burst, from its drop to its last commit
    with probes.MemorySampler() as mem:
        q = streaming.run_streaming_pipeline(ctx.spark, str(watch), str(out), n_parts=n_parts,
                                             available_now=False)
        gen = _Generator(inp.files[:n_open], watch, stage, STREAM_RATE, time.time() + 0.5)
        gen.start()
        deadline = time.time() + ctx.seconds + 90

        def wait(done) -> bool:
            while time.time() < deadline and q.isActive:
                _committed_files(ckpt, seen, commit_t)
                if done():
                    return True
                time.sleep(0.02)
            return False

        try:
            open_done = wait(lambda: not gen.is_alive() and len(seen) >= len(gen.due))
            mem.stop()  # peak memory of the open-loop phase
            if open_done:
                # capacity: the query holds no backlog here, so a burst of
                # files dropped at once shows how fast the path can label
                for k in range(STREAM_BURSTS):
                    js = range(n_open + k * burst, n_open + (k + 1) * burst)
                    for j in js:
                        shutil.copyfile(inp.files[j], stage / names[j])
                    t0 = time.time()
                    for j in js:
                        os.rename(stage / names[j], watch / names[j])
                    if not wait(lambda: all(names[j] in seen for j in js)):
                        break
                    rates.append(burst / (max(commit_t[seen[names[j]]] for j in js) - t0))
        finally:
            q.stop()
            gen.join(timeout=30)
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        jobs, stages, tasks = probes.spark_counts(ctx.spark.sparkContext, str(q.runId))
    if gen.error is not None:
        raise gen.error

    files_index = probes.file_index(out)
    labels = check.read_labels(out / "labels")
    verdict = check.Verdict(labels, oracle)
    per_file = ctx.pool.sizes.rows_per_stream_file
    lat = [commit_t[seen[n]] - gen.due[n] for n in names[:n_open] if n in seen]
    # oracle rows are in file order, per_file rows per file
    failed = len({i // per_file for i, c in enumerate(oracle) if c in verdict.bad}
                 | {j for j, n in enumerate(names) if n not in seen})
    if failed:
        print(f"perfbench: stream: {failed} of {len(inp.files)} files failed: {verdict.summary()}", flush=True)
    trig = [p["durationMs"].get("triggerExecution", 0) for p in progress]
    rows = [p["numInputRows"] for p in progress]
    e2e = {
        "run_s": statistics.median(trig) / 1e3 if trig else 0.0,
        "clips_per_sec": statistics.median(rates) * per_file if rates else 0.0,
        "latency_p50_ms": 1e3 * _q(lat, 0.5) if lat else 0.0,
        "latency_p90_ms": 1e3 * _q(lat, 0.9) if lat else 0.0,
        "keep_f1": verdict.keep_f1,
        "peak_rss_mb": mem.peak_mb,
    }
    layers = {}
    if ctx.trace:
        def dur(k: str) -> float:
            return statistics.median(p["durationMs"].get(k, 0) for p in progress) if progress else 0.0

        nb = max(1, len(progress))
        layers = {
            "streaming.batches": len(progress),
            "streaming.rows_per_batch": statistics.median(rows) if rows else 0,
            "streaming.trigger_ms": dur("triggerExecution"),
            "streaming.add_batch_ms": dur("addBatch"),
            "streaming.query_planning_ms": dur("queryPlanning"),
            "streaming.latest_offset_ms": dur("latestOffset"),
            "streaming.wal_commit_ms": dur("walCommit"),
            "streaming.gen_late_ms": 1e3 * max(gen.late, default=0.0),
            "tables.files_written": len(files_index) / nb,
            "tables.mb_written": sum(v[1] for v in files_index.values()) / 1e6 / nb,
            "tables.checkpoint_files": sum(1 for p in files_index if p.startswith(str(ckpt))),
            "spark.jobs": jobs / nb, "spark.stages": stages / nb, "spark.tasks": tasks / nb,
            "trace.overhead_s": 0.0,
        }
        layers.update(_stage_layers(verdict.stage_hist, len(labels)))
        layers.update(_kernel_layers(inp.files, n_parts))
    ok = failed == 0 and warm_ok
    return Result(ok, len(inp.files), failed, e2e, layers)


WORKLOADS = {"batch_full": batch_full, "stream_ingest": stream_ingest}
