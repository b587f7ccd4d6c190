"""Benchmark harness — driver contract.

Runs the headline end-to-end curation pipeline (rules -> decode -> langid ->
perplexity -> scrub) over the deterministic synthetic clips table at the SF
implied by $SPARK_GRAFT_SF_DIR, plus every registered query from
__spark_entry__.queries() at that sf dir, on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "clips_per_sec_end_to_end", "value": N, "unit": "sec",
   "queries": {"q01_...": sec, ...}, "sf": 0.1,
   "pipeline": {...}, "scaling": {...}}

The north metric is clips/sec end-to-end at SF=0.1; `value` is the pipeline
wall-seconds (unit "sec" per contract) and `pipeline.clips_per_sec` carries
the throughput — both are the MEDIAN of `pipeline.runs` end-to-end passes
(the representative number; best-of is attached under best_*). `scaling` evidences the N->4N executor criterion in-sandbox:
the identical Spark job on the identical input, taskset-pinned to N vs 4N
cores, interleaved trials, eff = (tput_4N / tput_N) / 4 (target >= 0.8),
plus a no-JVM multiprocessing run of the identical fused kernel as the
cross-check (scripts/kernel_scaling.py). Scaling subprocess runs are
skipped when SPARK_GRAFT_SCALING=0.

Scaling protocol notes (full detail in BASELINE.md "Sandbox scaling
protocol"):
  * pair default N=1 -> 4N=4: this sandbox's kernel serializes page faults
    and file I/O globally, so heavy-reader throughput saturates around ~8
    concurrent workers and inverts beyond ~16 (measured with plain
    multiprocessing — a machine property, not a pipeline property). 1->4
    measures the pipeline in the regime where the HOST can scale at all;
    the 2->8 pair straddles the contention knee and measures the sandbox.
    On a real cluster each executor has its own kernel, so per-executor
    parallelism stays in the linear regime by construction.
  * pinned to the TOP cores (low cores service kernel interrupts, which
    penalizes small pinned sets asymmetrically).
  * primary per-level estimator = MEDIAN over interleaved trials (the
    conservative reading); the max-over-trials capability estimate is
    attached as `efficiency_capability_max` because multi-tenant
    contention on this host is strictly subtractive and hits wide pinned
    sets harder than narrow ones.

The clips input parquet is generated once (deterministic, seed=42) and cached
under .data/clips_bench/ — the benchmark times scan+pipeline, not datagen.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# pipeline timing runs the FULL table at this sf (100k rows at sf0.1);
# scaling trials use a smaller table so each 1-core pass stays ~1 min.
BENCH_ROWS_CAP = int(os.environ.get("SPARK_GRAFT_BENCH_ROWS", "100000"))
SCALING_ROWS_CAP = int(os.environ.get("SPARK_GRAFT_SCALE_ROWS", "20000"))
SCALING_ON = os.environ.get("SPARK_GRAFT_SCALING", "1") != "0"
# N -> 4N scaling pair; see module docstring + BASELINE.md for why N=1.
SCALING_LOW_CORES = int(os.environ.get("SPARK_GRAFT_SCALE_LO", "1"))
SCALING_HIGH_CORES = int(os.environ.get("SPARK_GRAFT_SCALE_HI", str(4 * SCALING_LOW_CORES)))
SCALING_TARGET_SEC = float(os.environ.get("SPARK_GRAFT_SCALE_SEC", "30"))
KERNEL_CHECK_ON = os.environ.get("SPARK_GRAFT_KERNEL_CHECK", "1") != "0"


def sf_of(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else 0.1


def clips_parquet(n_rows: int) -> str:
    """Materialize (once) the deterministic clips table as parquet.

    Generated by multiprocessing + direct pyarrow writes — fixture
    preparation, not part of the timed benchmark.
    """
    from datasmith_spark import datagen

    path = os.path.join(ROOT, ".data", "clips_bench", f"n{n_rows}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        # enough files that the fused manifest scan can use every core twice
        datagen.write_clips_parquet(path, n_rows, rows_per_file=max(250, n_rows // 64))
    return path


def time_pipeline(spark, path: str, n_parts: int, fused: bool = True) -> dict:
    """Full filter chain over the cached clips parquet; returns wall + tput.

    fused=True uses the manifest scan (scan+rules+decode in one Python
    stage); False times the transfer path (JVM scan -> Arrow -> label kernel).
    Both produce identical labels (tests/test_scan_decode.py).
    """
    from pyspark.sql import functions as F

    from datasmith_spark.operators.scan_decode import scan_labels
    from datasmith_spark.pipeline import ARROW_BATCH, label_clips

    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH))

    def build():
        if fused:
            return scan_labels(spark, path, n_parts=n_parts)
        return label_clips(spark.read.parquet(path), n_parts=n_parts)

    agg = [F.count("*").alias("n"), F.sum(F.col("keep").cast("long")).alias("n_keep")]
    # sustained throughput: one untimed pass warms the worker pool (page
    # faults, model artifacts) — executors are long-lived on a real cluster;
    # then N timed end-to-end passes. The PRIMARY number is the MEDIAN of
    # the runs (the round's representative figure on this noisy host — a
    # single-shot or best-of reading can be a 2-3x outlier either way);
    # every run is recorded, with best-of attached under an explicit name.
    build().agg(*agg).collect()
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    walls, row = [], None

    def one_pass():
        nonlocal row
        t0 = time.time()
        row = build().agg(*agg).collect()[0]
        walls.append(time.time() - t0)

    for _ in range(max(n_runs, 1)):
        one_pass()
    # Same adaptive spread guard as the scaling phase: a burst of host
    # contention can land a 2-3x outlier even after the warmup pass (r4's
    # committed record opened with a 154.6 s run against 69/68 s siblings).
    # Append up to `extra` more timed passes — every run stays recorded and
    # the median is over ALL of them, so this can't inflate — until spread
    # (max/median) falls under 1.5x or the cap is hit.
    extra = int(os.environ.get("SPARK_GRAFT_BENCH_EXTRA", "2"))
    for _ in range(extra):
        if max(walls) / sorted(walls)[len(walls) // 2] < 1.5:
            break
        one_pass()
    med = sorted(walls)[len(walls) // 2]
    best = min(walls)
    return {
        "n_clips": int(row.n),
        "n_keep": int(row.n_keep),
        "wall_sec": round(med, 3),
        "clips_per_sec": round(row.n / med, 2),
        "runs": [round(w, 3) for w in walls],
        "best_wall_sec": round(best, 3),
        "best_clips_per_sec": round(row.n / best, 2),
    }


def run_queries(spark, sf_dir: str) -> dict[str, float]:
    import __spark_entry__ as e

    out: dict[str, float] = {}
    for name, fn in e.queries().items():
        t0 = time.time()
        df = fn(spark, sf_dir)
        n = df.count()
        out[name] = round(time.time() - t0, 3)
        assert n >= 0
    return out


def scaling_subprocess(path: str, cores: int, target_sec: float) -> dict:
    """Run the identical pipeline job in a fresh JVM confined to `cores` CPUs.

    local[N] alone does NOT model an N-core cluster: it bounds concurrent
    task slots, but each task slot drives a pipeline of several Python UDF
    workers plus JVM threads, all free to use every host core. taskset pins
    the whole process tree (JVM + forked workers inherit the affinity mask)
    to the TOP `cores` CPUs, so the N vs 4N comparison is a true
    hardware-resource comparison — the in-sandbox analogue of an N-executor
    vs 4N-executor cluster. Each trial is scripts/scale_probe.py: one
    warmup pass, then repeated timed passes until >= target_sec of work.
    """
    ncpu = os.cpu_count() or 32
    lo_cpu, hi_cpu = ncpu - cores, ncpu - 1
    cmd = [
        "taskset", "-c", f"{lo_cpu}-{hi_cpu}", sys.executable,
        os.path.join(ROOT, "scripts", "scale_probe.py"), str(cores), path, str(target_sec), "1",
    ]
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=3600)
    for line in r.stdout.splitlines():
        if line.startswith("RESULT::"):
            return json.loads(line[len("RESULT::"):])
    raise RuntimeError(f"scaling run (cores={cores}) failed:\n{r.stderr[-2000:]}")


def kernel_scaling_subprocess(path: str, lo: int, hi: int, trials: int, target_sec: float) -> dict:
    """No-JVM cross-check: identical fused kernel under plain multiprocessing
    (scripts/kernel_scaling.py) — the noise-floor scaling measurement."""
    cmd = [
        sys.executable, os.path.join(ROOT, "scripts", "kernel_scaling.py"),
        path, str(lo), str(hi), str(trials), str(target_sec),
    ]
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=3600)
    for line in r.stdout.splitlines():
        if line.startswith("RESULT::"):
            return json.loads(line[len("RESULT::"):])
    raise RuntimeError(f"kernel scaling run failed:\n{r.stderr[-2000:]}")


def run_scaling(path: str) -> dict:
    """Scaling phase. MUST run with no other JVM alive in this process tree:
    a resident pre-touched Spark driver heap (even after spark.stop() — the
    py4j gateway JVM lives until the python process exits) degrades
    taskset-pinned trials by >3x on this sandbox's kernel (measured), so
    bench runs this phase BEFORE creating its own session."""
    # 5 interleaved trials per level: the high (4-core) level carries ~15-17%
    # trial-to-trial spread on this multi-tenant host, and the median of 5 is
    # much sturdier than of 3 (the low level is naturally stable). When a
    # burst of host contention lands inside the window anyway (observed:
    # same-HEAD back-to-back runs at 0.73 and 0.85 median, spread >30% in
    # the high trials of the bad run), up to `extra` additional interleaved
    # trial PAIRS are appended — both levels equally, median over ALL trials,
    # never dropping any measurement — until the high-level relative spread
    # (max-min)/median falls under 25% or the cap is hit.
    trials = int(os.environ.get("SPARK_GRAFT_SCALE_TRIALS", "5"))
    extra = int(os.environ.get("SPARK_GRAFT_SCALE_EXTRA", "3"))
    los, his = [], []
    for _ in range(trials):
        los.append(scaling_subprocess(path, SCALING_LOW_CORES, SCALING_TARGET_SEC)["clips_per_sec"])
        his.append(scaling_subprocess(path, SCALING_HIGH_CORES, SCALING_TARGET_SEC)["clips_per_sec"])
    for _ in range(extra):
        hi_med = sorted(his)[len(his) // 2]
        if (max(his) - min(his)) / hi_med < 0.25:
            break
        los.append(scaling_subprocess(path, SCALING_LOW_CORES, SCALING_TARGET_SEC)["clips_per_sec"])
        his.append(scaling_subprocess(path, SCALING_HIGH_CORES, SCALING_TARGET_SEC)["clips_per_sec"])
    lo_med = sorted(los)[len(los) // 2]
    hi_med = sorted(his)[len(his) // 2]
    ratio = SCALING_HIGH_CORES / SCALING_LOW_CORES
    # primary `efficiency` = MEDIAN-based estimator (the conservative number);
    # the max-over-trials capability estimate is reported under an explicit
    # name — protocol rationale lives in BASELINE.md "Sandbox scaling protocol"
    out = {
        "cores_low": SCALING_LOW_CORES,
        "cores_high": SCALING_HIGH_CORES,
        "clips_per_sec_low": lo_med,
        "clips_per_sec_high": hi_med,
        "max_low": max(los),
        "max_high": max(his),
        "trials_low": los,
        "trials_high": his,
        "efficiency": round((hi_med / lo_med) / ratio, 3),
        "efficiency_capability_max": round((max(his) / max(los)) / ratio, 3),
    }
    if KERNEL_CHECK_ON:
        out["kernel_check"] = kernel_scaling_subprocess(
            path, SCALING_LOW_CORES, SCALING_HIGH_CORES,
            trials=2, target_sec=min(SCALING_TARGET_SEC, 20.0),
        )
    return out


def main() -> None:
    from datasmith_spark import datagen

    sf = sf_of(SF_DIR)
    n_rows = min(datagen.n_rows_for_sf(sf), BENCH_ROWS_CAP)
    path = clips_parquet(n_rows)
    scale_rows = min(n_rows, SCALING_ROWS_CAP)
    scale_path = path if scale_rows == n_rows else clips_parquet(scale_rows)

    # scaling first: it must not share the machine with bench's own JVM
    scaling = run_scaling(scale_path) if SCALING_ON else None

    from datasmith_spark.session import get_spark

    spark = get_spark(app="datasmith-bench", cores=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    pipeline = time_pipeline(spark, path, n_parts=64)
    queries = run_queries(spark, SF_DIR)
    spark.stop()

    result = {
        "metric": "clips_per_sec_end_to_end",
        "value": pipeline["wall_sec"],
        "unit": "sec",
        "queries": queries,
        "sf": sf,
        "rows": n_rows,                              # rows actually benchmarked
        "rows_full_sf": datagen.n_rows_for_sf(sf),   # full table at this sf
        "pipeline": pipeline,
    }
    if scaling is not None:
        result["scaling"] = dict(scaling, scaling_rows=scale_rows)

    # full record (incl. raw trials + kernel cross-check) to a side file; the
    # PRINTED line stays compact so the driver's tail capture always parses it
    full_path = os.path.join(ROOT, ".data", "bench_full.json")
    os.makedirs(os.path.dirname(full_path), exist_ok=True)
    with open(full_path, "w") as f:
        json.dump(result, f, indent=1)

    line = dict(result)
    line["queries"] = {k: round(v, 2) for k, v in queries.items()}
    if scaling is not None:
        line["scaling"] = {
            k: v
            for k, v in line["scaling"].items()
            if k not in ("trials_low", "trials_high", "kernel_check")
        }
    line["detail"] = full_path
    print(json.dumps(line))


if __name__ == "__main__":
    main()
