"""Curation benchmark entry point.

    python3 perfbench/run.py --workload batch_full --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --smoke

One run sets up (Spark session, seed-selected inputs, oracle labels,
warm-up), runs the workload for --seconds, checks every output against the
oracle, and prints one JSON object as the last line of stdout:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones (and writes the spans to
perfbench/.out/). --smoke runs every workload, traced and untraced, on tiny
inputs. Metric definitions: perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import sys
import tempfile
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
DRIVER_MEM = "3g"  # leaves room for 4 workers and the input in the page cache on a 15 GB host


def _confine(work: Path) -> None:
    """Keep every temporary file of this process, the JVM and the Python
    workers inside the work directory."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # _JAVA_OPTIONS is applied after the command line, so it wins over the
    # java.io.tmpdir get_spark passes; no hsperfdata files in /tmp either
    os.environ["_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.setdefault("SPARK_GRAFT_LOG_LEVEL", "WARNING")


@contextlib.contextmanager
def _makedirs_within(root: Path, fallback: Path):
    """session.get_spark creates an absolute directory named in its source
    for the JVM's temp files (_JAVA_OPTIONS points the JVM elsewhere). In a
    checkout at another path that directory is outside the checkout, so
    create `fallback` instead of any directory outside `root`."""
    real = os.makedirs

    def makedirs(name, *args, **kwargs):
        if not os.path.abspath(name).startswith(str(root) + os.sep):
            name = fallback
        return real(name, *args, **kwargs)

    os.makedirs = makedirs
    try:
        yield
    finally:
        os.makedirs = real


def _descendants() -> list[int]:
    from perfbench.probes import child_map

    kids, todo, out = child_map(), [os.getpid()], []
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every process it started."""
    from pyspark import SparkContext

    pids = _descendants()
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        gw.proc.stdin.close()  # the gateway JVM exits on EOF
        gw.proc.wait(timeout=60)
    deadline = time.time() + 30
    for p in pids:
        while os.path.exists(f"/proc/{p}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{p}"):
            with contextlib.suppress(ProcessLookupError):
                os.kill(p, signal.SIGKILL)


def host_info() -> dict:
    pages = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(pages / 2**30, 1),
        "free_disk_gb": round(shutil.disk_usage(BENCH).free / 2**30, 1),
        "driver_mem": DRIVER_MEM,
    }


def start_spark(work: Path, nproc: int):
    from datasmith_spark.session import get_spark

    with _makedirs_within(ROOT, work / "tmp"):
        spark = get_spark(app="perfbench", cores=nproc, driver_mem=DRIVER_MEM)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _metrics(names: dict, values: dict) -> dict:
    return {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in names.items()}


def run(workload: str, seed: int, seconds: float, trace: bool, sizes, spark, work: Path,
        session_s: float) -> dict:
    from perfbench import inputs, workloads

    ctx = workloads.Ctx(
        spark=spark, workload=workload, pool=inputs.Pool(BENCH / ".cache", sizes), seed=seed, seconds=seconds,
        trace=trace, work=work, procs=len(os.sched_getaffinity(0)), out=BENCH / ".out",
        setup={"setup.session_s": session_s},
    )
    res = workloads.WORKLOADS[workload](ctx)
    setup_s = sum(ctx.setup.values())
    if trace:
        metrics = _metrics(workloads.LAYER_UNITS, {**res.layers, **ctx.setup})
    else:
        metrics = _metrics(workloads.E2E_UNITS, {**res.e2e, "setup_s": setup_s})
    return {"correct": bool(res.correct and ctx.reference_ok), "attempted": int(res.attempted),
            "failed": int(res.failed), "metrics": metrics}


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=["batch_full", "stream_ingest"])
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="every workload, traced and untraced, on tiny inputs")
    args = ap.parse_args(argv)
    if not args.smoke and not args.workload:
        ap.error("--workload is required unless --smoke")

    sys.path.insert(0, str(ROOT))
    import datasmith_spark  # noqa: F401  (fail before any set-up when the program is absent)

    from perfbench import inputs

    work = BENCH / ".work" / f"{args.workload or 'smoke'}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    _confine(work)
    host = host_info()
    print(json.dumps({"host": host}), flush=True)
    spark = None
    try:
        t = time.perf_counter()
        spark = start_spark(work, host["nproc"])
        session_s = time.perf_counter() - t
        if not args.smoke:
            out = run(args.workload, args.seed, args.seconds, bool(args.trace), inputs.FULL,
                      spark, work / "run", session_s)
        else:
            runs = {}
            for w in ("batch_full", "stream_ingest"):
                for tr in (0, 1):
                    runs[f"{w}.trace{tr}"] = run(w, args.seed, 3, bool(tr), inputs.SMOKE,
                                                 spark, work / f"{w}-{tr}", session_s)
                    print(json.dumps({f"{w}.trace{tr}": runs[f"{w}.trace{tr}"]}), flush=True)
            out = {
                "correct": all(r["correct"] for r in runs.values()),
                "attempted": sum(r["attempted"] for r in runs.values()),
                "failed": sum(r["failed"] for r in runs.values()),
                "metrics": {f"{k}.{m}": v for k, r in runs.items() for m, v in r["metrics"].items()},
            }
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
