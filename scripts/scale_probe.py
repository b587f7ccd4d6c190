"""One taskset-pinned scaling trial: repeated fused-pipeline passes until a
target timed window is reached; prints aggregate clips/s.

Usage: scale_probe.py <cores> <path> [target_sec] [warmup=1]
Invoked via: taskset -c 0-<cores-1> python scripts/scale_probe.py ...
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    cores = int(sys.argv[1])
    path = sys.argv[2]
    target = float(sys.argv[3]) if len(sys.argv) > 3 else 45.0
    warmup = int(sys.argv[4]) if len(sys.argv) > 4 else 1

    from pyspark.sql import functions as F

    from datasmith_spark.operators.scan_decode import scan_labels
    from datasmith_spark.pipeline import ARROW_BATCH
    from datasmith_spark.session import get_spark

    # small pre-touched heap: the fused pipeline keeps label rows tiny, and a
    # 12g AlwaysPreTouch heap costs minutes of serialized page faults on a
    # 1-pinned-CPU trial (and its resident pages degrade other pinned JVMs)
    spark = get_spark(
        app=f"scale-probe-{cores}", cores=cores,
        driver_mem=os.environ.get("SPARK_GRAFT_PROBE_MEM", "3g"),
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH))

    agg = [F.count("*").alias("n"), F.sum(F.col("keep").cast("long")).alias("n_keep")]

    def one_pass():
        return scan_labels(spark, path, n_parts=64).agg(*agg).collect()[0]

    for _ in range(warmup):
        one_pass()

    t0 = time.time()
    total_rows, passes = 0, 0
    per_pass = []
    while True:
        p0 = time.time()
        row = one_pass()
        per_pass.append(round(time.time() - p0, 2))
        total_rows += int(row.n)
        passes += 1
        if time.time() - t0 >= target:
            break
    wall = time.time() - t0
    print("RESULT::" + json.dumps({
        "cores": cores, "passes": passes, "rows": total_rows,
        "wall_sec": round(wall, 2), "clips_per_sec": round(total_rows / wall, 2),
        "per_pass_sec": per_pass,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
