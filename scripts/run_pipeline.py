"""spark-submit entry point for the curation pipeline.

Usage:
  spark-submit --py-files datasmith_spark.zip scripts/run_pipeline.py \
      --input synth:100000 --out .data/out/run1 --parts 64
  python scripts/run_pipeline.py --input /path/to/clips_parquet --out ...

--input accepts either a parquet path of clips
(clip_id, bytes, sr_hz, dur_ms, codec, transcript) or "synth:N" to generate
the deterministic synthetic table inline. Re-running with the same --out
resumes from partition checkpoints; --force recomputes everything.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="clips parquet path or synth:N")
    ap.add_argument("--out", required=True, help="output table directory")
    ap.add_argument("--parts", type=int, default=32)
    ap.add_argument("--force", action="store_true", help="bypass checkpoints (recompute all)")
    ap.add_argument("--cores", default=None, help="local[N] cores (default: env/all)")
    ap.add_argument(
        "--transfer-scan", action="store_true",
        help="scan clips through the JVM instead of the fused manifest scan",
    )
    ap.add_argument(
        "--no-fingerprint", action="store_true",
        help="skip the per-part input-fingerprint pre-scan (trust checkpoints by part id)",
    )
    ap.add_argument(
        "--catalog", default=None,
        help="SQL namespace for output tables (e.g. Iceberg 'local.db' or builtin "
        "'spark_catalog.curation'); default writes parquet directories under --out",
    )
    args = ap.parse_args()

    from datasmith_spark import datagen
    from datasmith_spark.pipeline import run_pipeline
    from datasmith_spark.session import get_spark

    spark = get_spark(app="datasmith-pipeline", cores=args.cores)
    spark.sparkContext.setLogLevel("WARN")

    clips, input_dir = None, None
    if args.input.startswith("synth:"):
        clips = datagen.clips_df(spark, int(args.input.split(":", 1)[1]))
    elif args.transfer_scan:
        clips = spark.read.parquet(args.input)
    else:
        input_dir = args.input  # fused manifest scan (default for parquet input)

    stats = run_pipeline(
        spark, clips, args.out, n_parts=args.parts, force=args.force, input_dir=input_dir,
        fingerprint=not args.no_fingerprint, catalog=args.catalog,
    )
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main()
