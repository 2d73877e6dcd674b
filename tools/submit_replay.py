"""spark-submit entry point for the CDC replay (north rule: "the job
runs via spark-submit --py-files at N and 4N executors").

    spark-submit --master local[8] \
        --py-files dist/etl_kafka_project_spark.zip \
        tools/submit_replay.py \
        --table-root /path/table --stream-dir /path/stream \
        --checkpoint /path/ckpt [--create] [--n-buckets 64] ...

No master is set here — spark-submit owns cluster placement, so the same
command line moves between local[N], YARN, and k8s untouched. Prints one
JSON line of replay stats. Build the zip with ``python tools/package.py``.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--table-root", required=True)
    ap.add_argument("--stream-dir", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--stream-id", default="replay")
    ap.add_argument("--create", action="store_true", help="CREATE TABLE first")
    ap.add_argument("--n-buckets", type=int, default=64)
    ap.add_argument("--max-files-per-trigger", type=int, default=None)
    ap.add_argument("--watermark", default=None)
    ap.add_argument("--source-format", choices=["parquet", "json"], default="parquet")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    # getOrCreate: master/executors/memory come from spark-submit
    spark = SparkSession.builder.appName("cdc-replay").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from etl_kafka_project_spark.cdc.merge import create_code_table
    from etl_kafka_project_spark.cdc.stream import ReplayJob
    from etl_kafka_project_spark.config import EngineConfig

    cfg = EngineConfig(n_buckets=args.n_buckets)
    if args.create:
        create_code_table(spark, args.table_root, cfg)

    job = ReplayJob(
        table_root=args.table_root,
        stream_dir=args.stream_dir,
        checkpoint_dir=args.checkpoint,
        config=cfg,
        stream_id=args.stream_id,
        max_files_per_trigger=args.max_files_per_trigger,
        watermark=args.watermark,
        source_format=args.source_format,
    )
    t0 = time.time()
    stats = job.run(spark)
    wall = time.time() - t0
    events = sum(s.events_in for s in stats)
    print(
        json.dumps(
            {
                "epochs": len(stats),
                "events": events,
                "wall_sec": round(wall, 3),
                "events_per_sec": round(events / wall, 1) if wall > 0 else None,
                "skipped_epochs": sum(1 for s in stats if s.skipped),
                "parallelism": spark.sparkContext.defaultParallelism,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
