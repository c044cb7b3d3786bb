"""spark-submit entrypoint for the CDC replay.

Cluster usage (the packaging story required by the north rule)::

    python tools/make_pyfiles.py                       # builds dist/etl_documentos_spark.zip
    spark-submit --py-files dist/etl_documentos_spark.zip \
        tools/submit_replay.py \
        --events /data/change_stream --table /lake/transcripts \
        --workdir /lake/_cdc --mode mor --stream --checkpoint /lake/_ckpt

Local smoke: same command with --master local[8] and temp paths.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", required=True, help="change-stream directory")
    ap.add_argument("--table", required=True, help="lake table root")
    ap.add_argument("--workdir", required=True, help="commits/lineage/metrics dir")
    ap.add_argument("--mode", default="mor", choices=["mor", "cow"],
                    help="mor: append delta files, compact a bucket past "
                    "the file threshold; cow: append, then compact every "
                    "bucket an epoch touched")
    ap.add_argument("--num-buckets", type=int, default=32)
    ap.add_argument("--stream", action="store_true",
                    help="tail via Structured Streaming (else batch replay)")
    ap.add_argument("--checkpoint", default=None)
    ap.add_argument("--lateness-seconds", type=float, default=None,
                    help="bounded lateness: expire delete tombstones older "
                    "than (max event ts - this) at compaction")
    ap.add_argument("--bulk", action="store_true",
                    help="backfill: apply all epochs as one super-batch")
    ap.add_argument("--master", default=None,
                    help="override master (defaults to spark-submit's)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from etl_documentos_spark.lake.table import LakeTable
    from etl_documentos_spark.operators.merge import physical_schema
    from etl_documentos_spark.schemas import TRANSCRIPTS
    from etl_documentos_spark.streaming.apply import CdcPipeline
    from etl_documentos_spark.streaming.stream import (
        replay_epochs,
        run_stream_until_drained,
    )

    builder = SparkSession.builder.appName("cdc-replay")
    if args.master:
        builder = builder.master(args.master)
    spark = (
        builder.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )

    if not LakeTable.exists(args.table):
        LakeTable.create(
            args.table, physical_schema(TRANSCRIPTS), num_buckets=args.num_buckets
        )
    pipeline = CdcPipeline(
        spark,
        args.table,
        args.workdir,
        mode=args.mode,
        lateness_seconds=args.lateness_seconds,
    )

    t0 = time.monotonic()
    if args.bulk:
        from etl_documentos_spark.streaming.stream import replay_bulk

        results = replay_bulk(pipeline, args.events)
        dt = time.monotonic() - t0
        n = sum(r.events for r in results)
        print(
            json.dumps(
                {
                    "mode": "bulk",
                    "epochs": len(results),
                    "skipped": sum(r.skipped for r in results),
                    "events": n,
                    "seconds": round(dt, 2),
                    "events_per_sec": round(n / dt, 1) if dt > 0 else 0.0,
                }
            )
        )
    elif args.stream:
        ckpt = args.checkpoint or os.path.join(args.workdir, "checkpoint")
        run_stream_until_drained(pipeline, args.events, ckpt)
        # per-epoch throughput lives in the metrics table (workdir/metrics)
        print(
            json.dumps({"mode": "stream", "seconds": round(time.monotonic() - t0, 2)})
        )
    else:
        results = replay_epochs(pipeline, args.events)
        dt = time.monotonic() - t0
        n = sum(r.events for r in results)
        print(
            json.dumps(
                {
                    "mode": "batch",
                    "epochs": len(results),
                    "skipped": sum(r.skipped for r in results),
                    "events": n,
                    "seconds": round(dt, 2),
                    "events_per_sec": round(n / dt, 1) if dt > 0 else 0.0,
                }
            )
        )


if __name__ == "__main__":
    main()
