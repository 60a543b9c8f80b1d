"""spark-submit entry: streaming clips validation.

The batch suite's row-level plan (rules + Arrow decode + consistency)
applied over a file-source stream with checkpointed resume — the
engine's Structured Streaming surface (protovalidate_spark.streaming).

Usage:
  spark-submit --py-files protovalidate_spark.zip jobs/stream_clips.py \
      [--table PATH] [--out DIR] [--rows N]

With no --table, generates the deterministic fixture first. availableNow
drains the backlog and exits (re-run with the same --out to verify the
checkpoint skips processed files).
"""

import argparse
import json
import sys
import time

from pyspark.sql import SparkSession


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--table", default="")
    ap.add_argument("--out", default="/tmp/protovalidate_stream_out")
    ap.add_argument("--rows", type=int, default=0)
    ap.add_argument("--audio-checks", action="store_true",
                    help="add PCM clipping/silence gates + speech-rate "
                         "consistency to the streamed row plan")
    args = ap.parse_args()

    from protovalidate_spark.conf import apply_recommended
    spark = apply_recommended(
        SparkSession.builder.appName("protovalidate-clips-stream")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from protovalidate_spark.clips import clips_suite
    from protovalidate_spark.fixtures import TINY, Profile, write_clips
    from protovalidate_spark.streaming import write_violations_stream

    import os
    table = args.table or "/tmp/protovalidate_stream_table"
    if not args.table and not os.path.exists(table):
        # generate only once — a re-run must see NO new files so the
        # checkpoint proves incremental resume (0 new violations)
        profile = Profile(n_rows=args.rows, dur_range_ms=1000) if args.rows \
            else TINY
        write_clips(spark, table, profile)

    schema = spark.read.parquet(table).schema
    suite = clips_suite(spark, audio_checks=args.audio_checks)
    t0 = time.time()
    stream = spark.readStream.schema(schema).parquet(table)
    v = suite.row_violations(stream)
    q = write_violations_stream(
        v, path=f"{args.out}/violations",
        checkpoint=f"{args.out}/_checkpoint")
    q.awaitTermination()

    viols = spark.read.parquet(f"{args.out}/violations")
    summary = {
        "mode": "streaming-availableNow",
        "violations": viols.count(),
        "wall_s": round(time.time() - t0, 2),
    }
    viols.groupBy("field_path", "rule_id").count() \
         .orderBy("field_path", "rule_id").show(30, truncate=False)
    spark.stop()
    # last line: spark-submit merges stderr into stdout
    print(json.dumps(summary), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
