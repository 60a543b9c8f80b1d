"""spark-submit entry: end-to-end AUDIO curation over a clips table
(pipeline/curate.py curate_clips) — decode/quality gates, spectral
content dedup (keep-smallest-id), transcript-label conflict drops —
writing kept rows + the violation-shaped drop report and printing one
JSON summary line.

Usage:
  spark-submit --py-files protovalidate_spark.zip jobs/curate_clips.py \
      [--table PATH] [--out DIR] [--min-dbfs -45] [--no-dedup]
      [--no-conflicts]

With no --table, synthesizes the deterministic TINY clips fixture (the
same table the validation jobs use).
"""

import argparse
import json
import time

from pyspark.sql import SparkSession


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--table", default="")
    ap.add_argument("--out", default="/tmp/protovalidate_curate_out")
    ap.add_argument("--id-col", default="clip_id")
    ap.add_argument("--bytes-col", default="bytes")
    ap.add_argument("--transcript-col", default="transcript")
    ap.add_argument("--max-clip-ratio", type=float, default=0.01)
    ap.add_argument("--max-silence-ratio", type=float, default=0.9)
    ap.add_argument("--min-dbfs", type=float, default=None,
                    help="opt-in integrated-level gate (e.g. -45)")
    ap.add_argument("--no-dedup", action="store_true")
    ap.add_argument("--no-conflicts", action="store_true")
    args = ap.parse_args()

    from protovalidate_spark.conf import apply_recommended
    spark = apply_recommended(
        SparkSession.builder.appName("protovalidate-curate")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from protovalidate_spark.pipeline import curate_clips

    if args.table:
        df = spark.read.parquet(args.table)
    else:
        from protovalidate_spark.fixtures import TINY, clips_df
        df = clips_df(spark, TINY)

    t0 = time.time()
    kept, dropped = curate_clips(
        df, args.id_col, args.bytes_col, args.transcript_col,
        max_clip_ratio=args.max_clip_ratio,
        max_silence_ratio=args.max_silence_ratio,
        min_dbfs=args.min_dbfs,
        content_dedup=not args.no_dedup,
        label_conflicts=not args.no_conflicts)
    dropped.write.mode("overwrite").parquet(args.out + "/dropped")
    kept.write.mode("overwrite").parquet(args.out + "/kept")
    n_in = df.count()
    n_kept = spark.read.parquet(args.out + "/kept").count()
    drops = spark.read.parquet(args.out + "/dropped")
    by_rule = {r["rule_id"]: r["n"] for r in
               drops.groupBy("rule_id").count()
               .withColumnRenamed("count", "n").collect()}
    summary = {
        "rows": n_in, "kept": n_kept,
        "dropped_rows": n_in - n_kept,
        "violation_rows": sum(by_rule.values()),
        "by_rule": dict(sorted(by_rule.items())),
        "wall_s": round(time.time() - t0, 2),
        "out": args.out,
    }
    spark.stop()
    # last line: spark-submit merges stderr into stdout
    print(json.dumps(summary), flush=True)


if __name__ == "__main__":
    main()
