"""spark-submit entry: transcript-label conflict gate over a clips
table (audio/consistency.py) — same-audio/different-transcript
labeling errors, in both key modes:

  1. exact   — byte-identical audio (md5 key, pure JVM)
  2. content — spectral-fingerprint identity (catches re-encoded +
               relabeled copies exact hashing cannot see)

Writes each mode's violation rows to ``--out``/{exact,content} and
prints one JSON summary line.

Usage:
  spark-submit --py-files protovalidate_spark.zip jobs/label_conflicts.py \
      [--table PATH] [--out DIR] [--edit-tolerance N] [--skip-content]

With no --table, reads the committed labeled fixture
(_fixtures/clips_labeled.parquet — input_hint clips schema).
"""

import argparse
import json
import os
import time

from pyspark.sql import SparkSession

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--table", default=os.path.join(
        REPO, "_fixtures", "clips_labeled.parquet"))
    ap.add_argument("--out", default="/tmp/protovalidate_conflicts_out")
    ap.add_argument("--id-col", default="clip_id")
    ap.add_argument("--bytes-col", default="bytes")
    ap.add_argument("--transcript-col", default="transcript")
    ap.add_argument("--edit-tolerance", type=int, default=0)
    ap.add_argument("--skip-content", action="store_true",
                    help="exact mode only (skip the Arrow decode stage)")
    args = ap.parse_args()

    from protovalidate_spark.conf import apply_recommended
    spark = apply_recommended(
        SparkSession.builder.appName("protovalidate-label-conflicts")
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from protovalidate_spark.audio import transcript_conflict_violations

    df = spark.read.parquet(args.table)
    t0 = time.time()

    kw = dict(id_col=args.id_col, bytes_col=args.bytes_col,
              transcript_col=args.transcript_col,
              row_key_cols=(args.id_col,),
              edit_tolerance=args.edit_tolerance)
    exact = transcript_conflict_violations(df, key="exact", **kw)
    exact.write.mode("overwrite").parquet(args.out + "/exact")
    n_exact = spark.read.parquet(args.out + "/exact").count()

    n_content = None
    if not args.skip_content:
        content = transcript_conflict_violations(df, key="content", **kw)
        content.write.mode("overwrite").parquet(args.out + "/content")
        n_content = spark.read.parquet(args.out + "/content").count()

    summary = {
        "table": args.table,
        "rows": df.count(),
        "exact_conflict_rows": n_exact,
        "content_conflict_rows": n_content,
        "edit_tolerance": args.edit_tolerance,
        "wall_s": round(time.time() - t0, 1),
        "out": args.out,
    }
    spark.stop()
    # last line: spark-submit merges stderr into stdout
    print(json.dumps(summary), flush=True)


if __name__ == "__main__":
    main()
