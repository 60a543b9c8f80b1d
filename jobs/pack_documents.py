"""spark-submit entry: sequence-packing assignment over a documents
table (driver brief: training-pipeline ops launched the same way as
the validation jobs).

Computes each document's global token offset and start/end training-
window ids (pipeline/packing.py pack_offsets — distributed two-level
prefix sum, no single-reducer global window), writes the assignment
partitioned by ``chunk_bucket`` (= chunk_id // windows-per-bucket) so
a downstream example-builder range-prunes to one bucket of windows
without scanning the corpus — bucketing, not raw chunk_id, because one
directory per 2048-token window is a small-files explosion at any
real corpus size (~1e10 dirs at 100 TB) — and prints one JSON summary
line (documents, total tokens, windows, boundary-crossing docs, fill
of the final window).

Usage:
  spark-submit --py-files protovalidate_spark.zip jobs/pack_documents.py \
      [--table PATH] [--out DIR] [--window-tokens 2048] \
      [--windows-per-bucket 1024] [--id-col doc_id] [--text-col text]

With no --table, reads the driver testdata documents table
(/root/testdata/sf0.01/documents.parquet).
"""

import argparse
import json
import sys
import time

from pyspark.sql import SparkSession, functions as F


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--table",
                    default="/root/testdata/sf0.01/documents.parquet")
    ap.add_argument("--out", default="/tmp/protovalidate_pack_out")
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--window-tokens", type=int, default=2048)
    ap.add_argument("--windows-per-bucket", type=int, default=1024)
    args = ap.parse_args()

    from protovalidate_spark.conf import apply_recommended
    spark = apply_recommended(
        SparkSession.builder.appName("protovalidate-pack")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from protovalidate_spark.pipeline import pack_offsets

    df = spark.read.parquet(args.table)
    t0 = time.time()

    out = pack_offsets(df, args.id_col, text_col=args.text_col,
                       window_tokens=args.window_tokens)
    out = out.withColumn(
        "chunk_bucket", F.floor(F.col("chunk_id") / args.windows_per_bucket))
    out.write.mode("overwrite").partitionBy("chunk_bucket") \
       .parquet(args.out + "/assignment")

    written = spark.read.parquet(args.out + "/assignment")
    agg = written.agg(
        F.count("*").alias("docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum((F.col("chunk_end") > F.col("chunk_id")).cast("int"))
         .alias("boundary_crossing_docs")).collect()[0]
    total = int(agg["total_tokens"] or 0)
    # ceil(total/w), NOT max(chunk_end)+1: a trailing zero-token doc
    # sitting exactly on a window boundary would mint a phantom window
    windows = -(-total // args.window_tokens)

    summary = {
        "table": args.table,
        "docs": int(agg["docs"]),
        "total_tokens": total,
        "window_tokens": args.window_tokens,
        "windows": windows,
        "boundary_crossing_docs": int(agg["boundary_crossing_docs"] or 0),
        # concat-and-chunk has zero padding except the final partial
        # window; report how full it is (1.0 = the stream ends exactly
        # on a boundary)
        "last_window_fill": round(
            (total % args.window_tokens) / args.window_tokens, 6)
            if total % args.window_tokens else (1.0 if total else 0.0),
        "wall_s": round(time.time() - t0, 2),
        "out": args.out,
    }
    spark.stop()
    # last line: spark-submit merges stderr into stdout
    print(json.dumps(summary), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
