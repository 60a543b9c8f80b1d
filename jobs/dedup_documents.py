"""spark-submit entry: training-data dedup pipeline over a documents
table (driver brief: dedup as first-class pipeline ops, launched the
same way as the validation jobs).

Runs, in one job:
  1. exact duplicates   (md5 fingerprint → groupBy → broadcast join-back)
  2. MinHash-LSH near-dups verified by exact n-gram Jaccard
     (hashed-shingle stage computed once)
  3. SimHash near-dups  (prefix-bucket + in-bucket XOR-popcount)
and writes each result to ``--out``/{exact,minhash,simhash}, printing one
JSON summary line.

Usage:
  spark-submit --py-files protovalidate_spark.zip jobs/dedup_documents.py \
      [--table PATH] [--out DIR] [--threshold 0.7]

With no --table, reads the driver testdata documents table
(/root/testdata/sf0.01/documents.parquet).
"""

import argparse
import json
import sys
import time

from pyspark.sql import SparkSession


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--table", default="/root/testdata/sf0.01/documents.parquet")
    ap.add_argument("--out", default="/tmp/protovalidate_dedup_out")
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--threshold", type=float, default=0.7)
    ap.add_argument("--max-hamming", type=int, default=6)
    args = ap.parse_args()

    from protovalidate_spark.conf import apply_recommended
    spark = apply_recommended(
        SparkSession.builder.appName("protovalidate-dedup")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from protovalidate_spark.pipeline import (
        exact_duplicates, ngram_jaccard_dedup, simhash_near_dups)

    df = spark.read.parquet(args.table)
    t0 = time.time()

    exact = exact_duplicates(df, args.id_col, args.text_col)
    exact.write.mode("overwrite").parquet(args.out + "/exact")
    n_exact = spark.read.parquet(args.out + "/exact").count()

    near = ngram_jaccard_dedup(df, args.id_col, args.text_col,
                               threshold=args.threshold)
    near.write.mode("overwrite").parquet(args.out + "/minhash")
    n_near = spark.read.parquet(args.out + "/minhash").count()

    sim = simhash_near_dups(df, args.id_col, args.text_col,
                            max_hamming=args.max_hamming)
    sim.write.mode("overwrite").parquet(args.out + "/simhash")
    n_sim = spark.read.parquet(args.out + "/simhash").count()

    summary = {
        "table": args.table,
        "rows": df.count(),
        "exact_dup_rows": n_exact,
        "minhash_pairs": n_near,
        "simhash_pairs": n_sim,
        "wall_s": round(time.time() - t0, 2),
        "out": args.out,
    }
    spark.stop()
    # last line: spark-submit merges stderr into stdout
    print(json.dumps(summary), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
