"""spark-submit entry: cross-row / cross-table integrity pass
(dataset/integrity.py) — the Deequ-style constraint family as a
submitted job: per-key monotonicity, per-partition volume anomalies,
calendar completeness, and optional fact↔dim aggregate reconciliation.

Usage:
  spark-submit --py-files protovalidate_spark.zip jobs/integrity_table.py \
      [--table PATH] [--monotonic key:order:value] \
      [--volume-col COL --max-rel-dev 0.5] [--calendar-col COL] \
      [--reconcile dim_path:fact_key:dim_key:sum_col:dim_col:rel_tol] \
      [--fd key_cols:dep_col] [--group-size key_cols:min:max] \
      [--freshness ts_col:max_age_hours:as_of[:group_col]] \
      [--out DIR]

With no args it runs the TPC-H-shaped demo on the driver testdata:
monotonic l_shipdate per order, daily order-volume anomalies, and the
order-date calendar — runnable out of the box.
"""

import argparse
import json
import os
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--table", default=os.path.join(SF, "lineitem.parquet"))
    ap.add_argument("--monotonic", default="l_orderkey:l_linenumber,l_shipdate:l_shipdate",
                    help="key_cols:order_cols:value_col (comma-lists)")
    ap.add_argument("--volume-col", default="")
    ap.add_argument("--max-rel-dev", type=float, default=0.5)
    ap.add_argument("--calendar-col", default="")
    ap.add_argument("--reconcile", default=os.path.join(
        SF, "orders.parquet") + ":l_orderkey:o_orderkey:"
        "l_extendedprice:o_totalprice:0.25",
        help="dim_path:fact_key:dim_key:sum_col:dim_col:rel_tol "
             "('' disables)")
    ap.add_argument("--fd", default="",
                    help="key_cols:dep_col (comma-list keys) — "
                         "functional-dependency contract")
    ap.add_argument("--group-size", default="",
                    help="key_cols:min:max (either bound may be '') — "
                         "per-key cardinality bounds")
    ap.add_argument("--freshness", default="",
                    help="ts_col:max_age_hours:as_of[:group_col] — "
                         "as_of is a pinned 'YYYY-MM-DD HH:MM:SS'")
    ap.add_argument("--out", default="")
    args = ap.parse_args()

    from protovalidate_spark.conf import apply_recommended
    spark = apply_recommended(
        SparkSession.builder.appName("protovalidate-integrity")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from protovalidate_spark.dataset import (
        calendar_gap_violations, freshness_violations,
        functional_dependency_violations, group_size_violations,
        monotonic_violations, reconciliation_violations, volume_anomalies,
    )

    df = spark.read.parquet(args.table)
    t0 = time.time()
    parts, counts = [], {}

    if args.monotonic:
        keys, orders, value = args.monotonic.split(":")
        v = monotonic_violations(df, keys.split(","), orders.split(","),
                                 value)
        parts.append(("monotonic", v))
    if args.volume_col:
        parts.append(("volume", volume_anomalies(
            df, F.col(args.volume_col), args.volume_col,
            max_rel_dev=args.max_rel_dev)))
    if args.calendar_col:
        parts.append(("calendar", calendar_gap_violations(
            df, F.col(args.calendar_col), args.calendar_col)))
    if args.reconcile:
        dim_path, fk, dk, sum_col, dim_col, tol = args.reconcile.rsplit(
            ":", 5)
        dim = spark.read.parquet(dim_path)
        parts.append(("reconcile", reconciliation_violations(
            df, dim, fk, dk, F.sum(F.col(sum_col)), dim_col,
            rel_tol=float(tol))))
    if args.fd:
        keys, dep = args.fd.split(":")
        parts.append(("fd", functional_dependency_violations(
            df, keys.split(","), dep)))
    if args.group_size:
        keys, lo, hi = args.group_size.split(":")
        parts.append(("group_size", group_size_violations(
            df, keys.split(","),
            min_n=int(lo) if lo else None,
            max_n=int(hi) if hi else None)))
    if args.freshness:
        bits = args.freshness.split(":")
        ts_col, hours = bits[0], float(bits[1])
        if len(bits) >= 5:        # as_of carries HH:MM:SS colons
            as_of = ":".join(bits[2:5])
            group = bits[5] if len(bits) > 5 else None
        else:                     # date-only as_of
            as_of = bits[2]
            group = bits[3] if len(bits) > 3 else None
        parts.append(("freshness", freshness_violations(
            df, F.col(ts_col), ts_col, hours, as_of, group_col=group)))

    for name, v in parts:
        counts[name] = v.count()
        if args.out:
            v.write.mode("overwrite").parquet(
                os.path.join(args.out, name))

    summary = {"table": args.table, "violations": counts,
               "wall_s": round(time.time() - t0, 2)}
    summary["by_rule"] = {
        f"{name}.{r['rule_id']}": r["count"] for name, v in parts
        for r in v.groupBy("rule_id").count().orderBy("rule_id").collect()}
    spark.stop()
    # last line: spark-submit merges stderr into stdout
    print(json.dumps(summary), flush=True)


if __name__ == "__main__":
    main()
