"""spark-submit entry: table profiling pass — the read-only companion
to the validation jobs (what does this table LOOK like before writing
rules for it?).

Runs, in three Spark actions total regardless of column count:
  1. column_stats        (null rate, min/max, distinct, quantiles — 1 agg)
  2. heavy_hitters       (exact per-column top-k, 1 stacked agg + rank)
  3. drift snapshot      (histograms + numeric bounds — 2 actions),
     written to --snapshot for later drift_violations runs; or, with
     --baseline pointing at a previous snapshot, a PSI/KS(/chi2/JS)
     drift report against it instead.

Optional extra passes: --outlier-cols (IQR fence counts), --group-col
(per-group stats), --entropy-cols (Shannon entropy per categorical),
--corr x:y (Pearson r), --mi x:y (mutual information) — the
dataset/metrics.py Deequ-parity family on the job surface.

Usage:
  spark-submit --py-files protovalidate_spark.zip jobs/profile_table.py \
      [--table PATH] [--cols a,b,c] [--top-k 10] \
      [--snapshot OUT.json | --baseline PREV.json]

With no --table, profiles the driver testdata clips-shaped scalar
fixture columns on /root/testdata/sf0.01/lineitem.parquet's sibling —
default keeps the job runnable out of the box.
"""

import argparse
import json
import os
import sys
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--table",
                    default=os.path.join(REPO, "_fixtures",
                                         "clips_scalar.parquet"))
    ap.add_argument("--cols", default="")
    ap.add_argument("--top-k", type=int, default=10)
    ap.add_argument("--max-topk-distinct", type=int, default=100_000,
                    help="skip heavy-hitters for columns whose "
                         "approx-distinct exceeds this (ID-shaped)")
    ap.add_argument("--snapshot", default="")
    ap.add_argument("--baseline", default="")
    ap.add_argument("--outlier-cols", default="",
                    help="comma-separated numeric columns to run the "
                         "Tukey IQR fence outlier check on (reports the "
                         "flagged-row count per column)")
    ap.add_argument("--outlier-k", type=float, default=1.5)
    ap.add_argument("--entropy-cols", default="",
                    help="comma-separated columns to report Shannon "
                         "entropy (nats) for (one stacked melt+agg)")
    ap.add_argument("--entropy-group-col", default="",
                    help="with --entropy-cols: ALSO report per-group "
                         "entropy segmented by this column (catches "
                         "one shard collapsing while the global "
                         "entropy looks fine)")
    ap.add_argument("--corr", default="",
                    help="colX:colY — report Pearson correlation "
                         "(one single-row agg scan)")
    ap.add_argument("--mi", default="",
                    help="colX:colY — report mutual information in "
                         "nats (one joint groupBy)")
    ap.add_argument("--group-col", default="",
                    help="additionally print per-group stats for the "
                         "profiled columns grouped by this column "
                         "(one extra groupBy agg scan)")
    ap.add_argument("--suggest", action="store_true",
                    help="run constraint suggestion over the profiled "
                         "columns (dataset/suggest.py): prints the "
                         "suggested (column, rule, param) rows and "
                         "reports the count; the rows compile back "
                         "into the fluent DSL via build_ruleset")
    args = ap.parse_args()

    from protovalidate_spark.conf import apply_recommended
    spark = apply_recommended(
        SparkSession.builder.appName("protovalidate-profile")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from protovalidate_spark.dataset import (
        column_stats, drift_violations, heavy_hitters, load_snapshot,
        save_snapshot, snapshot,
    )

    df = spark.read.parquet(args.table)
    cols = ([c for c in args.cols.split(",") if c] or
            [c for c, t in df.dtypes if t != "binary"])
    unknown = [c for c in cols if c not in df.columns]
    if unknown:
        raise SystemExit(
            f"--cols names not in table: {unknown}; "
            f"available columns: {df.columns}")
    t0 = time.time()

    stats = column_stats(df, cols).collect()
    by_col = {r["column"]: r for r in stats}
    # ID-shaped columns (distinct ~ rows) have no meaningful top-k and
    # would pile their whole value set onto one rank-window reducer
    hh_cols = [c for c in cols
               if by_col[c]["approx_distinct"] <= args.max_topk_distinct]
    hh = heavy_hitters(df, hh_cols, k=args.top_k).collect() if hh_cols else []

    summary = {
        "table": args.table,
        "rows": stats[0]["n_rows"] if stats else 0,
        "columns": len(cols),
        "topk_columns": len(hh_cols),
        "drifted": None,
    }
    if args.baseline:
        base = load_snapshot(args.baseline)
        drifted = drift_violations(df, base,
                                   chi2_threshold=1.0, js_threshold=0.1)
        rows = drifted.collect()
        summary["drifted"] = len(rows)
        for r in rows:
            print(f"DRIFT {r['field_path']}: {r['actual']}", file=sys.stderr)
    elif args.snapshot:
        save_snapshot(snapshot(df, cols), args.snapshot)
        summary["snapshot"] = args.snapshot

    if args.outlier_cols:
        from protovalidate_spark.dataset import iqr_outlier_violations
        ocols = [c for c in args.outlier_cols.split(",") if c]
        bad = [c for c in ocols if c not in df.columns]
        if bad:
            raise SystemExit(f"--outlier-cols names not in table: {bad}")
        ov = iqr_outlier_violations(df, ocols, k=args.outlier_k)
        per = {r["field_path"]: r["cnt"] for r in
               ov.groupBy("field_path")
                 .agg(F.count(F.lit(1)).alias("cnt")).collect()}
        summary["outliers"] = {c: per.get(f"/{c}", 0) for c in ocols}

    if args.entropy_cols:
        from protovalidate_spark.dataset import column_entropy
        ecols = [c for c in args.entropy_cols.split(",") if c]
        bad = [c for c in ecols if c not in df.columns]
        if bad:
            raise SystemExit(f"--entropy-cols names not in table: {bad}")
        summary["entropy"] = {
            r["column"]: r["entropy"]
            for r in column_entropy(df, ecols).collect()}
        if args.entropy_group_col:
            from protovalidate_spark.dataset import grouped_column_entropy
            ge = grouped_column_entropy(
                df, args.entropy_group_col, ecols).collect()
            summary["entropy_groups"] = len(
                {r[args.entropy_group_col] for r in ge})
            print(f"\n== per-group entropy ({args.entropy_group_col}) ==",
                  file=sys.stderr)
            for r in sorted(ge, key=lambda r: (
                    str(r[args.entropy_group_col]), r["column"])):
                print(f"  {str(r[args.entropy_group_col]):>12s}."
                      f"{r['column']}: n={r['n']} H={r['entropy']}",
                      file=sys.stderr)

    if args.corr:
        from protovalidate_spark.dataset import correlation
        cx, cy = args.corr.split(":", 1)
        r = correlation(df, cx, cy).collect()[0]
        summary["corr"] = {"cols": [cx, cy], "n": r["n"], "r": r["r"]}

    if args.mi:
        from protovalidate_spark.dataset import mutual_information
        mx, my_ = args.mi.split(":", 1)
        r = mutual_information(df, mx, my_).collect()[0]
        summary["mi"] = {"cols": [mx, my_], "n": r["n"], "mi": r["mi"]}

    suggestions = []
    if args.suggest:
        from protovalidate_spark.dataset import suggest_rules
        suggestions = suggest_rules(df, cols).collect()
        summary["suggested_rules"] = len(suggestions)

    grouped = []
    if args.group_col:
        from protovalidate_spark.dataset import grouped_column_stats
        grouped = grouped_column_stats(
            df, args.group_col,
            [c for c in cols if c != args.group_col]).collect()
        summary["groups"] = len({r[args.group_col] for r in grouped})

    summary["wall_s"] = round(time.time() - t0, 2)

    print("\n== column stats ==", file=sys.stderr)
    for r in stats:
        print(f"  {r['column']:>12s} nulls={r['null_rate']:.4f} "
              f"distinct={r['approx_distinct']} min={r['min']} "
              f"max={r['max']}", file=sys.stderr)
    print("\n== heavy hitters ==", file=sys.stderr)
    for r in hh:
        print(f"  {r['column']:>12s} #{r['rank']}: {r['value']} "
              f"(n={r['n']})", file=sys.stderr)
    if suggestions:
        print("\n== suggested rules ==", file=sys.stderr)
        for r in suggestions:
            print(f"  {r['column']:>12s}.{r['rule']}"
                  f"({r['param']})  # {r['reason']}", file=sys.stderr)
    if grouped:
        print(f"\n== per-group stats ({args.group_col}) ==",
              file=sys.stderr)
        for r in grouped:
            print(f"  {str(r[args.group_col]):>12s}.{r['column']}: "
                  f"n={r['n_rows']} nulls={r['null_rate']:.4f} "
                  f"distinct={r['approx_distinct']} min={r['min']} "
                  f"max={r['max']}", file=sys.stderr)

    spark.stop()
    # last line: spark-submit merges stderr into stdout
    print(json.dumps(summary), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
