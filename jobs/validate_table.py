"""spark-submit entry: validate ANY table against a serialized rule set.

The declarative loop end-to-end: author rules in the fluent DSL (or get
them suggested — jobs/profile_table.py --suggest), persist them with
``save_ruleset`` (rules/serde.py), version the JSON beside the table
contract, and run this job against any table:

  spark-submit --py-files protovalidate_spark.zip jobs/validate_table.py \
      --table PATH --rules rules.json [--row-keys id] [--out DIR] \
      [--unique col[,col...]] [--max-exemplars K]

Prints the violations-by-rule table on stderr and then one JSON summary
line (rows, violations, by-rule counts) as the job's last line. With
--out, writes the violation rows as parquet (append-safe overwrite).
"""

import argparse
import json
import sys
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--table", required=True)
    ap.add_argument("--rules", default="",
                    help="JSON rule-set artifact (rules/serde.py "
                         "save_ruleset: the recorded builder calls, "
                         "replayed on load; e.g. from profile_table "
                         "--suggest + build_ruleset)")
    ap.add_argument("--suite", default="",
                    help="JSON ValidationSuite artifact "
                         "(suite_serde.py save_suite): the WHOLE table "
                         "contract — rules + uniqueness + refs + drift "
                         "baseline + bounds/metric/integrity specs — "
                         "run end-to-end; mutually exclusive with "
                         "--rules/--unique/--row-keys/--max-exemplars")
    ap.add_argument("--row-keys", default="",
                    help="comma-separated row-identity columns carried "
                         "on each violation row")
    ap.add_argument("--unique", default="",
                    help="comma-separated column groups (col or "
                         "col+col) to ALSO check dataset-level "
                         "uniqueness on")
    ap.add_argument("--out", default="")
    ap.add_argument("--max-exemplars", type=int, default=0)
    args = ap.parse_args()
    if bool(args.rules) == bool(args.suite):
        raise SystemExit("exactly one of --rules / --suite is required")
    ignored = [flag for flag, v in (("--unique", args.unique),
                                    ("--row-keys", args.row_keys),
                                    ("--max-exemplars", args.max_exemplars))
               if v]
    if args.suite and ignored:
        raise SystemExit(
            f"--suite carries its own uniqueness groups, row keys and "
            f"exemplar cap; {', '.join(ignored)} would be ignored — set "
            f"them in the suite artifact instead")

    from protovalidate_spark.conf import apply_recommended
    spark = apply_recommended(
        SparkSession.builder.appName("protovalidate-table")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from protovalidate_spark import load_ruleset
    from protovalidate_spark.errors import cap_exemplars, violation_summary
    from protovalidate_spark.rules.object import ObjectRuleSet

    if args.suite:
        from protovalidate_spark import load_suite
        suite = load_suite(args.suite, spark)
        df = spark.read.parquet(args.table)
        t0 = time.time()
        res = suite.run(df, persist=True)
        summary_rows = violation_summary(res.violations_full).collect()
        if args.out:
            res.violations.write.mode("overwrite").parquet(args.out)
        by_rule = {f"{r['field_path']}:{r['rule_id']}": r["violations"]
                   for r in sorted(summary_rows, key=lambda r: (
                       r["field_path"], r["rule_id"]))}
        _finish(spark, {
            "table": args.table, "suite": args.suite,
            "rows": df.count(),
            "violations": sum(by_rule.values()),
            "by_rule": by_rule,
            "wall_s": round(time.time() - t0, 2),
        })
        return

    rules = load_ruleset(args.rules)
    if not isinstance(rules, ObjectRuleSet):
        raise SystemExit(
            f"--rules must serialize an Object rule set; got "
            f"{type(rules).__name__}")

    df = spark.read.parquet(args.table)
    row_keys = [c for c in args.row_keys.split(",") if c]
    t0 = time.time()

    viols = rules.violations(df, row_key_cols=row_keys)
    if args.unique:
        from protovalidate_spark.dataset import unique_violations
        for group in args.unique.split(","):
            cols = [c for c in group.split("+") if c]
            uv = unique_violations(df, cols, row_key_cols=row_keys)
            viols = viols.unionByName(
                uv.select(viols.columns), allowMissingColumns=False)

    summary_rows = violation_summary(viols).collect()
    if args.max_exemplars and row_keys:
        viols = cap_exemplars(viols, row_keys, args.max_exemplars)
    if args.out:
        viols.write.mode("overwrite").parquet(args.out)
        n_materialized = spark.read.parquet(args.out).count()
    else:
        n_materialized = viols.count()

    by_rule = {f"{r['field_path']}:{r['rule_id']}": r["violations"]
               for r in sorted(summary_rows,
                               key=lambda r: (r["field_path"], r["rule_id"]))}
    _finish(spark, {
        "table": args.table, "rules": args.rules,
        "rows": df.count(),
        "violations": sum(by_rule.values()),
        "violation_rows_materialized": n_materialized,
        "by_rule": by_rule,
        "wall_s": round(time.time() - t0, 2),
    })


def _finish(spark, summary: dict) -> None:
    """Per-rule lines on stderr, then the JSON summary as the LAST line:
    spark-submit merges stderr into stdout, so a reader takes the tail."""
    for k, v in summary["by_rule"].items():
        print(f"  {k}: {v}", file=sys.stderr)
    spark.stop()
    print(json.dumps(summary), flush=True)


if __name__ == "__main__":
    main()
