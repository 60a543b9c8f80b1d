"""spark-submit entry: full clips validation pass (BASELINE.json
north_rule launch path: ``spark-submit --py-files``).

Usage:
  spark-submit --py-files protovalidate_spark.zip jobs/validate_clips.py \
      [--table PATH] [--out DIR] [--rows N] [--resume]

With no --table, generates the deterministic fixture table first.
"""

import argparse
import json
import os
import sys
import time

from pyspark.sql import SparkSession


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--table", default="")
    ap.add_argument("--out", default="")
    ap.add_argument("--rows", type=int, default=0)
    ap.add_argument("--resume", action="store_true",
                    help="use the checkpointed per-partition runner")
    ap.add_argument("--max-exemplars", type=int, default=0,
                    help="bound the materialized violation rows to the K "
                         "deterministically smallest per (field_path, "
                         "rule_id); verdict counts stay exact (0 = keep "
                         "every violation row)")
    ap.add_argument("--audio-checks", action="store_true",
                    help="add PCM clipping/silence gates + speech-rate "
                         "consistency (same fused Arrow decode stage)")
    ap.add_argument("--level-checks", action="store_true",
                    help="add integrated-level (dBFS) + DC-offset capture "
                         "gates (same fused Arrow decode stage)")
    ap.add_argument("--vad-checks", action="store_true",
                    help="add energy-VAD gates: speech presence, max "
                         "silent gap, VAD-estimated min SNR (still one "
                         "fused Arrow decode stage)")
    ap.add_argument("--bandwidth-checks", action="store_true",
                    help="add the effective-bandwidth / upsample gate "
                         "(spectral rolloff vs Nyquist; still one fused "
                         "Arrow decode stage). NOTE: the synth tone "
                         "fixture is narrowband by construction, so on "
                         "it this flags most decodable clips")
    args = ap.parse_args()

    from protovalidate_spark.conf import apply_recommended
    spark = apply_recommended(
        SparkSession.builder.appName("protovalidate-clips")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from protovalidate_spark.clips import clips_suite
    from protovalidate_spark.fixtures import TINY, Profile, clips_df, write_clips
    from protovalidate_spark.runner import run_checkpointed, verdicts_from_outputs

    profile = Profile(n_rows=args.rows, dur_range_ms=1000) if args.rows else TINY
    suite = clips_suite(spark, audio_checks=args.audio_checks,
                        level_checks=args.level_checks,
                        vad_checks=args.vad_checks,
                        bandwidth_checks=args.bandwidth_checks)
    if args.max_exemplars > 0:
        import dataclasses
        suite = dataclasses.replace(
            suite, max_exemplars_per_rule=args.max_exemplars)
    t0 = time.time()

    if args.resume:
        table = args.table or "/tmp/protovalidate_clips_table"
        out = args.out or "/tmp/protovalidate_clips_out"
        if not args.table and not os.path.isdir(table):
            # generate once: a rewrite would change part-file names and
            # the runner's lineage check would (correctly) re-validate
            write_clips(spark, table, profile)
        rep = run_checkpointed(spark, suite, table, out)
        verdicts = verdicts_from_outputs(spark, out)
        print(json.dumps({
            "mode": "checkpointed", "partitions_run": rep.partitions_run,
            "partitions_skipped": rep.partitions_skipped,
            "partitions_stale": rep.partitions_stale,
            "manifest_torn_tail": rep.manifest_torn_tail,
            "rows": rep.total_rows, "violations": rep.total_violations,
            "wall_s": round(time.time() - t0, 2),
        }))
        verdicts.orderBy("part_date").show(20, truncate=False)
    else:
        df = (spark.read.parquet(args.table) if args.table
              else clips_df(spark, profile))
        res = suite.run(df)
        n_rows = df.count()
        # exact even when --max-exemplars caps the materialized rows:
        # violations_full is the pre-cap stream
        nv = (res.violations_full
              if res.violations_full is not None else res.violations).count()
        out = {
            "mode": "single-pass", "rows": n_rows, "violations": nv,
            "clips_per_sec": round(n_rows / (time.time() - t0), 1),
            "wall_s": round(time.time() - t0, 2),
        }
        if args.max_exemplars > 0:
            out["exemplar_rows"] = res.violations.count()
        print(json.dumps(out))
        res.verdicts.orderBy("part_date").show(5, truncate=False)
        res.violations.groupBy("field_path", "rule_id").count() \
           .orderBy("field_path", "rule_id").show(30, truncate=False)

    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
