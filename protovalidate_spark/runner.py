"""Checkpointed partition runner: per-partition validation with a resume
manifest (FIXTURES.md §5; BASELINE.json north_rule "resumable from
checkpoint with per-partition lineage + metrics").

Iceberg-style layout: the input is a ``part_date=...`` directory-partitioned
Parquet table (a real Iceberg catalog slots in by replacing
``list_partitions``/``read_partition`` with snapshot + manifest reads).

Manifest: one JSON line per completed partition —
(part, snapshot_id, file_list, rows_scanned, violations, wall_ms,
completed_at, status). ``status`` is ``complete`` (default, also assumed
for manifests written before the field existed), ``TIMEOUT`` (the
partition's wall-clock budget expired mid-job — the job was cancelled)
or ``CANCELED`` (the whole-run budget expired before the partition
started). A rerun skips only ``complete`` partitions (resume; the LAST
line per partition wins, so a retried partition's ``complete`` rec
supersedes its earlier ``TIMEOUT`` rec), then re-runs the GLOBAL phase
(uniqueness/ref/drift span partitions) and records it under the
``__global__`` key — unless lineage proves the table unchanged since the
last global pass, in which case the recorded result is reused and the
rerun performs zero table scans.

Each record is ONE fsynced write, so a run killed mid-append leaves at
most a torn LAST line: readers skip it, and the next run cuts it before
appending and reports it (``RunReport.manifest_torn_tail``). An
unparseable line anywhere else is corruption and raises.

Lineage-verified resume: a ``complete`` record is trusted only while the
partition's CURRENT data-file list still equals the recorded
``file_list`` — a partition rewritten between runs (late-arriving files,
compaction, backfill) is re-validated, not skipped. File-name equality
is the Iceberg comparison: writers never reuse data-file names (UUID
part files / Iceberg data paths), so any rewrite changes the set. The
re-run appends a fresh ``complete`` rec (last-line-wins) with the new
lineage. Pure APPENDS (recorded file set ⊂ current — the dominant
Iceberg commit shape) are cheaper still: row-level checks are
file-composable, so only the NEW files are scanned, their violations
appended to the partition's sink, and the manifest totals summed with
the prior rec (``appended_files`` records the delta size). Any other
divergence (compaction, rewrite, shrink) re-validates the whole
partition. Disable with ``verify_lineage=False`` to get blind
skip-if-recorded semantics.

Timeout/cancel semantics mirror the reference's context handling
(``pkg/rules/object.go:416-427``, ``slice.go:289-292``: ctx deadline ⇒
``TIMEOUT``, ctx cancel ⇒ ``CANCELED``, both first-class validation
errors): an over-budget partition emits a violation ROW (rule_id=TIMEOUT,
field_path="/") into its violations sink and stays resumable; partitions
never started because the run budget expired are recorded CANCELED.

Scale notes: each partition job reads ONLY its directory (partition
pruning); violations stream to a partitioned Parquet sink; the manifest is
O(partitions). At very high partition cardinality, ``partitions_per_job``
unions N partitions into one Spark job (per-partition rows/violations
still ride the same job via conditional Observation aggregates) so the
driver's job-scheduling overhead is O(partitions/N). Skew: a hot
partition (70% ``wav``) still parallelizes internally across its
files/row-groups; dataset-level aggs use map-side partial aggregation +
optional salting (see dataset/uniqueness.py).
"""

from __future__ import annotations

import json
import logging
import os
import threading
import time
from dataclasses import dataclass, field
from typing import List, Optional

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .errors import Code
from .sources import (read_partition, read_partition_files, read_table,
                      table_partitions, table_snapshot_id)
from .suite import ValidationSuite

log = logging.getLogger(__name__)

MANIFEST_NAME = "manifest.jsonl"
GLOBAL_KEY = "__global__"
STATUS_COMPLETE = "complete"


def list_partitions(table_path: str, partition_col: str) -> List[str]:
    vals = []
    for name in sorted(os.listdir(table_path)):
        if name.startswith(f"{partition_col}="):
            vals.append(name.split("=", 1)[1])
    return vals


def partition_files(table_path: str, partition_col: str, value: str) -> List[str]:
    d = os.path.join(table_path, f"{partition_col}={value}")
    return sorted(
        os.path.join(d, f) for f in os.listdir(d)
        if f.endswith(".parquet")
    )


def _scan_manifest(path: str):
    """(records, byte offset where a torn trailing line starts or None,
    file bytes). A run killed mid-append leaves at most the LAST line
    torn; an unparseable line anywhere else is corruption and raises."""
    with open(path, "rb") as f:
        data = f.read()
    recs, pos, torn_at = [], 0, None
    for line in data.splitlines(keepends=True):
        if line.strip():
            try:
                recs.append(json.loads(line))
            except ValueError:
                if data[pos + len(line):].strip():
                    raise ValueError(
                        f"{path}: corrupt manifest record at byte {pos}")
                torn_at = pos
                break
        pos += len(line)
    return recs, torn_at, data


def read_manifest(manifest_dir: str) -> dict:
    """Latest manifest record per partition (append-only file, last line
    wins — a retry's ``complete`` supersedes an earlier ``TIMEOUT``).
    A torn trailing line is skipped with a warning."""
    path = os.path.join(manifest_dir, MANIFEST_NAME)
    done = {}
    if os.path.exists(path):
        recs, torn_at, data = _scan_manifest(path)
        if torn_at is not None:
            log.warning("%s: skipping torn trailing record %r", path,
                        data[torn_at:])
        for rec in recs:
            done[rec["part"]] = rec
    return done


def repair_manifest(manifest_dir: str) -> Optional[str]:
    """Cut a torn trailing line off the manifest (a run killed mid-
    append) so the next append starts on a fresh line; returns the
    dropped text, or None when the file was whole."""
    path = os.path.join(manifest_dir, MANIFEST_NAME)
    if not os.path.exists(path):
        return None
    _, torn_at, data = _scan_manifest(path)
    keep = len(data) if torn_at is None else torn_at
    # a whole record killed before its newline keeps the record
    newline = keep > 0 and data[keep - 1:keep] != b"\n"
    if keep == len(data) and not newline:
        return None
    with open(path, "r+b") as f:
        f.truncate(keep)
        if newline:
            f.seek(keep)
            f.write(b"\n")
        f.flush()
        os.fsync(f.fileno())
    if torn_at is None:
        return None
    dropped = data[torn_at:].decode("utf-8", "replace")
    log.warning("%s: cut torn trailing record %r", path, dropped)
    return dropped


def completed_partitions(manifest_dir: str) -> dict:
    """Manifest records that count as done for resume purposes."""
    return {p: r for p, r in read_manifest(manifest_dir).items()
            if r.get("status", STATUS_COMPLETE) == STATUS_COMPLETE}


def append_manifest(manifest_dir: str, rec: dict) -> None:
    """One write per record, flushed and fsynced: a crash leaves at most
    a torn LAST line, which :func:`repair_manifest` cuts."""
    os.makedirs(manifest_dir, exist_ok=True)
    line = (json.dumps(rec) + "\n").encode()
    with open(os.path.join(manifest_dir, MANIFEST_NAME), "ab") as f:
        f.write(line)
        f.flush()
        os.fsync(f.fileno())


@dataclass
class RunReport:
    partitions_run: List[str]
    partitions_skipped: List[str]
    total_rows: int
    total_violations: int
    partitions_timed_out: List[str] = field(default_factory=list)
    partitions_canceled: List[str] = field(default_factory=list)
    # complete in the manifest but re-run because the partition's current
    # file list diverged from the recorded lineage (also in partitions_run)
    partitions_stale: List[str] = field(default_factory=list)
    # text of a torn trailing manifest line (a run killed mid-append)
    # that this run cut before appending, else None
    manifest_torn_tail: Optional[str] = None


def stale_partitions(done: dict, table_path: str, partition_col: str) -> List[str]:
    """Completed-manifest partitions whose recorded ``file_list`` lineage no
    longer matches the partition directory's current data files. Only
    meaningful for directory-backed tables (the Iceberg seam compares
    manifest data-file paths instead)."""
    return [pv for pv, _, _ in
            classify_stale(done, table_path, partition_col)]


def classify_stale(done: dict, table_path: str, partition_col: str):
    """Lineage triage for completed-manifest partitions: ``(pv,
    delta_files, old_rec)`` per stale partition. ``delta_files`` is the
    list of NEW data files when the change is a pure append (recorded
    file set ⊂ current — the dominant Iceberg commit shape), else None
    (rewrite/compaction/shrink ⇒ full re-validation). Row-level checks
    are file-composable, so an append only needs the delta validated and
    the counts summed."""
    out = []
    for pv, rec in done.items():
        if pv == GLOBAL_KEY:
            continue
        d = os.path.join(table_path, f"{partition_col}={pv}")
        current = (partition_files(table_path, partition_col, pv)
                   if os.path.isdir(d) else [])
        recorded = sorted(rec.get("file_list") or [])
        if recorded == current:
            continue
        delta = None
        if recorded and set(recorded) <= set(current):
            seen = set(recorded)
            delta = [f for f in current if f not in seen]
        out.append((pv, delta, rec))
    return out


def _manifest_rec(pv, snapshot_id, files, rows, viols, wall_ms,
                  status=STATUS_COMPLETE):
    return {
        "part": pv, "snapshot_id": snapshot_id, "file_list": files,
        "rows_scanned": rows, "violations": viols, "wall_ms": wall_ms,
        "completed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "status": status,
    }


def _control_violation_row(spark: SparkSession, schema, code: str,
                           message: str) -> DataFrame:
    """One suite-shaped violation row (all row keys NULL) carrying a
    runner-level code — TIMEOUT/CANCELED are first-class violations in
    the reference's error model, not just log lines."""
    from pyspark.sql import types as T
    # the suite schema may carry non-nullable fields (lit() partition
    # values); the control row holds NULL keys, so relax nullability
    schema = T.StructType([T.StructField(f_.name, f_.dataType, True)
                           for f_ in schema.fields])
    vals = []
    for f_ in schema.fields:
        if f_.name == "field_path":
            vals.append("/")
        elif f_.name == "rule_id":
            vals.append(code)
        elif f_.name == "message":
            vals.append(message)
        else:
            vals.append(None)
    return spark.createDataFrame([tuple(vals)], schema)


class _JobGroupTimeout:
    """Watchdog that cancels a job group when its wall budget expires —
    the Spark analog of a context deadline. Cooperative at stage-task
    granularity (interruptOnCancel interrupts running tasks)."""

    def __init__(self, spark: SparkSession, group: str,
                 timeout_secs: Optional[float]):
        self.sc = spark.sparkContext
        self.group = group
        self.timeout_secs = timeout_secs
        self.fired = False
        self._timer = None

    def __enter__(self):
        self.sc.setJobGroup(self.group, "protovalidate partition job",
                            interruptOnCancel=True)
        if self.timeout_secs is not None:
            def _cancel():
                self.fired = True
                self.sc.cancelJobGroup(self.group)
            self._timer = threading.Timer(self.timeout_secs, _cancel)
            self._timer.daemon = True
            self._timer.start()
        return self

    def __exit__(self, *exc):
        if self._timer is not None:
            self._timer.cancel()
        self.sc.setJobGroup("", "")
        return False


def run_checkpointed(
    spark: SparkSession,
    suite: ValidationSuite,
    table_path: str,
    output_dir: str,
    snapshot_id: str = "",
    fail_fast: bool = False,
    max_partitions: Optional[int] = None,
    partition_timeout_secs: Optional[float] = None,
    time_budget_secs: Optional[float] = None,
    partitions_per_job: int = 1,
    verify_lineage: bool = True,
) -> RunReport:
    """Validate partition-by-partition with resume.

    Row-level checks run per partition (resumable unit). Dataset-level
    checks (uniqueness/referential/drift are cross-partition by nature) run
    in a final global phase over the full table — recorded separately so a
    resumed run redoes only un-checkpointed partitions + the global phase.

    ``partition_timeout_secs``: wall budget per partition JOB. On expiry
    the job is cancelled, a TIMEOUT violation row is written to the
    partition's violations sink, and the manifest records status=TIMEOUT —
    NOT complete, so a resume retries it. With ``partitions_per_job`` > 1
    the budget covers the whole batch job and expiry marks every partition
    in the batch.

    ``time_budget_secs``: wall budget for the whole call, checked between
    jobs (a running job is never interrupted by it). On expiry the
    remaining partitions are recorded status=CANCELED (resumable) and the
    run returns.

    ``partitions_per_job``: union N pending partitions into one Spark job.
    Per-partition rows/violations still come from the same job via
    conditional Observation aggregates, and the manifest keeps one rec per
    partition; only driver job-scheduling overhead changes.

    ``verify_lineage``: re-run (instead of skip) completed partitions whose
    current data-file list differs from the manifest's recorded lineage —
    rewritten/backfilled partitions are never silently trusted; pure
    appends scan only their new files (module docstring). The check is a
    directory listing per completed partition, O(partitions) driver work
    and no Spark jobs.
    """
    pc = suite.partition_col or "part_date"
    manifest_dir = os.path.join(output_dir, "_manifest")
    viol_dir = os.path.join(output_dir, "violations")
    torn_tail = repair_manifest(manifest_dir)
    done = completed_partitions(manifest_dir)
    stale = []
    delta_plan = {}  # pv -> (new data files, prior complete rec)
    if verify_lineage and done and os.path.isdir(table_path):
        for pv, delta, rec in classify_stale(done, table_path, pc):
            stale.append(pv)
            done.pop(pv, None)
            if delta is not None:
                delta_plan[pv] = (delta, rec)
    # source seam: Iceberg catalog table (partitions/snapshots from
    # metadata tables) or directory-partitioned Parquet (fixtures)
    parts = table_partitions(spark, table_path, pc)
    snapshot_id = snapshot_id or table_snapshot_id(spark, table_path)
    run_t0 = time.time()

    ran, skipped, timed_out, canceled = [], [], [], []
    total_rows = total_viol = 0

    pending = [pv for pv in parts if pv not in done]
    skipped = [pv for pv in parts if pv in done]
    if max_partitions is not None:
        pending = pending[:max_partitions]

    n = max(int(partitions_per_job), 1)
    # append-delta partitions run as their own single-partition jobs:
    # they read ONLY the new files and APPEND to the violations sink,
    # so they can't share a batch with full-scan (overwrite) partitions
    delta_pending = [pv for pv in pending if pv in delta_plan]
    full_pending = [pv for pv in pending if pv not in delta_plan]
    chunks = [[pv] for pv in delta_pending] + \
        [full_pending[i:i + n] for i in range(0, len(full_pending), n)]
    stop = False
    for ci, chunk in enumerate(chunks):
        if stop:
            break
        if (time_budget_secs is not None
                and time.time() - run_t0 > time_budget_secs):
            # run budget exhausted: everything not yet started is
            # CANCELED — resumable, recorded, never silently dropped
            for rest in chunks[ci:]:
                for pv in rest:
                    append_manifest(manifest_dir, _manifest_rec(
                        pv, snapshot_id, [], 0, 0, 0, status=Code.CANCELED))
                    canceled.append(pv)
            break
        t0 = time.time()
        live = []  # (pv, files, pdf)
        for pv in chunk:
            files = (partition_files(table_path, pc, pv)
                     if os.path.isdir(table_path) else [])
            if pv in delta_plan:
                # append-delta: scan only the files added since the
                # recorded lineage; manifest keeps the FULL current list
                pdf = read_partition_files(
                    spark, delta_plan[pv][0], pc, pv)
                live.append((pv, files, pdf))
                continue
            pdf = read_partition(spark, table_path, pc, pv)
            if pdf is None:
                # partition vanished between the listing and the read
                # (compaction/expiry race) — record an empty completion so
                # the run continues and a resume doesn't retry it forever
                append_manifest(manifest_dir, _manifest_rec(
                    pv, snapshot_id, [], 0, 0, 0))
                ran.append(pv)
                continue
            live.append((pv, files, pdf))
        if not live:
            continue

        batch = live[0][2]
        for _, _, pdf in live[1:]:
            batch = batch.unionByName(pdf)
        # per-partition input rows + violation counts ride the SAME job
        # as the violations write (conditional Observation aggregates) —
        # no separate count job per partition
        pvs = [pv for pv, _, _ in live]
        obs_in, obs_out = Observation(), Observation()
        # string-compare the partition key so the aggregates are
        # type-agnostic (date fixtures, string/int partition specs alike)
        in_aggs = [F.count(F.when(
            F.col(pc).cast("string") == F.lit(str(pv)), 1))
            .alias(f"r{i}") for i, pv in enumerate(pvs)]
        out_aggs = [F.count(F.when(
            F.col(pc).cast("string") == F.lit(str(pv)), 1))
            .alias(f"v{i}") for i, pv in enumerate(pvs)]
        rv = suite.row_violations(batch.observe(obs_in, *in_aggs))
        rv = rv.observe(obs_out, *out_aggs)
        if suite.max_exemplars_per_rule > 0:
            # Observations above ride the PRE-cap stream: manifest
            # violation counts stay exact while the parquet sink is
            # bounded to k rows per (partition batch, rule)
            from .errors import cap_exemplars
            rv = cap_exemplars(rv, list(suite.row_keys),
                               suite.max_exemplars_per_rule,
                               rule_cols=[pc, "field_path", "rule_id"])

        group = f"protovalidate-{pc}-{pvs[0]}-{len(pvs)}"
        watch = _JobGroupTimeout(spark, group, partition_timeout_secs)
        try:
            with watch:
                if len(live) == 1:
                    mode = ("append" if pvs[0] in delta_plan
                            else "overwrite")
                    (rv.write.mode(mode)
                       .parquet(os.path.join(viol_dir, f"{pc}={pvs[0]}")))
                else:
                    (rv.write.mode("overwrite")
                       .option("partitionOverwriteMode", "dynamic")
                       .partitionBy(pc).parquet(viol_dir))
        except Exception:
            if not watch.fired:
                raise
            # deadline exceeded: first-class TIMEOUT violation row per
            # partition + a resumable (non-complete) manifest rec
            wall_ms = int((time.time() - t0) * 1000)
            for pv, files, pdf in live:
                row = _control_violation_row(
                    spark, rv.schema, Code.TIMEOUT,
                    f"partition job exceeded {partition_timeout_secs}s")
                (row.write.mode("overwrite")
                    .parquet(os.path.join(viol_dir, f"{pc}={pv}")))
                append_manifest(manifest_dir, _manifest_rec(
                    pv, snapshot_id, files, 0, 1, wall_ms,
                    status=Code.TIMEOUT))
                timed_out.append(pv)
            continue

        wall_ms = int((time.time() - t0) * 1000)
        in_vals, out_vals = obs_in.get, obs_out.get
        for i, (pv, files, _) in enumerate(live):
            rows = in_vals[f"r{i}"]
            nv = out_vals[f"v{i}"]
            rec = _manifest_rec(pv, snapshot_id, files, rows, nv, wall_ms)
            if pv in delta_plan:
                # cumulative per-partition totals: prior complete rec +
                # this delta scan (row checks are file-composable)
                old = delta_plan[pv][1]
                rec["rows_scanned"] += old["rows_scanned"]
                rec["violations"] += old["violations"]
                rec["appended_files"] = len(delta_plan[pv][0])
            if len(live) > 1:
                rec["batch_size"] = len(live)
            append_manifest(manifest_dir, rec)
            ran.append(pv)
            total_rows += rows
            total_viol += nv
            if fail_fast and nv:
                stop = True

    # global phase: dataset-level checks over the whole table — only once
    # every partition is checkpointed (a truncated run resumes later).
    # Skipped entirely when lineage proves the table unchanged since the
    # last recorded global pass (no partition ran, none stale): the
    # global phase is the one full-table scan in a resume, so an
    # all-skipped rerun costs O(partition listing), not O(table).
    if len(skipped) + len(ran) == len(parts):
        prior_global = read_manifest(manifest_dir).get(GLOBAL_KEY)
        if (verify_lineage and not ran and not stale
                and prior_global is not None
                and prior_global.get("status",
                                     STATUS_COMPLETE) == STATUS_COMPLETE):
            return RunReport(ran, skipped, total_rows,
                             total_viol + prior_global["violations"],
                             timed_out, canceled, stale, torn_tail)
        t0 = time.time()
        full = read_table(spark, table_path)
        gparts = suite.dataset_violations(full)
        if gparts:
            g = gparts[0]
            for p in gparts[1:]:
                g = g.unionByName(p.select(*g.columns))
            # the count rides the write (as the partition jobs' do)
            obs = Observation()
            (g.observe(obs, F.count(F.lit(1)).alias("n"))
              .write.mode("overwrite")
              .parquet(os.path.join(output_dir, "global_violations")))
            gn = obs.get["n"]
        else:
            gn = 0
        append_manifest(manifest_dir, _manifest_rec(
            GLOBAL_KEY, snapshot_id, [], 0, gn,
            int((time.time() - t0) * 1000)))
        total_viol += gn

    return RunReport(ran, skipped, total_rows, total_viol,
                     timed_out, canceled, stale, torn_tail)


def compact_violations(spark: SparkSession, output_dir: str,
                       partition_col: str = "part_date",
                       files_per_partition: int = 1,
                       min_files: int = 2) -> List[str]:
    """Rewrite violation-sink partitions that have accumulated small
    files (each append-delta run appends one file set — the classic
    Iceberg small-file problem) into ``files_per_partition`` coalesced
    files. Pure sink maintenance: row content, the manifest, and
    verdicts are untouched. Per-partition read→coalesce→atomic dir swap;
    partitions under ``min_files`` are skipped. Returns the partitions
    compacted."""
    viol_dir = os.path.join(output_dir, "violations")
    compacted = []
    if not os.path.isdir(viol_dir):
        return compacted
    for name in sorted(os.listdir(viol_dir)):
        if not name.startswith(f"{partition_col}="):
            continue
        d = os.path.join(viol_dir, name)
        nfiles = sum(1 for f in os.listdir(d) if f.endswith(".parquet"))
        if nfiles < max(min_files, files_per_partition + 1):
            continue
        tmp = d + "__compact"
        (spark.read.parquet(d).coalesce(files_per_partition)
         .write.mode("overwrite").parquet(tmp))
        import shutil as _sh
        _sh.rmtree(d)
        os.replace(tmp, d)
        compacted.append(name.split("=", 1)[1])
    return compacted


def verdicts_from_outputs(spark: SparkSession, output_dir: str,
                          partition_col: str = "part_date") -> DataFrame:
    """Reconstruct per-partition verdicts from the manifest + violation
    sink (pass ⇔ zero violations in partition, FIXTURES.md §5). Global
    violations with a non-null partition key count against that partition.
    TIMEOUT/CANCELED partitions report pass=false (their violation count
    includes the control row; they are retried on resume)."""
    done = read_manifest(os.path.join(output_dir, "_manifest"))
    rows = []
    gv_path = os.path.join(output_dir, "global_violations")
    gv = None
    if os.path.exists(gv_path):
        gv = (spark.read.parquet(gv_path)
              .filter(F.col(partition_col).isNotNull())
              .groupBy(partition_col).count())
        gv = {str(r[partition_col]): r["count"] for r in gv.collect()}
    for pv, rec in done.items():
        if pv == GLOBAL_KEY:
            continue
        extra = (gv or {}).get(pv, 0)
        n = rec["violations"] + extra
        complete = rec.get("status", STATUS_COMPLETE) == STATUS_COMPLETE
        rows.append((pv, complete and n == 0, rec["rows_scanned"], n,
                     rec["wall_ms"]))
    return spark.createDataFrame(
        rows, "part_date string, pass boolean, rows_scanned long, "
              "violations long, wall_ms long")
