"""Recommended Spark configuration for the validation engine.

These settings are the measured-good defaults for the audio-payload
workload (binary columns of 10s–100s of KB flowing through Arrow UDF
stages). They matter at every scale:

- ``spark.sql.execution.arrow.maxRecordsPerBatch``: the payload stages
  (``with_decoded`` with any ``fields`` — rms, pcm, features, VAD,
  bandwidth — and fingerprints, embeddings, repair) ship the raw
  ``bytes`` column to Python workers in Arrow record batches. At the
  default 10 000 rows/batch a batch of ~30 KB clips is ~300 MB of
  netty direct memory PER TASK; with 32 concurrent tasks that exhausts
  ``MaxDirectMemorySize`` (observed
  ``org.apache.arrow.memory.OutOfMemoryException`` and 4-10× slowdowns
  from allocator thrash). 4 000 rows ≈ 120 MB peak/task: measured 4-5×
  faster cold and never OOMs. On a real cluster the same bound holds
  per executor core. ``with_decoded(fields=())`` — the suite's plain
  decode stage — ships a 44-byte header per canonical row, so the cap
  does not bind there.
- AQE on: runtime coalescing + skew-join splitting (north_rule: skew
  handling on hot codec partitions).
- Shuffle partitions default to 2× cores locally; on a cluster size to
  ~2-3× total executor cores (or rely on AQE coalescing from a higher
  initial value).
"""

from __future__ import annotations

ARROW_BATCH_AUDIO = "4000"

RECOMMENDED = {
    "spark.sql.execution.arrow.maxRecordsPerBatch": ARROW_BATCH_AUDIO,
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # audio payloads make rows ~30KB: bigger scan splits mean fewer task
    # launches and fewer concurrent Arrow streams per executor for the
    # same bytes (measured ~30% on the 400k-row clips pass), and at
    # 100 TB keep the task count in the low hundreds of thousands.
    # 256MB, not 512MB: at 512MB the per-level task count got small
    # enough that wave quantization cost the 4N level its scaling
    # (efficiency 0.785 vs 0.82 at 256MB, same absolute throughput)
    "spark.sql.files.maxPartitionBytes": "268435456",
    # PySpark 4 wraps every DataFrame API call with call-site capture
    # (a Python stack walk + 2-3 extra py4j round-trips per call) for
    # error-context decoration; on build-heavy plans (rule-set compile,
    # lang-ID CASE chains) this was ~60% of plan-construction wall time
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def apply_recommended(builder, cores: int | None = None):
    """Apply engine-recommended configs to a SparkSession.Builder."""
    for k, v in RECOMMENDED.items():
        builder = builder.config(k, v)
    if cores:
        builder = builder.config("spark.sql.shuffle.partitions",
                                 str(int(cores) * 2))
    return builder


def local_session(cores: int = 8, app: str = "protovalidate",
                  driver_mem: str = "16g", **extra):
    """Build a local[N] session with the recommended engine configs."""
    from pyspark.sql import SparkSession

    b = (SparkSession.builder.master(f"local[{cores}]")
         .appName(app)
         .config("spark.driver.memory", driver_mem)
         .config("spark.ui.enabled", "false"))
    b = apply_recommended(b, cores=cores)
    for k, v in extra.items():
        b = b.config(k, v)
    s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    return s
