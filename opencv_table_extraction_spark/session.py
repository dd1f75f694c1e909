"""SparkSession builder with the engine's standing configuration.

Confs implement the BASELINE.json:6,15 scale mandates:
  * AQE on (+ skew-join + partition coalescing) — runtime re-plan and
    skew splitting ("skewed conversations are salted and AQE-split");
  * Arrow transfer on, with a bounded record-batch size — per-batch peak
    memory inside the Python worker is batch_rows x canvas bytes, so the
    batch size is the memory knob for the image kernel (SURVEY.md §4.2);
  * UTC session timezone — timestamp determinism for equality checks.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

__all__ = [
    "build_session",
    "kernel_partitions",
    "CPU_BOUND_SCAN_CONFS",
    "ENGINE_CONFS",
]

ENGINE_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # ~2k turns/batch: bounds Python-worker peak memory (rows x canvas px)
    # while amortizing the Arrow IPC boundary (PAPERS.md:5).
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
}

# File splits sized for a CPU-bound map over the scan: Spark bin-packs
# small files by BYTES (128MB splits, 4MB open cost), and where a row
# costs image work, not IO, a packed split is a 10x straggler. Pass to
# build_session(extra_confs=...) for a job whose many-small-file scan
# feeds the kernel narrowly (jobs/extract.py does by default); bytes ~
# work elsewhere. The parquet scan ignores a per-read split option.
CPU_BOUND_SCAN_CONFS: dict[str, str] = {
    "spark.sql.files.maxPartitionBytes": str(4 * 1024 * 1024),
    "spark.sql.files.openCostInBytes": str(512 * 1024),
}


def kernel_partitions(spark: SparkSession) -> int:
    """The default width of the exchange in front of a CPU-bound Python
    stage (a ``mapInArrow`` kernel or a quadratic pair verify): twice the
    default parallelism.

    The count must be explicit. AQE coalesces shuffle partitions by
    bytes (~64MB each), but the optimizer cannot see what a UDF costs:
    a few MB of text can be hours of image or pair work, and byte-based
    coalescing would collapse it into one or two tasks. An explicit
    count opts that one exchange out of coalescing while AQE still
    manages the joins and aggregations around it.
    """
    return spark.sparkContext.defaultParallelism * 2


def build_session(
    app_name: str = "opencv_table_extraction_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a session with the engine confs applied.

    ``master=None`` defers to spark-submit (the production path,
    BASELINE.json:6 "spark-submit --py-files on multi-executor clusters");
    tests and bench pass ``local[N]`` explicitly.
    """
    b = SparkSession.builder.appName(app_name)
    if master:
        b = b.master(master)
    for k, v in ENGINE_CONFS.items():
        b = b.config(k, v)
    if shuffle_partitions is not None:
        b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra_confs or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
