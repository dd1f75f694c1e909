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
    "tune_scan_for_cpu_bound",
    "restore_confs",
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


def tune_scan_for_cpu_bound(
    spark: SparkSession, max_partition_mb: int = 4, open_cost_kb: int = 512
) -> dict[str, str | None]:
    """Size file splits for a CPU-bound map over the scan.

    Spark's file reader bin-packs small files by BYTES (128MB splits +
    4MB open cost by default). When the per-row cost is image work, not
    IO, a packed split becomes a 10x straggler: bytes are the wrong
    proxy for work. Call this before reading a many-small-file table
    that feeds the kernel narrowly (no pre-shuffle); leave defaults for
    ordinary relational scans, where bytes ~ work. The production job
    (jobs/extract.py) applies this by default (--no-cpu-bound-scan to
    opt out).

    Returns the previous conf values so a shared session can restore
    them (pass the returned dict to ``restore_confs``).
    """
    keys = {
        "spark.sql.files.maxPartitionBytes": str(max_partition_mb * 1024 * 1024),
        "spark.sql.files.openCostInBytes": str(open_cost_kb * 1024),
    }
    prev: dict[str, str | None] = {}
    for k, v in keys.items():
        prev[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)
    return prev


def restore_confs(spark: SparkSession, prev: dict[str, str | None]) -> None:
    """Undo a tune_* call on a shared session (None -> unset)."""
    for k, v in prev.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


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
