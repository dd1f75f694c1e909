"""Layer B — Spark DataFrame pipeline builders (SURVEY.md §2.B).

Everything here is declarative DataFrame API so Catalyst owns pushdown,
pruning, and join strategy; the single Python boundary is the
``mapInArrow`` kernel call (B4). Stage map (BASELINE.json:6):

  B1 scan -> B2 filter -> B3 prune -> B9 salt/repartition ->
  B4 mapInArrow(extract_batch) -> B5 window(turn order) ->
  B6 range sort -> B13 sink (+ B8 lineage rows, tallied in the B4 tasks)

At 100 TB the round-robin exchange is the only wide stage before the
kernel; it breaks up hot conversations when the source is
conv_id-clustered (BASELINE.json:6 "skewed conversations are salted and
AQE-split"). When the source layout is already size-balanced (plain
parquet split by bytes), pass ``partitions=0`` and the kernel map runs
narrow, straight off the scan.
"""

from __future__ import annotations

import functools
from collections.abc import Iterable, Iterator

import pyarrow as pa
import pyarrow.compute as pc
from pyspark import TaskContext
from pyspark.accumulators import Accumulator, AccumulatorParam
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from ..kernel.extract import arrow_out_schema, extract_batch
from ..session import kernel_partitions

__all__ = [
    "LINEAGE_SCHEMA",
    "OUT_SCHEMA",
    "extract_transcripts",
    "grouped_running_sum",
    "lineage_accumulator",
    "lineage_table",
    "ordered_output",
    "with_turn_seq",
    "lineage_summary",
    "transcripts_from_tpch",
]

# the Spark view of the kernel's one Arrow output schema
OUT_SCHEMA = from_arrow_schema(arrow_out_schema())

# B8: one lineage row per kernel-map partition (BASELINE.json:6
# "per-partition lineage rows and counters")
LINEAGE_SCHEMA = pa.schema([
    ("partition_id", pa.int32()),
    ("conv_id_min", pa.string()),
    ("conv_id_max", pa.string()),
    ("n_turns", pa.int64()),
    ("n_cells", pa.int64()),
    ("n_errors", pa.int64()),
    ("wall_ms", pa.int64()),
])


class _Tally:
    """The lineage counters of one task's kernel-output batches: conv_id
    range (byte order, nulls skipped), turns, cells, turns with a
    non-empty ``err``, and kernel wall = floor(sum ``proc_us`` / 1000)."""

    def __init__(self) -> None:
        self.lo = self.hi = None
        self.n_turns = self.n_cells = self.n_errors = self.proc_us = 0

    def add(self, batch: pa.RecordBatch) -> None:
        if batch.num_rows == 0:
            return
        lo, hi = pc.min_max(batch.column("conv_id")).values()
        if lo.is_valid:
            self.lo = min(self.lo, lo.as_py()) if self.lo is not None else lo.as_py()
            self.hi = max(self.hi, hi.as_py()) if self.hi is not None else hi.as_py()
        self.n_turns += batch.num_rows
        self.n_cells += pc.sum(batch.column("n_cells")).as_py() or 0
        self.n_errors += pc.sum(pc.not_equal(batch.column("err"), "")).as_py() or 0
        self.proc_us += pc.sum(batch.column("proc_us")).as_py() or 0

    def row(self) -> dict | None:
        """This task's lineage row, keyed by its partition id (the
        ``spark_partition_id()`` of the map it runs in); None for an
        empty partition."""
        if not self.n_turns:
            return None
        return {"partition_id": TaskContext.get().partitionId(),
                "conv_id_min": self.lo, "conv_id_max": self.hi,
                "n_turns": self.n_turns, "n_cells": self.n_cells,
                "n_errors": self.n_errors, "wall_ms": self.proc_us // 1000}


class _ByPartition(AccumulatorParam):
    """Lineage rows keyed by partition id, merged by replacement: a
    retried or speculative task replaces its partition's row, never adds
    one."""

    def zero(self, value: dict) -> dict:
        return {}

    def addInPlace(self, rows: dict, more: dict) -> dict:
        rows.update(more)
        return rows


def lineage_accumulator(spark) -> Accumulator:
    """A driver accumulator for ``extract_transcripts(lineage=...)``.
    Spark merges only successful tasks' updates, and a Python update is
    acknowledged by the driver before its task completes, so ``value`` is
    complete when the action that ran the kernel returns. Classic
    PySpark only: Spark Connect has no accumulators."""
    return spark.sparkContext.accumulator({}, _ByPartition())


def lineage_table(lineage: Accumulator) -> pa.Table:
    """The accumulated lineage rows, in partition order."""
    rows = lineage.value
    return pa.Table.from_pylist([rows[p] for p in sorted(rows)], schema=LINEAGE_SCHEMA)


def _extract_tallied(
    batches: Iterable[pa.RecordBatch], lineage: Accumulator, **kernel
) -> Iterator[pa.RecordBatch]:
    """The kernel map, teeing its output through the task's tally into
    ``lineage`` once the partition is done."""
    tally = _Tally()
    for out in extract_batch(batches, **kernel):
        tally.add(out)
        yield out
    row = tally.row()
    if row is not None:
        lineage.add({row["partition_id"]: row})


def _lineage_batches(batches: Iterable[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """lineage_summary's map: the partition's tally as a one-row batch."""
    tally = _Tally()
    for b in batches:
        tally.add(b)
    row = tally.row()
    if row is not None:
        yield pa.RecordBatch.from_pylist([row], schema=LINEAGE_SCHEMA)


def extract_transcripts(
    df: DataFrame,
    partitions: int | None = None,
    use_adaptive: bool = False,
    add_turn_seq: bool = True,
    unbounded_turn_seq: bool = False,
    keep_text: bool = False,
    lineage: Accumulator | None = None,
) -> DataFrame:
    """The extraction pipeline body (B2-B5) over a transcript DataFrame.

    B3: only (conv_id, turn_idx, text) cross the Arrow boundary — Catalyst
    prunes everything else out of the scan (check ReadSchema in explain).
    B9: ``partitions`` is the round-robin exchange before the kernel map
    — the limit of per-turn salting: every task gets an equal row count
    no matter how hot any conversation is. ``None`` gives the default
    kernel width (``session.kernel_partitions``), ``N > 0`` width N, and
    ``0`` no exchange (the narrow mode for size-balanced scans).
    Per-turn extraction is embarrassingly parallel, so correctness never
    depends on grouping, and row order into the kernel is not
    load-bearing; Spark's sort-before-repartition keeps the
    row->partition assignment stable under task retries.
    B5: ``turn_seq`` re-establishes stable turn ordering after the
    exchange (never rely on task order): a row_number window over
    conv_id, or with ``unbounded_turn_seq`` the bounded form of
    :func:`with_turn_seq`, whose per-bucket turn counts come from the
    input's keys.
    B8: ``lineage`` (from :func:`lineage_accumulator`) receives one
    lineage row per non-empty kernel task, tallied in the task itself
    from the batches it emits: whatever action runs the frame fills it,
    with no second query over the kernel output.
    """
    src = df.select("conv_id", "turn_idx", "text")
    if partitions != 0:
        src = src.repartition(partitions or kernel_partitions(df.sparkSession))
    kernel = {"use_adaptive": use_adaptive, "keep_text": keep_text}
    if lineage is None:
        fn = functools.partial(extract_batch, **kernel)
    else:
        fn = functools.partial(_extract_tallied, lineage=lineage, **kernel)
    out = src.mapInArrow(fn, from_arrow_schema(arrow_out_schema(keep_text)))
    if add_turn_seq:
        # unbounded mode counts turns per (conv_id, turn_idx bucket) on
        # the INPUT frame — a column-pruned re-scan of the source (cheap,
        # JVM-only) instead of a second run of the Python kernel
        out = with_turn_seq(
            out,
            unbounded=unbounded_turn_seq,
            keys=df.select("conv_id", "turn_idx") if unbounded_turn_seq else None,
        )
    return out


# grouped_running_sum's bucket width W = 2**RUN_BUCKET_BITS: the bucket of
# an order value x is floor(x / W) = x >> RUN_BUCKET_BITS, an arithmetic
# shift, so it is exact for any int or long (no division through double)
RUN_BUCKET_BITS = 10


def grouped_running_sum(
    df: DataFrame, group: str, order: str, value: Column, totals: DataFrame | None = None
) -> DataFrame:
    """``df`` plus ``running_sum``: the sum of ``value`` over the rows
    of the same ``group`` up to and including this one in ``order`` — a
    running total computed WITHOUT ever holding a whole group in one
    task (a two-level prefix sum over fixed-width ``order`` buckets,
    ``floor(order / W)`` with W = 2 ** ``RUN_BUCKET_BITS``):

      1. sum ``value`` per (group, bucket) of ``totals`` (default ``df``)
         and turn the sums into exclusive per-bucket offsets with a
         rows window over buckets — it holds one row per non-empty
         bucket of a group, never the group's rows;
      2. join the offsets onto ``df`` on (group, bucket) in a shuffled
         hash join built on the offsets, and add a rows-frame running
         sum WITHIN each (group, bucket): ``df`` crosses one hash
         exchange on (group, bucket), is never broadcast, and an
         in-bucket window holds at most W rows per group for unique
         ``order`` values.

    ``totals`` must hold the same (group, order) rows as ``df`` and
    resolve ``value``; pass a cheap projection of the same rows when
    ``df`` sits downstream of an expensive map, else the totals branch
    re-executes it. The bucket is pure arithmetic on ``order``: no
    bounds aggregate, nothing persisted, and building the plan launches
    no Spark job. Ties on (group, order) get an arbitrary order, as a
    ``row_number`` would, and each row of ``df`` gets exactly one
    output row. Rows with a NULL ``group`` or ``order`` fall out at the
    join."""
    bkt = F.shiftright(F.col(order), RUN_BUCKET_BITS).alias("_bkt")
    sums = (df if totals is None else totals).groupBy(group, bkt).agg(F.sum(value).alias("_s"))
    w_off = Window.partitionBy(group).orderBy("_bkt").rowsBetween(Window.unboundedPreceding, -1)
    # the join builds on the offsets: broadcasting a small ``df`` instead
    # (AQE's choice once its size is known) would leave it with the
    # offsets' group-only partitioning, one task per group for w_run
    offs = sums.select(
        group, "_bkt", F.coalesce(F.sum("_s").over(w_off), F.lit(0)).alias("_off")
    ).hint("shuffle_hash")
    w_run = (
        Window.partitionBy(group, "_bkt")
        .orderBy(order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.select(*df.columns, bkt, value.alias("_v")).join(offs, [group, "_bkt"]).select(
        *df.columns, (F.col("_off") + F.sum("_v").over(w_run)).alias("running_sum")
    )


def with_turn_seq(
    out: DataFrame,
    unbounded: bool = False,
    keys: DataFrame | None = None,
) -> DataFrame:
    """B5: stable turn ordering guarantee (turn_seq = 1-based rank of
    turn_idx within conv_id).

    Default form: one window over conv_id — one shuffle, but each
    conversation serializes into one task. Correct and cheap while
    conversations are bounded (the data model's assumption: 10^12 turns
    from ~10^9 conversations, and the rows here are the small extraction
    output, not images).

    ``unbounded=True`` (the production-shape twin, like asof's bucketed
    mode): :func:`grouped_running_sum` of 1 over conv_id in turn_idx
    order, so every stage's task size stays bounded at ANY conversation
    length: ``out`` crosses one hash exchange on (conv_id, turn_idx
    bucket) and is never joined on (conv_id, turn_idx). The per-bucket
    turn counts come from ``keys`` (default ``out``); pass a cheap
    pre-kernel projection of the same (conv_id, turn_idx) rows when
    ``out`` sits downstream of an expensive map, else the counts branch
    re-executes it. A repeated (conv_id, turn_idx) gets arbitrary
    distinct ranks, as the window form's row_number gives it."""
    if not unbounded:
        w = Window.partitionBy("conv_id").orderBy("turn_idx")
        return out.withColumn("turn_seq", F.row_number().over(w))
    seq = grouped_running_sum(out, "conv_id", "turn_idx", F.lit(1), totals=keys)
    return seq.select(*out.columns, F.col("running_sum").cast("int").alias("turn_seq"))


def ordered_output(out: DataFrame) -> DataFrame:
    """B6: global (conv_id, turn_idx) ordering for equality diffing —
    range-partitioned so the sort is distributed, not single-task."""
    return out.repartitionByRange("conv_id", "turn_idx").sortWithinPartitions(
        "conv_id", "turn_idx"
    )


def lineage_summary(out: DataFrame) -> DataFrame:
    """B8: one lineage row per non-empty partition of ``out``, by the
    same tally as ``extract_transcripts(lineage=...)``, in a narrow map
    (no shuffle). Apply it to the kernel output before any further
    exchange, so the partitions are the kernel-map partitions."""
    cols = out.select("conv_id", "n_cells", "err", "proc_us")
    return cols.mapInArrow(_lineage_batches, from_arrow_schema(LINEAGE_SCHEMA))


def transcripts_from_tpch(
    spark, sf_dir: str, max_orders: int | None = None
) -> DataFrame:
    """Derive a deterministic transcript table from the driver-provided
    TPC-H-ish parquet (TESTDATA.md) — no external data, and the whole
    derivation is JVM-side (collect_list/array_join, zero Python).

    Three turn families, exercising all kernel branches:
      * table turns  — one markdown pipe table per order, rows = its
        lineitems sorted by l_linenumber (cols: line, part, supp, flag);
      * html turns   — documents.text wrapped in nav/footer boilerplate;
      * scan turns   — documents.text behind a [[scan]] header whose
        region geometry routes doc_id % 3 == 0 to signature-only (ocr)
        and the rest to handwriting (test2.py:3-5 semantics).

    conv_id groups ~100 orders / ~50 docs per conversation so the window
    stage (B5) has real work.
    """
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_returnflag"
    )
    if max_orders is not None:
        li = li.where(F.col("l_orderkey") <= max_orders)
    row_str = F.concat(
        F.lit("| "), F.col("l_linenumber").cast("string"),
        F.lit(" | "), F.col("l_partkey").cast("string"),
        F.lit(" | "), F.col("l_suppkey").cast("string"),
        F.lit(" | "), F.col("l_returnflag"), F.lit(" |"),
    )
    tables = (
        li.withColumn("line_md", row_str)
        .groupBy("l_orderkey")
        .agg(
            F.array_join(
                F.transform(
                    # full numeric sort key: the synthetic data has
                    # duplicate l_linenumber within an order, so ties
                    # must break deterministically (and identically to
                    # the SQL oracle's ORDER BY)
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                "l_linenumber", "l_partkey", "l_suppkey",
                                "l_returnflag", "line_md",
                            )
                        )
                    ),
                    lambda s: s["line_md"],
                ),
                "\n",
            ).alias("body")
        )
        .select(
            F.concat(F.lit("order-"), F.pmod("l_orderkey", F.lit(100)).cast("string")
                     ).alias("conv_id"),
            F.col("l_orderkey").cast("int").alias("turn_idx"),
            F.concat(
                F.lit("| line | part | supp | flag |\n|---|---|---|---|\n"),
                F.col("body"),
            ).alias("text"),
        )
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    html = docs.select(
        F.concat(F.lit("doc-"), F.pmod("doc_id", F.lit(50)).cast("string")).alias("conv_id"),
        F.col("doc_id").cast("int").alias("turn_idx"),
        F.concat(
            F.lit('<html><body><nav><ul><li><a href="#">home</a></li>'
                  '<li><a href="#">about</a></li></ul></nav><div><p>'),
            F.col("text"),
            F.lit("</p></div><footer>fine print</footer></body></html>"),
        ).alias("text"),
    )
    scan_regions = F.when(
        F.pmod("doc_id", F.lit(3)) == 0,
        F.lit("region x=250 y=260 w=90 h=24 d=0.5"),  # signature-only -> ocr
    ).otherwise(
        F.lit("region x=20 y=30 w=120 h=30 d=0.5\nregion x=20 y=90 w=120 h=30 d=0.5")
    )
    scans = docs.select(
        F.concat(F.lit("scan-"), F.pmod("doc_id", F.lit(25)).cast("string")).alias("conv_id"),
        (F.col("doc_id") + 1_000_000).cast("int").alias("turn_idx"),
        F.concat(
            F.lit("[[scan]] w=400 h=300\n"), scan_regions, F.lit("\n[[/scan]]\n"),
            F.col("text"),
        ).alias("text"),
    )
    return tables.unionByName(html).unionByName(scans)
