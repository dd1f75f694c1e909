"""Custom stateful streaming operator (the applyInPandasWithState seam).

``assemble_conversations`` incrementally builds per-conversation
transcripts from a stream of turns: each micro-batch folds its turns
into per-conv_id GroupState and emits the conversation's NEW text as a
delta row. State lives in the stream checkpoint's state store, so a
restarted job (availableNow re-run after new files land) CONTINUES each
conversation instead of starting over — the property the test pins.

Scale design:
  * the fold is fully vectorized — pandas sort + column concat +
    ``"\\n".join`` — no ``iterrows``/per-row Python;
  * state is BOUNDED at O(1) per conversation: (n_turns, max_turn_idx,
    total_chars). The assembled text itself is spilled to the SINK as
    per-batch ``delta_text`` rows instead of being rewritten into the
    state store every batch (state that held the text would grow
    linearly with conversation length for the stream's whole life).
    The full transcript is the concatenation of a conversation's deltas in
    cumulative ``n_turns`` order — an ordinary ordered aggregation over
    the sink.
  * cross-batch ordering assumption (documented, inherited from the
    source): the file stream appends whole files in arrival order, so a
    conversation's turns arrive in non-decreasing turn_idx across
    batches; within a batch the fold sorts by turn_idx. A source that
    interleaves out-of-order turns across batches needs an upstream
    per-conv_id re-sort (or event-time watermarking) before this fold.

This is the engine's template for custom stateful ops the built-in
operators can't express (the spec itself needs none — `ts` is carried,
not aggregated — so this ships as a first-class optional capability,
exercised by tests rather than the driver oracle, like B13-B15).
"""

from __future__ import annotations

import os

import pandas as pd
import pyarrow as pa
from pyspark.sql import SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .incremental import TRANSCRIPT_SCHEMA, _append_available_now

ASSEMBLED_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("n_turns", LongType()),
        StructField("max_turn_idx", IntegerType()),
        StructField("delta_text", StringType()),
        StructField("total_chars", LongType()),
    ]
)

# O(1) per conversation — the assembled text is NOT stored here
_STATE_SCHEMA = StructType(
    [
        StructField("n_turns", LongType()),
        StructField("max_turn_idx", IntegerType()),
        StructField("total_chars", LongType()),
    ]
)


def _fold_conversation(key, pdfs, state: GroupState):
    """Fold this batch's turns for one conv_id (vectorized) and emit the
    batch's delta snapshot. State carries only cumulative counters."""
    (conv_id,) = key
    n_turns, max_idx, total_chars = (
        state.get if state.exists else (0, -1, 0)
    )
    dfs = list(pdfs)
    if not dfs:
        # a group invoked with no new rows (state timeout, once a
        # timeoutConf is ever enabled) must not crash pd.concat; emit
        # nothing and leave the counters untouched
        return
    pdf = pd.concat(dfs, ignore_index=True).sort_values("turn_idx")
    pieces = pdf["role"].astype(str) + ": " + pdf["text"].astype(str)
    delta = "\n".join(pieces)
    # +1 per piece for the joining newline (including the one that glues
    # this delta to the previous one when n_turns > 0)
    total_chars += int(pieces.str.len().sum()) + len(pdf) - (n_turns == 0)
    n_turns += len(pdf)
    max_idx = max(max_idx, int(pdf["turn_idx"].max()))
    state.update((n_turns, max_idx, total_chars))
    yield pd.DataFrame(
        {
            "conv_id": [conv_id],
            "n_turns": [n_turns],
            "max_turn_idx": [max_idx],
            "delta_text": [delta],
            "total_chars": [total_chars],
        }
    )


def assemble_conversations(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int = 8,
) -> None:
    """availableNow pass over newly-appended turn files: per-conv_id
    stateful fold (applyInPandasWithState), appending one delta row per
    touched conversation per micro-batch to ``out_dir``. See the module
    docstring for how to reassemble full transcripts from the deltas.
    ``max_files_per_trigger=1`` forces one micro-batch per source file —
    the deterministic-replay shape the oracle certification uses."""
    _append_available_now(
        spark, source_dir, TRANSCRIPT_SCHEMA, max_files_per_trigger, out_dir,
        checkpoint_dir,
        lambda stream: stream.groupBy("conv_id").applyInPandasWithState(
            _fold_conversation,
            outputStructType=ASSEMBLED_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        ),
    )


def replay_assemble(spark: SparkSession, turns, bucket_col: str = "_bkt"):
    """Deterministic batch-REPLAY of the stateful assembler, for oracle
    certification, so the assembler has a DuckDB oracle like every
    other §2.B operator, not pytest alone. ``turns`` carries TRANSCRIPT_SCHEMA
    columns plus an integer ``bucket_col`` that is non-decreasing in
    turn_idx (bucket ranges partition the turn_idx order — the module
    contract: cross-batch arrival in non-decreasing turn_idx). Each
    bucket becomes ONE source file with a strictly increasing mtime, the
    stream runs availableNow with maxFilesPerTrigger=1 (one micro-batch
    per file, in mtime order), and the sink's delta rows are reassembled
    into final per-conversation transcripts:

      (conv_id, n_turns, max_turn_idx, total_chars, n_deltas, transcript)

    n_deltas counts the micro-batches that touched the conversation —
    > 1 for any conversation spanning buckets, so a hash-match against
    the SQL oracle proves CROSS-BATCH state continuation, not just a
    single-batch fold. The result is collected (one row per
    conversation) before the scratch dir is removed, then rebuilt as a
    local DataFrame — same lifecycle as the IVF store query."""
    import shutil
    import tempfile
    import time

    from pyspark.sql import functions as F

    cols = [f.name for f in TRANSCRIPT_SCHEMA.fields]
    buckets = sorted(
        r[0] for r in turns.select(bucket_col).distinct().collect()
    )  # bounded: the replay fixture uses a handful of buckets
    tmp = tempfile.mkdtemp(prefix="octe_replay_")
    try:
        src = os.path.join(tmp, "source")
        out = os.path.join(tmp, "out")
        os.makedirs(src)
        base = time.time() - 3600
        for i, b in enumerate(buckets):
            part_dir = os.path.join(tmp, f"w{i}")
            (
                turns.where(F.col(bucket_col) == b)
                .select(*cols)
                .coalesce(1)
                .write.parquet(part_dir)
            )
            (part_file,) = [
                f for f in os.listdir(part_dir) if f.endswith(".parquet")
            ]
            dst = os.path.join(src, f"{i:05d}.parquet")
            shutil.move(os.path.join(part_dir, part_file), dst)
            os.utime(dst, (base + i, base + i))  # mtime = batch order
        assemble_conversations(spark, src, out, max_files_per_trigger=1)
        deltas = spark.read.parquet(os.path.join(out, "data"))
        # deltas in cumulative-n_turns order = arrival order; the struct
        # sort key is (n_turns, delta_text) but n_turns is unique per
        # conversation, so the text never participates in ordering
        agg = deltas.groupBy("conv_id").agg(
            F.max("n_turns").alias("n_turns"),
            F.max("max_turn_idx").alias("max_turn_idx"),
            F.max("total_chars").alias("total_chars"),
            F.count("*").alias("n_deltas"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("n_turns", "delta_text"))
                    ),
                    lambda s: s["delta_text"],
                ),
                "\n",
            ).alias("transcript"),
        )
        rows = agg.toArrow()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    # an Arrow-built frame: no Python stage, unlike a list of rows
    return spark.createDataFrame(rows.cast(pa.schema([
        ("conv_id", pa.string()),
        ("n_turns", pa.int64()),
        ("max_turn_idx", pa.int32()),
        ("total_chars", pa.int64()),
        ("n_deltas", pa.int64()),
        ("transcript", pa.string()),
    ])))
