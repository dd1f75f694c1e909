"""Incremental mode (B15): availableNow micro-batches over appended
files, exactly-once across restarts via the stream checkpoint; plus the
custom stateful operator (applyInPandasWithState)."""

import datetime
import os

import pyarrow as pa
import pyarrow.parquet as pq

from opencv_table_extraction_spark.fixtures.gen import gen_tables
from opencv_table_extraction_spark.streaming import (
    assemble_conversations,
    run_incremental,
    sum_value_cents,
    windowed_event_counts,
)


def test_incremental_two_appends(spark, tmp_path):
    src = tmp_path / "src"
    out = tmp_path / "out"
    os.makedirs(src)
    t1, _, _ = gen_tables(120, seed=42, skew=False)
    t2, _, _ = gen_tables(80, seed=7, skew=False)
    pq.write_table(t1, str(src / "part-001.parquet"))

    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key, None)
    n1 = run_incremental(spark, str(src), str(out))
    assert n1 >= 1
    got1 = spark.read.parquet(str(out / "data"))
    assert got1.count() == t1.num_rows

    # append new "snapshot"; re-run processes ONLY the new file
    pq.write_table(t2, str(src / "part-002.parquet"))
    run_incremental(spark, str(src), str(out))
    got2 = spark.read.parquet(str(out / "data"))
    assert got2.count() == t1.num_rows + t2.num_rows

    # idempotent: nothing new -> nothing appended
    run_incremental(spark, str(src), str(out))
    assert spark.read.parquet(str(out / "data")).count() == t1.num_rows + t2.num_rows
    # the idempotent sink leaves the session's overwrite mode as it was
    assert spark.conf.get(key, None) == before


def _events_table(rows):
    """rows: (event_id, hour_offset_minutes, event_type, value)."""
    base = datetime.datetime(2026, 1, 1)
    return pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array(
                [base + datetime.timedelta(minutes=r[1]) for r in rows],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([r[0] % 3 for r in rows], pa.int64()),
            "event_type": pa.array([r[2] for r in rows], pa.string()),
            "value": pa.array([float(r[3]) for r in rows], pa.float64()),
            "props": pa.array(["{}" for _ in rows], pa.string()),
        }
    )


def test_watermarked_window_agg_matches_batch(spark, tmp_path):
    """Streaming form of the batch-certified event_tumbling_counts
    construct: availableNow + withWatermark + F.window. Every window the
    stream finalizes (end <= watermark) must equal the batch aggregation
    of the same files row-for-row, and all windows behind the
    first-batch watermark must have been emitted."""
    src = tmp_path / "src"
    out = tmp_path / "out"
    os.makedirs(src)
    # f1: events across hours 0..5 (max ts 05:30); f2: hour 20 — its
    # arrival pushes the watermark past all of f1's windows
    f1 = [(i, 30 + 60 * (i % 5), "click" if i % 2 else "view", i) for i in range(20)]
    f1.append((99, 5 * 60 + 30, "click", 1.5))
    f2 = [(200 + i, 20 * 60 + 10 * i, "view", i) for i in range(3)]
    pq.write_table(_events_table(f1), str(src / "f1.parquet"))
    pq.write_table(_events_table(f2), str(src / "f2.parquet"))

    windowed_event_counts(spark, str(src), str(out))
    got = {
        (r["window_start"], r["event_type"]): (r["cnt"], r["sum_value"])
        for r in spark.read.parquet(str(out / "data")).collect()
    }
    assert got, "stream emitted no finalized windows"

    from pyspark.sql import functions as F

    batch = {
        (r["window_start"], r["event_type"]): (r["cnt"], r["sum_value"])
        for r in (
            spark.read.parquet(str(src))
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count("*").alias("cnt"), sum_value_cents())
            .select(
                F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias(
                    "window_start"),
                "event_type", "cnt", "sum_value",
            )
            .collect()
        )
    }
    # every emitted window matches the batch result exactly
    for k, v in got.items():
        assert batch[k] == v, (k, v, batch[k])
    # and every window fully behind the first batch's watermark
    # (max f1 ts 05:30 - 1h delay = 04:30 -> window ends 01:00..04:00)
    finalized = {k for k in batch if k[0] < "2026-01-01 04"}
    assert finalized <= set(got), (finalized - set(got))


def _turns_table(rows):
    ts = datetime.datetime(2026, 1, 1)
    return pa.table(
        {
            "conv_id": pa.array([r[0] for r in rows], pa.string()),
            "turn_idx": pa.array([r[1] for r in rows], pa.int32()),
            "role": pa.array([r[2] for r in rows], pa.string()),
            "text": pa.array([r[3] for r in rows], pa.string()),
            "tool": pa.array(["" for _ in rows], pa.string()),
            "ts": pa.array([ts] * len(rows), pa.timestamp("us")),
        }
    )


def _assembled(rows, conv_id):
    """Reassemble a conversation from its sink deltas (the operator's
    documented contract: concatenate deltas in cumulative n_turns order)."""
    deltas = sorted((r for r in rows if r["conv_id"] == conv_id),
                    key=lambda r: r["n_turns"])
    return "\n".join(r["delta_text"] for r in deltas)


def test_stateful_assembly_continues_across_restarts(spark, tmp_path):
    """The applyInPandasWithState operator must CONTINUE per-conversation
    state across availableNow restarts (state lives in the checkpoint's
    state store): the second run's delta row carries the CUMULATIVE turn
    count/char count — proof the state survived — while the assembled
    text spills to the sink as per-batch deltas (state stays O(1) per
    conversation; the r2 verdict's bounded-state fix)."""
    src = tmp_path / "src"
    out = tmp_path / "out"
    os.makedirs(src)
    pq.write_table(
        _turns_table([("a", 0, "user", "hi"), ("a", 1, "assistant", "hello"),
                      ("b", 0, "user", "yo")]),
        str(src / "f1.parquet"),
    )
    assemble_conversations(spark, str(src), str(out))
    rows1 = spark.read.parquet(str(out / "data")).collect()
    snap1 = {r["conv_id"]: r for r in rows1}
    assert snap1["a"]["n_turns"] == 2
    assert _assembled(rows1, "a") == "user: hi\nassistant: hello"
    assert snap1["a"]["total_chars"] == len("user: hi\nassistant: hello")
    assert snap1["b"]["n_turns"] == 1

    pq.write_table(
        _turns_table([("a", 2, "user", "more")]), str(src / "f2.parquet")
    )
    assemble_conversations(spark, str(src), str(out))
    rows2 = spark.read.parquet(str(out / "data")).collect()
    latest_a = max((r for r in rows2 if r["conv_id"] == "a"),
                   key=lambda r: r["n_turns"])
    assert latest_a["n_turns"] == 3          # 2 (restored state) + 1 new
    assert latest_a["max_turn_idx"] == 2
    assert latest_a["delta_text"] == "user: more"  # only the NEW turn
    full = "user: hi\nassistant: hello\nuser: more"
    assert _assembled(rows2, "a") == full
    assert latest_a["total_chars"] == len(full)


def test_streaming_session_windows_match_batch(spark, tmp_path):
    """Streaming form of the batch-certified event_session_windows
    construct: availableNow + withWatermark + F.session_window. Every
    session the stream finalizes (end <= watermark) must equal the
    batch session aggregation of the same files row-for-row, and the
    first file's sessions must all have been emitted once the second
    file pushes the watermark past them."""
    from opencv_table_extraction_spark.streaming import session_event_counts

    src = tmp_path / "src"
    out = tmp_path / "out"
    os.makedirs(src)
    # f1: three users, bursts separated by >30min gaps inside hour 0-3;
    # f2: hour 20 — arrival finalizes every f1 session
    f1 = [(i, (i % 4) * 70 + (i % 3) * 5, "click", i) for i in range(18)]
    f1.append((50, 3 * 60 + 10, "view", 2.5))
    f2 = [(200 + i, 20 * 60 + 45 * i, "view", i) for i in range(3)]
    pq.write_table(_events_table(f1), str(src / "f1.parquet"))
    pq.write_table(_events_table(f2), str(src / "f2.parquet"))

    session_event_counts(spark, str(src), str(out))
    got = {
        (r["user_id"], r["session_start"]): (
            r["session_end"], r["n_events"], r["sum_value"])
        for r in spark.read.parquet(str(out / "data")).collect()
    }
    assert got, "stream emitted no finalized sessions"

    from opencv_table_extraction_spark.streaming import session_window_agg

    batch = {}
    for r in session_window_agg(spark.read.parquet(str(src)), "30 minutes").collect():
        batch[(r["user_id"], r["session_start"])] = (
            r["session_end"], r["n_events"], r["sum_value"])

    for k, v in got.items():
        assert batch[k] == v, (k, v, batch[k])
    # every f1 session (start before hour 19) must be finalized
    pending = {k for k in batch if k not in got}
    assert all(s >= "2026-01-01 20:" for _, s in pending), pending


def test_replay_assemble_multi_batch_continuation(spark):
    """The oracle-certification replay: buckets become one micro-batch
    each (mtime order), so a conversation spanning buckets must come
    back with n_deltas == its bucket count and a transcript glued in
    turn_idx order across batches — state continuation, not a re-fold."""
    from pyspark.sql import functions as F

    from opencv_table_extraction_spark.streaming.stateful import replay_assemble

    rows = [
        # conv a spans all 3 buckets; conv b only bucket 1
        ("a", 1, "user", "t1", None, None, 0),
        ("a", 2, "asst", "t2", None, None, 0),
        ("a", 3, "user", "t3", None, None, 1),
        ("b", 4, "user", "u1", None, None, 1),
        ("a", 5, "asst", "t4", None, None, 2),
    ]
    turns = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp, _bkt int"
    )
    got = {r["conv_id"]: r for r in replay_assemble(spark, turns).collect()}
    a, b = got["a"], got["b"]
    assert a["n_deltas"] == 3 and b["n_deltas"] == 1
    assert a["n_turns"] == 4 and a["max_turn_idx"] == 5
    assert a["transcript"] == "user: t1\nasst: t2\nuser: t3\nasst: t4"
    assert a["total_chars"] == len(a["transcript"])
    assert b["transcript"] == "user: u1"
    # registry contract: exactly 50 driver-graded rows, extras disjoint
    import __spark_entry__ as em

    assert len(em.queries()) == 50
    assert not set(em.queries()) & set(em.extra_queries())
    assert set(em.oracle_sql()) == set(em.queries())
    # rotation rule: operators debuting in the current round are
    # driver-graded (r6 verdict #1) — the r6/r7 debuts must be in
    for debut in (
        "text_repetition_stats",
        "text_scrub_pii",
        "text_sample_by_quality",
        "dedup_containment_pairs",
        "sim_ivf_batch_search",
    ):
        assert debut in em.queries(), f"{debut} must be driver-graded"
