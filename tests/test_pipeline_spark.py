"""Spark-pipeline tests (SURVEY.md §5.2-1,5,6,7): per-turn equality vs
the single-process oracle AND the independent generator truth, output
determinism, resumability, and skew-bounding under salting."""

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from opencv_table_extraction_spark.plans import (
    extract_transcripts,
    lineage_accumulator,
    lineage_summary,
    lineage_table,
    ordered_output,
)
from opencv_table_extraction_spark.sources import SnapshotCatalog, run_resumable

DET_COLS = ["conv_id", "turn_idx", "route", "extracted_text", "n_rows",
            "n_cols", "n_cells", "n_joints", "err"]
LINEAGE_KEY_COLS = ["partition_id", "conv_id_min", "conv_id_max", "n_turns",
                    "n_cells", "n_errors"]  # wall_ms is a timing, not a count


def lineage_reference(out):
    """The lineage rows as a JVM aggregate over the kernel output's
    partitions: the reference the package's per-task tally must equal."""
    return (
        out.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(
            F.min("conv_id").alias("conv_id_min"),
            F.max("conv_id").alias("conv_id_max"),
            F.count("*").alias("n_turns"),
            F.sum("n_cells").alias("n_cells"),
            F.sum(F.when(F.col("err") != "", 1).otherwise(0)).alias("n_errors"),
            (F.sum("proc_us") / F.lit(1000)).cast("long").alias("wall_ms"),
        )
    )


def _lineage_keys(rows):
    return sorted(tuple(r[c] for c in LINEAGE_KEY_COLS) for r in rows)


@pytest.fixture(scope="module")
def extracted(spark, fixture_dir):
    df = spark.read.parquet(f"{fixture_dir}/transcripts.parquet")
    out = ordered_output(extract_transcripts(df))
    rows = out.collect()
    return {(r["conv_id"], r["turn_idx"]): r for r in rows}


def test_equality_vs_generator_truth(spark, fixture_dir, extracted):
    truth = pq.read_table(f"{fixture_dir}/transcripts_truth.parquet").to_pylist()
    assert len(truth) == len(extracted)
    for t in truth:
        r = extracted[(t["conv_id"], t["turn_idx"])]
        assert r["extracted_text"] == t["expected_text"], (t["conv_id"], t["turn_idx"])
        assert r["route"] == t["route"]
        assert r["err"] == ""


def test_equality_vs_oracle_including_spans(spark, fixture_dir, extracted):
    """100% per-turn equality against the single-process oracle — the
    north-rule invariant (BASELINE.json:14-15), spans included."""
    from oracle import run_oracle_parquet

    oracle = run_oracle_parquet(f"{fixture_dir}/transcripts.parquet")
    for row in oracle.to_pylist():
        r = extracted[(row["conv_id"], row["turn_idx"])]
        for col in ("route", "extracted_text", "n_rows", "n_cols", "n_cells",
                    "n_joints", "err"):
            assert r[col] == row[col], (row["conv_id"], row["turn_idx"], col)
        got_spans = [s.asDict() for s in (r["spans"] or [])]
        assert got_spans == row["spans"], (row["conv_id"], row["turn_idx"])


def test_turn_seq_is_stable_ordering(extracted):
    by_conv: dict[str, list] = {}
    for (c, t), r in extracted.items():
        by_conv.setdefault(c, []).append((t, r["turn_seq"]))
    for c, pairs in by_conv.items():
        pairs.sort()
        assert [s for _, s in pairs] == list(range(1, len(pairs) + 1)), c


def test_determinism_two_runs_identical(spark, fixture_dir):
    df = spark.read.parquet(f"{fixture_dir}/transcripts.parquet")

    def run_hash():
        out = extract_transcripts(df).select(*DET_COLS)
        h = out.select(
            F.sha2(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in DET_COLS]), 256
                   ).alias("h")
        )
        return h.agg(F.sum(F.conv(F.substring("h", 1, 8), 16, 10).cast("decimal(38,0)"))
                     ).collect()[0][0]

    assert run_hash() == run_hash()


def test_resumable_restart_equals_single_run(spark, fixture_dir, tmp_path, extracted):
    df = spark.read.parquet(f"{fixture_dir}/transcripts.parquet")
    cat = SnapshotCatalog(str(tmp_path / "cat"), n_buckets=8)
    r1 = run_resumable(spark, df, cat, max_buckets=4)   # "crash" after half
    assert len(r1["buckets"]) == 4
    r2 = run_resumable(spark, df, cat)                   # restart: remainder
    assert len(r2["buckets"]) == 4
    r3 = run_resumable(spark, df, cat)                   # idempotent no-op
    assert r3["buckets"] == []

    final = {
        (r["conv_id"], r["turn_idx"]): r
        for r in cat.read_output(spark).collect()
    }
    assert len(final) == len(extracted)
    for k, r in extracted.items():
        assert final[k]["extracted_text"] == r["extracted_text"], k
        assert final[k]["turn_seq"] == r["turn_seq"], k

    lin = cat.read_lineage(spark)
    agg = lin.agg(F.sum("n_turns"), F.sum("n_errors")).collect()[0]
    assert agg[0] == len(extracted) and agg[1] == 0
    assert {r["snapshot_id"] for r in lin.collect()} == {1, 2}


def test_crash_between_write_and_commit_recovers(spark, fixture_dir, tmp_path):
    """The documented crash window: data lands, manifest commit never
    happens. The rerun must reprocess those buckets into overwritten
    (idempotent) directories and converge to the single-run result with
    no duplicate lineage."""
    df = spark.read.parquet(f"{fixture_dir}/transcripts.parquet")
    cat = SnapshotCatalog(str(tmp_path / "cat"), n_buckets=4)

    real_commit = cat.commit
    def crash(buckets):
        raise RuntimeError("simulated crash after write, before commit")
    cat.commit = crash
    with pytest.raises(RuntimeError, match="simulated crash"):
        run_resumable(spark, df, cat)
    assert cat.committed_buckets() == set()  # nothing committed

    cat.commit = real_commit
    r = run_resumable(spark, df, cat)  # rerun sees all buckets as todo
    assert sorted(r["buckets"]) == [0, 1, 2, 3]
    assert cat.read_output(spark).count() == df.count()
    lin = cat.read_lineage(spark)
    assert lin.groupBy("snapshot_id", "partition_id").count().where(
        F.col("count") > 1
    ).count() == 0
    assert lin.agg(F.sum("n_turns")).collect()[0][0] == df.count()


def test_lineage_idempotent_and_conf_restored(spark, fixture_dir, tmp_path):
    """Re-writing a snapshot's data+lineage (the crash-between-write-and-
    commit retry) must not duplicate lineage rows, and the session's
    partitionOverwriteMode conf must read as before every write."""
    from opencv_table_extraction_spark.plans import with_turn_seq

    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key, None)
    df = spark.read.parquet(f"{fixture_dir}/transcripts.parquet")
    cat = SnapshotCatalog(str(tmp_path / "cat"), n_buckets=4)
    raw = extract_transcripts(df, add_turn_seq=False)
    lineage = lineage_summary(raw).withColumn("snapshot_id", F.lit(1))
    out = with_turn_seq(raw).withColumn("bucket", cat.bucket_col())
    for _ in range(2):  # second write simulates the retry
        cat.write_data(out)
        cat.write_lineage(lineage.toArrow())
    lin = cat.read_lineage(spark)
    assert lin.groupBy("snapshot_id", "partition_id").count().where(
        F.col("count") > 1
    ).count() == 0
    assert lin.agg(F.sum("n_turns")).collect()[0][0] == df.count()
    assert cat.read_output(spark).count() == df.count()
    assert spark.conf.get(key, None) == before


# malformed [[scan]] payloads: the kernel raises, extract_batch records it in err
_ERROR_TURNS = [(f"err-{i}", i, f"[[scan]] w=10 h=10\nregion x={i}") for i in range(5)]
_ERROR_TURNS.append((None, 99, "| a |\n|---|\n| 1 |"))  # NULL conv_id


@pytest.mark.parametrize("with_fixture", [True, False], ids=["fixture", "few-rows"])
def test_lineage_tally_equals_groupby_reference(spark, fixture_dir, with_fixture):
    """The per-task tally (the accumulator that extract_transcripts
    feeds, and the lineage_summary map) equals the JVM groupBy over the
    same kernel partitions, wall_ms aside: at 16 partitions, with err
    rows and a NULL conv_id, with batches of 7 rows that split
    conversations, and with at least 10 of 16 partitions empty on the
    6-row input (which emit no row)."""
    df = spark.createDataFrame(_ERROR_TURNS, "conv_id string, turn_idx int, text string")
    if with_fixture:
        df = spark.read.parquet(f"{fixture_dir}/transcripts.parquet").select(
            "conv_id", "turn_idx", "text").unionByName(df)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "7")
    acc = lineage_accumulator(spark)
    raw = extract_transcripts(df, partitions=16, add_turn_seq=False, lineage=acc).persist()
    try:
        n = raw.count()  # one kernel pass: fills the cache and the accumulator
        tally = lineage_table(acc).to_pylist()
        summary = lineage_summary(raw).collect()
        reference = lineage_reference(raw).collect()
    finally:
        raw.unpersist()
        spark.conf.set(key, prev)
    assert _lineage_keys(tally) == _lineage_keys(summary) == _lineage_keys(reference)
    assert sum(r["n_turns"] for r in tally) == n
    assert sum(r["n_errors"] for r in tally) == 5
    if with_fixture:
        assert len(tally) == 16
    else:
        assert len(tally) <= len(_ERROR_TURNS)


def test_lineage_accumulator_replaces_by_partition(spark, fixture_dir):
    """A partition's row replaces, never adds: on the driver, and when
    the same kernel tasks run twice (a retried stage's shape)."""
    acc = lineage_accumulator(spark)
    acc.add({3: {"n_turns": 1}})
    acc.add({3: {"n_turns": 2}})
    assert acc.value == {3: {"n_turns": 2}}

    df = spark.read.parquet(f"{fixture_dir}/transcripts.parquet").limit(40)
    acc = lineage_accumulator(spark)
    out = extract_transcripts(df, partitions=4, add_turn_seq=False, lineage=acc)
    out.count()
    once = lineage_table(acc)
    out.count()
    twice = lineage_table(acc)
    assert once.num_rows == twice.num_rows == 4
    assert _lineage_keys(twice.to_pylist()) == _lineage_keys(once.to_pylist())
    assert sum(twice.column("n_turns").to_pylist()) == 40


def test_run_resumable_is_one_query_per_restart(spark, fixture_dir, tmp_path, monkeypatch):
    """Each restart runs the write query alone: nothing persists, caches
    or fetches the kernel output, and the restart takes 3 Spark jobs on
    the fixture (the scan stage, the kernel stage feeding the turn_seq
    exchange, and the write); the lineage rows come from the kernel
    tasks of that query."""
    import pyspark.sql.classic.dataframe as cdf

    calls = []
    for name in ("persist", "cache", "unpersist", "toArrow", "collect", "count",
                 "toPandas", "localCheckpoint", "checkpoint"):
        real = getattr(cdf.DataFrame, name)

        def record(self, *args, _name=name, _real=real, **kwargs):
            calls.append(_name)
            return _real(self, *args, **kwargs)

        monkeypatch.setattr(cdf.DataFrame, name, record)

    df = spark.read.parquet(f"{fixture_dir}/transcripts.parquet")
    cat = SnapshotCatalog(str(tmp_path / "cat"), n_buckets=8)
    sc = spark.sparkContext
    jobs, results = [], []
    try:
        for i, max_buckets in enumerate((4, None)):
            sc.setJobGroup(f"restart-{i}", f"restart-{i}")
            results.append(run_resumable(spark, df, cat, max_buckets=max_buckets))
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(f"restart-{i}")))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert calls == []
    assert jobs == [3, 3]
    monkeypatch.undo()
    lin = cat.read_lineage(spark).groupBy("snapshot_id").agg(F.sum("n_turns")).collect()
    assert sorted(tuple(r) for r in lin) == [
        (r["snapshot_id"], r["n_turns"]) for r in results]


def _hidden_dirs(root):
    return [os.path.join(dp, n) for dp, dns, _ in os.walk(root)
            for n in dns if n.startswith(".")]


@pytest.fixture(scope="module")
def lineage_snapshot_2(spark, fixture_dir):
    """Lineage rows of snapshot 2, shaped as run_resumable builds them."""
    df = spark.read.parquet(f"{fixture_dir}/transcripts.parquet")
    lin = (lineage_summary(extract_transcripts(df, add_turn_seq=False))
           .withColumn("snapshot_id", F.lit(2)).withColumn("attempt", F.lit(2))).persist()
    yield lin
    lin.unpersist()


def test_write_lineage_runs_no_spark_job(spark, tmp_path, lineage_snapshot_2):
    rows = lineage_snapshot_2.toArrow()
    cat = SnapshotCatalog(str(tmp_path / "cat"), n_buckets=4)
    sc = spark.sparkContext
    sc.setJobGroup("write-lineage", "write-lineage")
    try:
        cat.write_lineage(rows)
        cat.write_lineage(rows.slice(0, 0))  # zero rows: nothing written
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("write-lineage")) == []
    assert os.listdir(tmp_path / "cat" / "lineage") == ["snapshot_id=2"]


def test_lineage_driver_write_reads_with_spark_written(spark, tmp_path, lineage_snapshot_2):
    """A catalog whose snapshot 1 was written by Spark's partitioned
    write (the layout of older catalogs) and whose snapshot 2 comes from
    the driver reads back through read_lineage with one schema holding
    both snapshots; a retry replaces snapshot 2 and leaves no temp dir."""
    cat = SnapshotCatalog(str(tmp_path / "cat"), n_buckets=4)
    lineage_snapshot_2.withColumn("snapshot_id", F.lit(1)).withColumn(
        "attempt", F.lit(1)
    ).write.mode("overwrite").partitionBy("snapshot_id").parquet(
        str(tmp_path / "cat" / "lineage"))
    rows = lineage_snapshot_2.toArrow()
    for _ in range(2):  # second write is the retry
        cat.write_lineage(rows)
        assert _hidden_dirs(tmp_path / "cat") == []
    lin = cat.read_lineage(spark)
    assert dict(lin.dtypes) == dict(lineage_snapshot_2.dtypes)
    got = lin.groupBy("snapshot_id").agg(F.count("*"), F.sum("n_turns")).collect()
    assert sorted(tuple(r) for r in got) == [
        (s, rows.num_rows, sum(rows.column("n_turns").to_pylist())) for s in (1, 2)]


def test_worker_zip_invalidation_is_stat_checked(spark, tmp_path):
    """A Python task starts with importlib.invalidate_caches(). Inside a
    task (before CPython 3.13) the package swaps in _worker's
    stat-checked zipimporter.invalidate_caches: a zip rewritten in place
    is re-read, so its new module imports, and an invalidate over
    unchanged archives reads no zip directory. The driver keeps the
    stdlib method."""
    import sys
    import zipimport

    from opencv_table_extraction_spark import _worker

    archive = str(tmp_path / "shipped.zip")

    def check(batches):
        import importlib
        import sys
        import zipfile
        import zipimport

        import pyarrow as pa

        from opencv_table_extraction_spark import _worker

        for _ in batches:
            pass

        def ship(*mods):
            with zipfile.ZipFile(archive, "w") as z:
                for m in mods:
                    z.writestr(f"{m}.py", f"NAME = {m!r}\n")

        reads, read = [0], zipimport._read_directory

        def counted(path):
            reads[0] += 1
            return read(path)

        ship("zipmod_a")
        sys.path.insert(0, archive)
        try:
            importlib.import_module("zipmod_a")
            importlib.invalidate_caches()
            ship("zipmod_a", "zipmod_b")  # same path, new size
            importlib.invalidate_caches()
            try:
                new_module = importlib.import_module("zipmod_b").NAME
            except ImportError:
                new_module = None
            zipimport._read_directory = counted
            try:
                importlib.invalidate_caches()
            finally:
                zipimport._read_directory = read
        finally:
            sys.path.remove(archive)
            sys.path_importer_cache.pop(archive, None)
            for m in ("zipmod_a", "zipmod_b"):
                sys.modules.pop(m, None)
        installed = zipimport.zipimporter.invalidate_caches is _worker._invalidate_caches
        yield pa.RecordBatch.from_pydict(
            {"installed": [installed], "new_module": [new_module], "rereads": [reads[0]]})

    row = spark.range(0, 1, 1, 1).mapInArrow(
        check, "installed boolean, new_module string, rereads long").collect()[0]
    assert row["installed"] == (sys.version_info < (3, 13))
    assert row["new_module"] == "zipmod_b"
    assert row["rereads"] == 0
    driver_fn = zipimport.zipimporter.invalidate_caches
    assert driver_fn is not _worker._invalidate_caches
    assert (driver_fn.__module__, driver_fn.__qualname__) == (
        "zipimport", "zipimporter.invalidate_caches")


def test_iceberg_binding_contract(spark, tmp_path):
    """The Iceberg call sites are code behind the same interface; the
    sandbox has no runtime jar, so the real write path only runs when
    has_iceberg_runtime() is true."""
    from opencv_table_extraction_spark.sources import (
        IcebergSnapshotCatalog,
        has_iceberg_runtime,
    )

    # the interface is identical (duck-typed by run_resumable)
    for m in ("write_data", "write_lineage", "read_output", "read_lineage",
              "committed_buckets", "commit", "bucket_col", "last_snapshot_id"):
        assert callable(getattr(IcebergSnapshotCatalog, m, None)), m
    if not has_iceberg_runtime(spark):
        pytest.skip("iceberg-spark-runtime jar absent in sandbox")
    cat = IcebergSnapshotCatalog(spark, "local.db.extract_out",
                                 str(tmp_path / "icecat"))
    df = spark.range(3).select(
        F.concat(F.lit("c-"), F.col("id").cast("string")).alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
    ).withColumn("bucket", F.lit(0))
    cat.write_data(df)
    assert cat.read_output(spark).count() == 3


def test_salting_bounds_skew(spark, fixture_dir):
    """The 50x skew-monster conversation must not serialize into one
    task: with salting, the max per-partition kernel time is bounded
    relative to the median (SURVEY.md §5.2-7)."""
    df = spark.read.parquet(f"{fixture_dir}/transcripts.parquet")
    out = extract_transcripts(df, partitions=16, add_turn_seq=False)
    lin = lineage_summary(out).collect()
    times = sorted(r["wall_ms"] for r in lin if r["n_turns"] > 0)
    assert len(times) >= 8
    median = times[len(times) // 2]
    assert times[-1] <= max(4 * median, median + 2000), times
    # and the monster conversation itself spans multiple partitions
    monster = [r for r in lin if r["conv_id_min"] <= "conv-000007" <= r["conv_id_max"]]
    assert len(monster) >= 2


def test_lineage_counts(spark, fixture_dir):
    df = spark.read.parquet(f"{fixture_dir}/transcripts.parquet")
    out = extract_transcripts(df, add_turn_seq=False)
    lin = lineage_summary(out)
    total = lin.agg(F.sum("n_turns").alias("t"), F.sum("n_cells").alias("c")).collect()[0]
    assert total["t"] == df.count()
    truth = pq.read_table(f"{fixture_dir}/grid_truth.parquet")
    assert total["c"] == sum(truth.column("n_cells").to_pylist())


def test_cpu_bound_scan_tuning_unpacks_small_files(spark, fixture_dir, tmp_path):
    """A many-small-file input must not bin-pack into a handful of
    byte-balanced (work-skewed) splits when it feeds the CPU-bound
    kernel: CPU_BOUND_SCAN_CONFS, built into jobs/extract.py's session
    by default, must multiply the scan parallelism."""
    from opencv_table_extraction_spark.session import CPU_BOUND_SCAN_CONFS

    # 64 tiny files, the shape a conv-bucketed upstream writer produces
    t = pq.read_table(f"{fixture_dir}/transcripts.parquet")
    d = tmp_path / "many"
    os.makedirs(d)
    step = max(t.num_rows // 64, 1)
    for i in range(64):
        pq.write_table(t.slice(i * step, step), str(d / f"part-{i:03d}.parquet"))

    before = spark.read.parquet(str(d)).rdd.getNumPartitions()
    prev = {k: spark.conf.get(k, None) for k in CPU_BOUND_SCAN_CONFS}
    try:
        for k, v in CPU_BOUND_SCAN_CONFS.items():
            spark.conf.set(k, v)
        after = spark.read.parquet(str(d)).rdd.getNumPartitions()
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    restored = spark.read.parquet(str(d)).rdd.getNumPartitions()
    assert after >= 2 * before and after >= 8, (before, after)
    assert restored == before


def test_library_calls_leave_the_session_alone(spark, tmp_path, monkeypatch):
    """Package calls must not reconfigure the caller's shared session:
    no conf set/unset and no session checkpoint dir while the
    components' checkpoint_dir path, catalog data writes and an
    incremental run execute. The catalog writes stay dynamic
    overwrites: rewriting bucket 1 leaves bucket 0 as it was."""
    from pyspark import SparkContext
    from pyspark.sql.conf import RuntimeConfig

    from opencv_table_extraction_spark.fixtures.gen import gen_tables
    from opencv_table_extraction_spark.operators.dedup import (
        connected_components_pairs,
    )
    from opencv_table_extraction_spark.streaming import run_incremental

    calls = []

    def spy(cls, name):
        real = getattr(cls, name)

        def record(self, *args, **kwargs):
            calls.append((name, args))
            return real(self, *args, **kwargs)

        monkeypatch.setattr(cls, name, record)

    spy(RuntimeConfig, "set")
    spy(RuntimeConfig, "unset")
    spy(SparkContext, "setCheckpointDir")

    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], ["a_id", "b_id"])
    got = connected_components_pairs(
        pairs, checkpoint_dir=str(tmp_path / "cc")).collect()
    assert sorted((r["doc_id"], r["keeper_id"]) for r in got) == [
        (1, 1), (2, 1), (3, 1), (7, 7), (8, 7)]

    cat = SnapshotCatalog(str(tmp_path / "cat"), n_buckets=2)
    cat.write_data(spark.range(6).withColumn("bucket", F.col("id") % 2))
    cat.write_data(spark.range(100, 102).withColumn("bucket", F.lit(1)))
    assert sorted(r["id"] for r in cat.read_output(spark).collect()) == [0, 2, 4, 100, 101]

    src = tmp_path / "src"
    os.makedirs(src)
    t, _, _ = gen_tables(40, seed=42, skew=False)
    pq.write_table(t, str(src / "part-001.parquet"))
    assert run_incremental(spark, str(src), str(tmp_path / "inc")) >= 1
    assert spark.read.parquet(str(tmp_path / "inc" / "data")).count() == t.num_rows

    assert calls == []


def test_extract_job_runs_and_resumes(fixture_dir, tmp_path):
    """jobs/extract.py, the spark-submit entry point, end to end in its
    own local session: the first run extracts every turn into all 4
    buckets and commits them, with lineage rows that count every turn;
    the second finds them committed and does nothing."""
    import json
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    n_turns = pq.read_metadata(f"{fixture_dir}/transcripts.parquet").num_rows
    cmd = [sys.executable, os.path.join(repo, "jobs", "extract.py"),
           "--local", "2", "--buckets", "4",
           "--input", f"{fixture_dir}/transcripts.parquet",
           "--output", str(tmp_path / "out")]
    results = []
    for _ in range(2):  # one extra JVM at a time
        run = subprocess.run(cmd, cwd=repo, capture_output=True, text=True,
                             timeout=600)
        assert run.returncode == 0, run.stderr[-4000:]
        results.append(json.loads(run.stdout.strip().splitlines()[-1]))
    first, second = results
    assert sorted(first["buckets"]) == [0, 1, 2, 3]
    assert first["n_turns"] == n_turns
    lineage = pq.read_table(str(tmp_path / "out" / "lineage"))
    assert sum(lineage.column("n_turns").to_pylist()) == first["n_turns"]
    assert second["buckets"] == []
    assert second["snapshot_id"] == first["snapshot_id"]


def test_session_window_boundary_semantics(spark):
    """Pin F.session_window's exact-gap behavior (the semantics the
    event_session_windows oracle mirrors): an event landing EXACTLY gap
    seconds after the previous one still merges — a new session starts
    only when the gap strictly exceeds the duration — and window end =
    last event + gap."""
    df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00"),
            (1, "2024-01-01 00:30:00"),  # exactly 1800 s later: merges
            (2, "2024-01-01 00:00:00"),
            (2, "2024-01-01 00:30:01"),  # 1801 s later: new session
        ],
        "user_id int, ts string",
    ).select("user_id", F.col("ts").cast("timestamp").alias("ts"))
    out = (
        df.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("cnt"))
        .select(
            "user_id",
            F.col("w.start").cast("string").alias("s"),
            F.col("w.end").cast("string").alias("e"),
            "cnt",
        )
        .orderBy("user_id", "s")
        .collect()
    )
    rows = [tuple(r) for r in out]
    assert rows == [
        (1, "2024-01-01 00:00:00", "2024-01-01 01:00:00", 2),
        (2, "2024-01-01 00:00:00", "2024-01-01 00:30:00", 1),
        (2, "2024-01-01 00:30:01", "2024-01-01 01:00:01", 1),
    ], rows


def test_asof_join_hot_key_correct(spark, tmp_path):
    """One user 50x hotter than the median must still get exactly-right
    as-of matches (the union-sort-window pattern serializes each key's
    history into one task — correct under skew, cost documented in
    _q_events_asof_order). Truth is an independent per-event brute-force
    scan with the same tie rules (order at event time counts; largest
    o_orderkey wins among same-date orders)."""
    import datetime

    import __spark_entry__ as em

    rng_orders, rng_events = [], []
    base = datetime.datetime(1995, 1, 1)
    users = [1] * 50 + [2, 3, 4, 5]  # user 1 is the hot key
    ok = 0
    for u in users:
        for i in range(4):
            ok += 1
            rng_orders.append(
                (ok, u, (base + datetime.timedelta(days=(ok * 7) % 300)).date())
            )
    ek = 0
    for u in users:
        for i in range(3):
            ek += 1
            rng_events.append(
                (ek, u, base + datetime.timedelta(days=(ek * 11) % 400, hours=ek % 24))
            )
    spark.createDataFrame(
        rng_orders, "o_orderkey long, o_custkey long, o_orderdate date"
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    spark.createDataFrame(
        rng_events, "event_id long, user_id long, ts timestamp"
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))

    got = {
        r["event_id"]: r["last_orderkey"]
        for r in em._q_events_asof_order(spark, str(tmp_path)).collect()
    }
    # independent truth: per-event linear scan
    want = {}
    for eid, u, ts in rng_events:
        best = None
        for okey, cust, od in rng_orders:
            odt = datetime.datetime(od.year, od.month, od.day)
            if cust == u and odt <= ts:
                if best is None or (odt, okey) > best[0]:
                    best = ((odt, okey), okey)
        want[eid] = best[1] if best else None
    assert got == want


def test_asof_bucketed_equals_plain_under_skew(spark):
    """asof_last_bucketed must equal asof_last row-for-row on a skewed
    input whose hot key's history spans many buckets (including ties:
    same-timestamp orders, order exactly at event time) — the
    decomposition into (key, bucket) windows + carry chain must be
    invisible in the result."""
    import datetime

    from pyspark.sql import functions as F

    from opencv_table_extraction_spark.operators.asof import (
        asof_last,
        asof_last_bucketed,
    )

    base = datetime.datetime(2020, 1, 1)
    orders, events = [], []
    ok = 0
    for u in [1] * 80 + [2, 3]:  # hot key 1
        ok += 1
        t = base + datetime.timedelta(days=(ok * 13) % 900)
        orders.append((u, t, ok))
        if ok % 7 == 0:
            orders.append((u, t, ok + 1000))  # same-timestamp tie
            ok_dup = True
    for i in range(200):
        u = 1 if i % 5 else 2
        events.append((u, base + datetime.timedelta(days=(i * 9) % 1000), i))
    # plant an event exactly at an order timestamp (tie: order counts)
    events.append((1, orders[0][1], 9999))
    o = spark.createDataFrame(orders, "key long, t timestamp, o_orderkey long")
    e = spark.createDataFrame(events, "key long, t timestamp, event_id long")

    plain = {r["event_id"]: r["last_orderkey"]
             for r in asof_last(o, e).collect()}
    for bucket in ("30 days", "365 days"):
        bucketed = {r["event_id"]: r["last_orderkey"]
                    for r in asof_last_bucketed(o, e, bucket=bucket).collect()}
        assert bucketed == plain, bucket


def test_asof_property_random_streams(spark):
    """Property test: on randomized order/event streams (duplicate
    timestamps, keys with no orders, bursts, empty overlap), BOTH as-of
    shapes must equal an independent brute-force per-event scan with
    the documented tie rules. One Spark round-trip per case keeps it
    fast; the case set is seeded and includes adversarial shapes
    hypothesis-style shrinking would find (boundary duplicates,
    order-after-every-event, single-bucket and many-bucket spans)."""
    import datetime
    import random

    from opencv_table_extraction_spark.operators.asof import (
        asof_last,
        asof_last_bucketed,
    )

    base = datetime.datetime(2021, 6, 1)

    def brute(orders, events):
        want = {}
        for eid, (u, ts) in events.items():
            best = None
            for okey, (cu, ot) in orders.items():
                if cu == u and ot <= ts and (
                    best is None or (ot, okey) > best[0]
                ):
                    best = ((ot, okey), okey)
            want[eid] = best[1] if best else None
        return want

    for seed in range(6):
        rng = random.Random(seed)
        n_keys = rng.randrange(1, 5)
        orders, events = {}, {}
        for ok in range(rng.randrange(0, 30)):
            u = rng.randrange(1, n_keys + 1)
            # coarse quantization -> plenty of exact timestamp ties
            t = base + datetime.timedelta(hours=rng.randrange(0, 500) * 12)
            orders[ok] = (u, t)
        for eid in range(rng.randrange(1, 40)):
            u = rng.randrange(1, n_keys + 1)
            t = base + datetime.timedelta(hours=rng.randrange(0, 500) * 12)
            events[eid] = (u, t)
        o = spark.createDataFrame(
            [(u, t, k) for k, (u, t) in orders.items()] or
            [(0, base, -1)],  # schema row for the empty-orders case
            "key long, t timestamp, o_orderkey long",
        )
        if not orders:
            o = o.where("o_orderkey >= 0")
        e = spark.createDataFrame(
            [(u, t, k) for k, (u, t) in events.items()],
            "key long, t timestamp, event_id long",
        )
        want = brute(orders, events)
        got_plain = {r["event_id"]: r["last_orderkey"]
                     for r in asof_last(o, e).collect()}
        assert got_plain == want, ("plain", seed)
        got_bkt = {r["event_id"]: r["last_orderkey"]
                   for r in asof_last_bucketed(o, e, bucket="7 days").collect()}
        assert got_bkt == want, ("bucketed", seed)
