"""Physical-plan shape tests (SURVEY.md §4.2): the properties that keep
the pipeline viable at 100 TB must be visible in `explain`, not assumed.

- column pruning reaches the parquet scan (ReadSchema carries only the
  three kernel columns);
- the broadcast hint on the small dim produces a BroadcastHashJoin;
- the kernel stage runs with an explicit partition count (not collapsed
  by AQE byte-based coalescing);
- filter pushdown reaches the scan for the route prefilter.
"""

import pytest
from pyspark.sql import functions as F

from opencv_table_extraction_spark.plans import extract_transcripts


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_scan_prunes_to_kernel_columns(spark, fixture_dir):
    df = spark.read.parquet(f"{fixture_dir}/transcripts.parquet")
    out = extract_transcripts(df, add_turn_seq=False)
    plan = _plan(out)
    scan = plan[plan.index("Scan parquet"):]
    read_schema = scan[scan.index("ReadSchema"): scan.index("\n", scan.index("ReadSchema"))]
    assert "conv_id" in read_schema and "turn_idx" in read_schema and "text" in read_schema
    # the wide columns must NOT cross the scan
    assert "role" not in read_schema and "tool" not in read_schema and "ts" not in read_schema


def test_filter_pushdown_reaches_scan(spark, fixture_dir):
    df = spark.read.parquet(f"{fixture_dir}/transcripts.parquet")
    q = df.where(F.col("conv_id") == "conv-000007").select("conv_id", "turn_idx")
    plan = _plan(q)
    assert "PushedFilters" in plan
    pushed = plan[plan.index("PushedFilters"): plan.index("\n", plan.index("PushedFilters"))]
    assert "conv_id" in pushed


def test_broadcast_join_used_for_small_dim(spark):
    import __spark_entry__ as em

    # region_nations lives in the extras tier (registry capped at the
    # driver's 50 graded rows) but stays the broadcast-plan exemplar
    q = em.extra_queries()["region_nations"](spark, "/root/testdata/sf0.001")
    plan = _plan(q)
    assert "BroadcastHashJoin" in plan


def test_ivf_assign_is_narrow(spark):
    """Nearest-centroid assignment must be a per-row argmax — no Window,
    no Exchange (the r1 crossJoin+row_number shape shuffled N*K rows)."""
    from opencv_table_extraction_spark.operators.similarity import _q_ivf_assign

    q = _q_ivf_assign(spark, "/root/testdata/sf0.001")
    plan = _plan(q)
    assert "Window" not in plan
    assert "Exchange" not in plan


def test_lsh_band_rows_shuffle_only_keys(spark):
    """The LSH band exchange must carry only (doc_id, band_id, band_hash)
    — never text or shingle arrays (the r1 shuffle amplifier)."""
    from __spark_entry__ import SF0001
    from opencv_table_extraction_spark.operators.dedup import (
        dedup_corpus,
        minhash_lsh_pairs_with_drops,
    )

    q, _ = minhash_lsh_pairs_with_drops(dedup_corpus(spark, SF0001))
    plan = _plan(q)
    # formatted plans list each Exchange's Input columns right below it
    band_exchanges = [
        blk for blk in plan.split("\n\n")
        if blk.lstrip().startswith("(") and ") Exchange" in blk.split("\n")[0]
        and "band_id" in blk
    ]
    assert band_exchanges, plan
    import re

    for blk in band_exchanges:
        input_line = next(ln for ln in blk.split("\n") if "Input" in ln)
        assert "text" not in input_line, blk
        assert not re.search(r"\bsh#", input_line), blk


def test_verify_candidates_cross_one_exchange_when_shuffled(spark):
    """With broadcast joins off, the deduplicated LSH candidates reach
    the a_id sort-merge join of verify_candidate_pairs through ONE
    exchange, the join's own hashpartitioning(a_id): no (a_id, b_id)
    repartition runs in front of it (AQE-final plan). The shuffle
    partition count differs from the kernel width, so such a
    repartition could not coincide with the dedup's own exchange."""
    import re

    from __spark_entry__ import SF0001
    from opencv_table_extraction_spark.operators.dedup import (
        dedup_corpus,
        minhash_lsh_pairs_with_drops,
    )

    confs = {"spark.sql.autoBroadcastJoinThreshold": "-1",
             "spark.sql.shuffle.partitions": "3"}
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        q, _ = minhash_lsh_pairs_with_drops(dedup_corpus(spark, SF0001))
        assert len(q.collect()) > 0
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    lines = q._jdf.queryExecution().executedPlan().toString().split("\n")
    assert "isFinalPlan=true" in lines[0]
    # the join's candidate side is its first child: the lines from the
    # join down to the candidates' dedup aggregate
    smj = next(i for i, ln in enumerate(lines) if "SortMergeJoin [a_id" in ln)
    agg = next(i for i in range(smj, len(lines)) if "HashAggregate(keys=[a_id" in lines[i])
    exchanges = [ln for ln in lines[smj:agg] if re.search(r"\bExchange ", ln)]
    assert len(exchanges) == 1 and "hashpartitioning(a_id#" in exchanges[0], lines[smj:agg]


def test_prefix_join_no_cache_and_single_scan(spark):
    """jaccard_prefix_pairs_with_drops must not persist its shingle
    explosion (the r2 cache leak / 100-TB memory cliff): no
    InMemoryRelation anywhere, and the corpus scan feeds both consumers
    through ONE reused exchange (ReusedExchange of the doc_id
    repartition in the executed plan)."""
    from __spark_entry__ import SF0001
    from opencv_table_extraction_spark.operators.dedup import (
        dedup_corpus,
        jaccard_prefix_pairs_with_drops,
    )

    n_cached_before = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    p, _ = jaccard_prefix_pairs_with_drops(dedup_corpus(spark, SF0001))
    # collect() (not count()) so THIS DataFrame's QueryExecution runs and
    # its adaptive plan is finalized with runtime exchange reuse resolved
    assert len(p.collect()) > 0
    plan = p._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "InMemoryRelation" not in plan and "InMemoryTableScan" not in plan
    assert "ReusedExchange" in plan
    # and the operator added no lingering cached RDDs (<=, not ==: the
    # ContextCleaner may asynchronously free OTHER operators' released
    # localCheckpoint blocks between the two measurements)
    n_cached_after = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    assert n_cached_after <= n_cached_before, "prefix join leaked a cache"


def test_ivf_batch_search_dpp_and_exactness(spark, tmp_path):
    """Batched-query ANN over the partitioned store:
    1. the broadcast probe-block equi-join on centroid_id must trigger
       DYNAMIC partition pruning against the store (no driver-side
       collect of probe ids anywhere in the operator);
    2. with n_probe = K (probe everything) the batch path must equal
       per-query brute force EXACTLY — certifying the plumbing with a
       real oracle, independent of bucketing quality;
    3. the store-backed result must equal the in-session assigned-frame
       result at the production n_probe;
    4. a one-query search bounds its top-k exchange: the executed plan
       has a partial WindowGroupLimit directly below the query_id
       exchange, so at most k rows per map partition cross it.
    """
    from pyspark.sql import Window
    from opencv_table_extraction_spark.operators.similarity import (
        N_CENTROIDS,
        TOP_K,
        assigned_store,
        cosine,
        ivf_batch_search,
        ivf_write_partitioned,
        kmeans_centroids,
    )

    sf = "/root/testdata/sf0.001"
    store_dir = str(tmp_path / "ivf_store")
    cents = ivf_write_partitioned(spark, sf, store_dir)
    e = spark.read.parquet(f"{sf}/embeddings.parquet")
    queries = e.where(F.col("vec_id").isin([3, 17, 41])).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    store = spark.read.parquet(store_dir)

    res = ivf_batch_search(store, cents, queries, n_probe=2)
    plan = _plan(res)
    pf = plan[plan.index("PartitionFilters"):]
    pf = pf[: pf.index("\n")]
    assert "dynamicpruning" in pf and "centroid_id" in pf, pf

    got = {(r["query_id"], r["vec_id"], r["cos"]) for r in res.collect()}
    mem = ivf_batch_search(assigned_store(e, cents), cents, queries, n_probe=2)
    assert got == {(r["query_id"], r["vec_id"], r["cos"]) for r in mem.collect()}

    # n_probe = K: the probe covers every bucket, so the batch path must
    # reproduce exact brute force per query (same rounded-cos ordering)
    full = ivf_batch_search(store, cents, queries, n_probe=N_CENTROIDS)
    brute = (
        e.crossJoin(
            F.broadcast(
                queries.select("query_id", F.col("embedding").alias("q_embedding"))
            )
        )
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(cosine(F.col("embedding"), F.col("q_embedding")), 4).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    brute = brute.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= TOP_K
    )
    a = {(r["query_id"], r["vec_id"], r["cos"], r["rank"]) for r in full.collect()}
    b = {(r["query_id"], r["vec_id"], r["cos"], r["rank"]) for r in brute.collect()}
    assert a == b and len(a) == 3 * TOP_K

    one = ivf_batch_search(store, cents, queries.where(F.col("query_id") == 3))
    assert len(one.collect()) == TOP_K  # finalizes the adaptive plan
    lines = one._jdf.queryExecution().executedPlan().toString().split("\n")
    i = next(i for i, ln in enumerate(lines)
             if "Exchange hashpartitioning(query_id" in ln)
    below = lines[i + 1]
    assert "WindowGroupLimit" in below and below.rstrip().endswith("Partial"), (
        "\n".join(lines)
    )


@pytest.mark.parametrize("partitions", [None, 16, 0])
def test_kernel_stage_not_coalesced_to_one_task(spark, fixture_dir, partitions):
    """The three exchange states of ``partitions``: None = round-robin at
    the default kernel width, N = round-robin at width N, 0 = no
    exchange between the scan and the kernel map. The exchange carries
    an explicit count, so AQE must not collapse the CPU-bound kernel
    stage to a single task (the 1-task regression the harness caught)."""
    import re

    df = spark.read.parquet(f"{fixture_dir}/transcripts.parquet")
    out = extract_transcripts(df, partitions=partitions, add_turn_seq=False)
    plan = _plan(out)
    tree = plan[: plan.index("\n\n")]
    assert tree.count("MapInArrow") == 1, tree
    if partitions == 0:
        # nothing but project/filter nodes between the scan and the map
        assert "Exchange" not in tree, tree
        return
    width = partitions or 2 * spark.sparkContext.defaultParallelism
    assert re.findall(r"RoundRobinPartitioning\(\d+\)", plan) == [
        f"RoundRobinPartitioning({width})"
    ], plan
    if partitions:
        n_parts = out.select(F.spark_partition_id().alias("p")).distinct().count()
        assert n_parts >= 8, n_parts


def test_entry_contract_shapes(spark):
    import __spark_entry__ as em

    qs = em.queries()
    os_ = em.oracle_sql()
    assert set(os_) <= set(qs)
    # every query has an exact DuckDB oracle (r2: no rows-only exceptions)
    assert set(qs) - set(os_) == set()
    df = em.entry(spark)
    assert df.count() > 0
    assert "extracted_text" in df.columns and "conv_id" in df.columns


def test_dedup_apply_corpus_side_never_shuffles(spark):
    """dedup_apply is the 10^12-row keep-filter: the drop list must
    BROADCAST (BroadcastHashJoin LeftAnti) and the corpus side must
    reach that join with no Exchange — scan -> project -> union ->
    anti-join, nothing else (the decontaminate contract, applied to
    dedup decisions)."""
    from opencv_table_extraction_spark.operators.dedup import (
        dedup_apply,
        dedup_corpus,
    )

    corpus = dedup_corpus(spark, "/root/testdata/sf0.001")
    # stand-in decisions frame (the real one is checkpointed output;
    # the plan shape under test is dedup_apply's join, not its input)
    decisions = spark.createDataFrame(
        [(1, 0), (2, 0), (0, 0)], ["doc_id", "keeper_id"]
    )
    plan = _plan(dedup_apply(corpus, decisions))
    assert "BroadcastHashJoin LeftAnti BuildRight" in plan, plan
    # the ONLY exchange anywhere is the broadcast of the drop list
    import re

    exchanges = re.findall(r"\)\s+(\w*Exchange)\b", plan)
    assert exchanges and set(exchanges) == {"BroadcastExchange"}, exchanges


def test_turn_seq_unbounded_equals_window_form(spark):
    """Property test for the two-level prefix-sum turn ordering (r5
    verdict #3): on conversations with gaps, negative turn_idx, and a
    giant 5,000-turn conversation spread over 15 fixed-width turn_idx
    buckets (real cross-bucket offsets), the unbounded form must equal
    the window form exactly at any input partitioning and shuffle
    width."""
    import random

    from test_operators import spark_confs

    from opencv_table_extraction_spark.plans import with_turn_seq

    rng = random.Random(7)
    rows = [("giant", i * 3 - 500) for i in range(5000)]
    for c in range(30):
        ids = rng.sample(range(-1000, 10000), rng.randrange(1, 40))
        rows += [(f"c{c}", i) for i in ids]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int")

    def seqs(out):
        return {(r["conv_id"], r["turn_idx"]): r["turn_seq"] for r in out.collect()}

    win = seqs(with_turn_seq(df.repartition(7)))
    assert len(win) == len(rows)
    for n_in, n_shuffle in ((7, 8), (1, 3), (13, 16)):
        with spark_confs(spark, {"spark.sql.shuffle.partitions": str(n_shuffle)}):
            assert seqs(with_turn_seq(df.repartition(n_in), unbounded=True)) == win, n_in

    # ranks are the per-conversation 1..n ordinals across the buckets
    unb = with_turn_seq(df, unbounded=True)
    got = sorted(r["turn_seq"] for r in unb.where(F.col("conv_id") == "giant").collect())
    assert got == list(range(1, 5001))

    # empty input keeps the schema
    empty = with_turn_seq(df.where(F.lit(False)), unbounded=True)
    assert empty.columns == ["conv_id", "turn_idx", "turn_seq"]
    assert empty.count() == 0


def test_turn_seq_unbounded_keeps_duplicated_keys(spark):
    """A repeated (conv_id, turn_idx) keeps one row per input row in the
    bounded form, with the window form's turn_seq multiset (the tied
    rows get distinct ranks, as row_number gives them). A join back on
    (conv_id, turn_idx) fans the pair out to 2 x 2 rows."""
    from opencv_table_extraction_spark.plans import with_turn_seq

    df = spark.createDataFrame([("a", 1), ("a", 2), ("a", 2), ("a", 3), ("b", 1)],
                               "conv_id string, turn_idx int")

    def ranks(out):
        return sorted((r["conv_id"], r["turn_idx"], r["turn_seq"]) for r in out.collect())

    unb = ranks(with_turn_seq(df, unbounded=True))
    assert len(unb) == 5
    assert unb == ranks(with_turn_seq(df))


def test_turn_seq_unbounded_splits_hot_conversation(spark):
    """One hot conversation of 100k turns (beside a cold one) at 8
    shuffle partitions, AQE coalescing off: in the bounded form no task
    of the turn_seq stage holds more than half of its rows, and every
    (conv_id, bucket) window partition sits in one task with at most W
    rows. The window form puts the whole conversation in one task."""
    from collections import Counter

    from test_operators import spark_confs

    from opencv_table_extraction_spark.plans import with_turn_seq
    from opencv_table_extraction_spark.plans.pipeline import RUN_BUCKET_BITS

    n = 100_000
    turns = spark.range(n + 100).select(
        F.when(F.col("id") < n, "hot").otherwise("cold").alias("conv_id"),
        (F.col("id") % n).cast("int").alias("turn_idx"),
    ).repartition(4)

    def hot_tasks(out):
        """{(bucket, task): rows} of the hot conversation; asserts every
        turn_seq is its turn_idx + 1"""
        tagged = out.select(
            "conv_id",
            F.shiftright("turn_idx", RUN_BUCKET_BITS).alias("bkt"),
            F.spark_partition_id().alias("task"),
            (F.col("turn_seq") != F.col("turn_idx") + 1).cast("int").alias("bad"),
        )
        rows = tagged.groupBy("conv_id", "bkt", "task").agg(
            F.count("*").alias("n"), F.sum("bad").alias("bad")).collect()
        assert sum(r["n"] for r in rows) == n + 100
        assert sum(r["bad"] for r in rows) == 0
        return {(r["bkt"], r["task"]): r["n"] for r in rows if r["conv_id"] == "hot"}

    with spark_confs(spark, {"spark.sql.adaptive.coalescePartitions.enabled": "false",
                             "spark.sql.shuffle.partitions": "8"}):
        bounded = hot_tasks(with_turn_seq(turns, unbounded=True))
        window = hot_tasks(with_turn_seq(turns))

    per_task = Counter()
    for (_, task), c in bounded.items():
        per_task[task] += c
    assert max(per_task.values()) <= n // 2, per_task
    buckets = [b for b, _ in bounded]
    assert len(buckets) == len(set(buckets))  # each bucket in one task
    assert max(bounded.values()) <= 1 << RUN_BUCKET_BITS
    assert len({task for _, task in window}) == 1


def _unbounded_turn_seq(df):
    from opencv_table_extraction_spark.plans import with_turn_seq

    return with_turn_seq(df, unbounded=True)


def _token_shards(df):
    from opencv_table_extraction_spark.operators.textstats import pack_token_shards

    return pack_token_shards(df.withColumnRenamed("turn_idx", "doc_id")
                             .withColumnRenamed("conv_id", "source"))


@pytest.mark.parametrize("build, column", [(_unbounded_turn_seq, "turn_seq"),
                                           (_token_shards, "shard_id")],
                         ids=["turn_seq", "pack_token_shards"])
def test_turn_seq_plan_construction_is_lazy(spark, build, column):
    """Building a grouped_running_sum plan (unbounded turn_seq, token
    shard packing) must launch no Spark job: the bucket is arithmetic on
    the order column, with no bounds aggregate, eager collect or
    checkpoint.
    Proven by constructing the plan over input whose evaluation RAISES
    — construction succeeds and runs no job, execution fails."""
    from pyspark.sql.types import StructType, StructField, StringType, IntegerType

    def boom(_it):
        raise RuntimeError("input must not be evaluated at plan build")
        yield  # pragma: no cover

    schema = StructType(
        [
            StructField("conv_id", StringType()),
            StructField("turn_idx", IntegerType()),
            StructField("text", StringType()),
        ]
    )
    df = spark.createDataFrame([("c", 1, "t")], schema).mapInPandas(boom, schema)
    sc = spark.sparkContext
    group = f"lazy-build{build.__name__}"
    sc.setJobGroup(group, "plan build")
    try:
        plan = build(df)  # must not raise
        assert not sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert column in plan.columns
    with pytest.raises(Exception):
        plan.count()


def test_unbounded_turn_seq_runs_kernel_once(spark, fixture_dir):
    """The unbounded turn_seq form takes its per-bucket turn counts from
    the INPUT (a pruned JVM-only re-scan), never from the kernel output:
    the Python kernel map appears exactly once, the keys branch does not
    carry the text column, and in the AQE-final plan the kernel output
    crosses one exchange, a hash on (conv_id, bucket) — no bounds
    aggregate (no SinglePartition exchange, no BroadcastNestedLoopJoin)
    and no broadcast of the kernel output."""
    import re

    df = spark.read.parquet(f"{fixture_dir}/transcripts.parquet")
    out = extract_transcripts(df, unbounded_turn_seq=True)
    plan = _plan(out)
    assert len(re.findall(r"\(\d+\)\s+MapInArrow", plan)) == 1
    # one scan feeds the kernel (carries text); the one keys-branch scan
    # is pruned to (conv_id, turn_idx)
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert sorted(schemas) == ["conv_id:string,turn_idx:int",
                               "conv_id:string,turn_idx:int,text:string"], schemas

    assert len(out.collect()) == df.count()  # finalizes the adaptive plan
    final = out._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final
    lines = final[: final.index("== Initial Plan ==")].split("\n")
    kernel = [i for i, ln in enumerate(lines) if "MapInArrow" in ln]
    assert len(kernel) == 1, final

    def depth(ln):
        m = re.match(r"[\s:]*[+:]- ", ln)
        return m.end() if m else None

    # the kernel node's ancestors: each tree line above it that is less
    # indented than every one met so far on the way up
    above, d = [], depth(lines[kernel[0]])
    for ln in reversed(lines[: kernel[0]]):
        if depth(ln) is not None and depth(ln) < d:
            above.append(ln)
            d = depth(ln)
    exchanges = [ln for ln in above if re.search(r"\bExchange\b", ln)]
    assert len(exchanges) == 1, above
    assert re.search(r"Exchange hashpartitioning\(conv_id#\d+, _bkt#\d+, \d+\)",
                     exchanges[0]), exchanges
    assert not any("BroadcastExchange" in ln for ln in above), above
    assert "BroadcastNestedLoopJoin" not in final and "SinglePartition" not in final
