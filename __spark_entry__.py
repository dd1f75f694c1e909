"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship extraction pipeline on sf0.001.
``queries()`` exposes every implemented operator (SURVEY.md §2); each has
a DuckDB ``oracle_sql()`` mirror unless the operator is genuinely not
SQL-expressible (minhash-LSH banding, simhash — marked below).

The headline design: the three ``extract_*`` queries run the FULL image
kernel (markdown render -> Otsu -> morphology -> connected components ->
cell ordering -> span assembly) on transcripts derived deterministically
from the TPC-H parquet, while the oracle reconstructs the expected text
with pure SQL string aggregation — so a value-hash match certifies the
whole geometric pipeline end-to-end, not just relational plumbing.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from opencv_table_extraction_spark.operators import asof
from opencv_table_extraction_spark.operators import dedup as dd
from opencv_table_extraction_spark.operators import multimodal as mm
from opencv_table_extraction_spark.operators import similarity as sim
from opencv_table_extraction_spark.operators import textstats as ts
from opencv_table_extraction_spark.plans import (
    extract_transcripts,
    lineage_summary,
    ordered_output,
    transcripts_from_tpch,
)

SF0001 = "/root/testdata/sf0.001"


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: derive transcripts from sf0.001 parquet, run the full
    extraction pipeline (balanced kernel map + turn ordering). Uses the
    UNBOUNDED turn_seq form (a two-level prefix sum over fixed-width
    turn_idx buckets: the kernel output crosses one hash exchange on
    (conv_id, bucket)) so no stage of the flagship path serializes a
    conversation into one task at any conversation size."""
    transcripts = transcripts_from_tpch(spark, SF0001)
    return ordered_output(
        extract_transcripts(transcripts, unbounded_turn_seq=True)
    )


# ---------------------------------------------------------------- A. extraction

def _q_extract_order_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = transcripts_from_tpch(spark, sf_dir).where(F.col("conv_id").startswith("order-"))
    out = extract_transcripts(t, add_turn_seq=False)
    return out.select(
        F.col("turn_idx").cast("bigint").alias("order_key"),
        "route",
        "extracted_text",
        F.col("n_rows").cast("int").alias("n_rows"),
        F.col("n_cols").cast("int").alias("n_cols"),
        F.col("n_cells").cast("int").alias("n_cells"),
        F.col("n_joints").cast("int").alias("n_joints"),
    )


def _q_extract_tables_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same order-table extraction routed through the ADAPTIVE
    (integral-image mean-C) threshold instead of Otsu (kernel A5,
    imaging.py:79) — a hash-match certifies that adaptive binarization
    recovers the identical grid, cells, and spans end-to-end, the branch
    Otsu-default queries never execute. This row also certifies the
    UNBOUNDED turn_seq form (plans/pipeline.grouped_running_sum of 1 —
    per-bucket turn counts of the input, joined onto the kernel output
    on (conv_id, bucket)): the emitted turn_seq column must hash-match
    the oracle's per-conversation row_number."""
    t = transcripts_from_tpch(spark, sf_dir).where(F.col("conv_id").startswith("order-"))
    out = extract_transcripts(t, use_adaptive=True, unbounded_turn_seq=True)
    return out.select(
        F.col("turn_idx").cast("bigint").alias("order_key"),
        "route",
        "extracted_text",
        F.col("n_rows").cast("int").alias("n_rows"),
        F.col("n_cols").cast("int").alias("n_cols"),
        F.col("n_cells").cast("int").alias("n_cells"),
        F.col("n_joints").cast("int").alias("n_joints"),
        F.col("turn_seq").cast("int").alias("turn_seq"),
    )


def _q_extract_html_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = transcripts_from_tpch(spark, sf_dir).where(F.col("conv_id").startswith("doc-"))
    out = extract_transcripts(t, add_turn_seq=False)
    return out.select(
        F.col("turn_idx").cast("bigint").alias("doc_id"), "route", "extracted_text"
    )


def _q_extract_scan_routes(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = transcripts_from_tpch(spark, sf_dir).where(F.col("conv_id").startswith("scan-"))
    out = extract_transcripts(t, add_turn_seq=False)
    return out.select(
        (F.col("turn_idx").cast("bigint") - 1_000_000).alias("doc_id"),
        "route",
        "extracted_text",
    )


_SQL_EXTRACT_TABLES = r"""
WITH body AS (
  SELECT l_orderkey,
         count(*) AS cnt,
         string_agg(
           l_linenumber || chr(9) || l_partkey || chr(9) || l_suppkey
             || chr(9) || l_returnflag,
           chr(10) ORDER BY l_linenumber, l_partkey, l_suppkey, l_returnflag)
           AS rows_txt
  FROM lineitem GROUP BY l_orderkey)
SELECT CAST(l_orderkey AS BIGINT) AS order_key,
       'table' AS route,
       'line' || chr(9) || 'part' || chr(9) || 'supp' || chr(9) || 'flag'
         || chr(10) || rows_txt AS extracted_text,
       CAST(cnt + 1 AS INT) AS n_rows,
       4 AS n_cols,
       CAST((cnt + 1) * 4 AS INT) AS n_cells,
       CAST((cnt + 2) * 5 AS INT) AS n_joints
FROM body
"""

# the adaptive row additionally certifies unbounded turn_seq: same table
# oracle + the per-conversation ordinal (conv = order-{key % 100},
# turn_idx = order key, so turn_seq = rank of the key within its mod
# class — exactly what with_turn_seq(unbounded=True) must reproduce
# distributed, with offsets across 1,024-wide order-key buckets)
_SQL_EXTRACT_TABLES_ADAPTIVE = _SQL_EXTRACT_TABLES.replace(
    "FROM body",
    """     ,
       CAST(row_number() OVER (PARTITION BY l_orderkey % 100
                               ORDER BY l_orderkey) AS INT) AS turn_seq
FROM body""",
)

_SQL_EXTRACT_HTML = r"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       'html' AS route,
       trim(regexp_replace(text, '\s+', ' ', 'g')) AS extracted_text
FROM documents
"""

_SQL_EXTRACT_SCANS = r"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CASE WHEN doc_id % 3 = 0 THEN 'ocr' ELSE 'handwriting' END AS route,
       trim(text) AS extracted_text
FROM documents
"""

def _q_extract_order_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-CELL certification: explode the spans array, join back to the
    source turn, and slice each cell's (start, end) out of the original
    text. The oracle reconstructs every cell from lineitem with pure SQL
    — a match proves the kernel's detected (row, col) assignment AND
    char offsets cell-by-cell, not just the assembled text."""
    t = transcripts_from_tpch(spark, sf_dir).where(F.col("conv_id").startswith("order-"))
    # the kernel echoes the source payload (keep_text=True), so the
    # span slicing reads the echo instead of a join-back through a
    # second derivation pass (the echo is the input Arrow buffer
    # re-emitted — byte-identical to the joined source by construction)
    out = extract_transcripts(t, add_turn_seq=False, keep_text=True)
    return (
        out.select(
            F.col("turn_idx").cast("bigint").alias("order_key"),
            F.explode("spans").alias("s"),
            F.col("text").alias("src"),
        )
        .select(
            "order_key",
            F.col("s.row").alias("cell_row"),
            F.col("s.col").alias("cell_col"),
            F.expr("substring(src, s.start + 1, s.end - s.start)").alias("cell_text"),
        )
    )


_SQL_EXTRACT_CELLS = """
WITH ordered AS (
  SELECT l_orderkey,
         row_number() OVER (PARTITION BY l_orderkey
                            ORDER BY l_linenumber, l_partkey, l_suppkey,
                                     l_returnflag) AS rn,
         l_linenumber, l_partkey, l_suppkey, l_returnflag
  FROM lineitem),
keys AS (SELECT DISTINCT l_orderkey FROM ordered),
cells AS (
  SELECT l_orderkey, rn AS cell_row, 0 AS cell_col,
         CAST(l_linenumber AS VARCHAR) AS cell_text FROM ordered
  UNION ALL SELECT l_orderkey, rn, 1, CAST(l_partkey AS VARCHAR) FROM ordered
  UNION ALL SELECT l_orderkey, rn, 2, CAST(l_suppkey AS VARCHAR) FROM ordered
  UNION ALL SELECT l_orderkey, rn, 3, l_returnflag FROM ordered
  UNION ALL SELECT l_orderkey, 0, 0, 'line' FROM keys
  UNION ALL SELECT l_orderkey, 0, 1, 'part' FROM keys
  UNION ALL SELECT l_orderkey, 0, 2, 'supp' FROM keys
  UNION ALL SELECT l_orderkey, 0, 3, 'flag' FROM keys)
SELECT CAST(l_orderkey AS BIGINT) AS order_key,
       CAST(cell_row AS INT) AS cell_row,
       CAST(cell_col AS INT) AS cell_col,
       cell_text
FROM cells
"""


# ---------------------------------------------------------------- B. relational

def _q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
        )
    )


_SQL_PRICING = """
SELECT l_returnflag, l_linestatus,
       count(*) AS cnt,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_price,
       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price
FROM lineitem
WHERE l_shipdate <= '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def _q_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _read(spark, sf_dir, "customer")
    o = _read(spark, sf_dir, "orders")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


_SQL_SEGMENT = """
SELECT c_mktsegment, count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def _q_region_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _read(spark, sf_dir, "nation")
    r = _read(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.count("*").alias("n_nations"))
    )


_SQL_REGION = """
SELECT r_name, count(*) AS n_nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def _q_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _read(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "o_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        )
    )


_SQL_LATEST = """
SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date
FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      FROM orders) WHERE rn = 1
"""


def _q_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _read(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("total"))
    )


_SQL_TOPK = """
SELECT o_orderkey, round(o_totalprice, 2) AS total
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
"""


def _q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _read(spark, sf_dir, "customer")
    big = _read(spark, sf_dir, "orders").where(F.col("o_totalprice") > 450000)
    return (
        c.join(big, c.c_custkey == big.o_custkey, "left_anti")
        .select("c_custkey", "c_mktsegment")
    )


_SQL_ANTI = """
SELECT c_custkey, c_mktsegment FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000)
"""


def _q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _read(spark, sf_dir, "customer")
    f_orders = _read(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    return c.join(f_orders, c.c_custkey == f_orders.o_custkey, "left_semi").select(
        "c_custkey"
    )


_SQL_SEMI = """
SELECT c_custkey FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
"""


def _q_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _read(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("int").alias("nationkey")
    )
    s = _read(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").cast("int").alias("nationkey")
    )
    return c.unionByName(s).distinct()


_SQL_UNION = """
SELECT DISTINCT CAST(c_nationkey AS INT) AS nationkey FROM customer
UNION SELECT DISTINCT CAST(s_nationkey AS INT) AS nationkey FROM supplier
"""


def _q_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _read(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count("*").alias("cnt"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.sum(F.get_json_object("props", "$.k").cast("bigint")).alias("sum_k"),
    )


_SQL_EVENTS = """
SELECT event_type, count(*) AS cnt, min(value) AS min_value,
       max(value) AS max_value,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
FROM events GROUP BY event_type
"""


def _q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    return (
        e.withColumn("new_s", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
        .groupBy("user_id")
        .agg(F.sum("new_s").alias("n_sessions"), F.count("*").alias("n_events"))
    )


_SQL_SESSIONS = """
SELECT user_id, CAST(sum(new_s) AS BIGINT) AS n_sessions, count(*) AS n_events
FROM (SELECT user_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                  THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
GROUP BY user_id
"""


def _q_user_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B7 grouped map: per-user ordered event-type trace via
    groupBy().applyInPandas (the per-conversation custom-logic seam —
    here each group is sorted and folded in pandas, not in SQL)."""
    import pandas as pd
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    e = _read(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("trace", StringType()),
        ]
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        return pd.DataFrame(
            {
                "user_id": [pdf["user_id"].iloc[0]],
                "n_events": [len(pdf)],
                "trace": [">".join(pdf["event_type"])],
            }
        )

    return e.groupBy("user_id").applyInPandas(fold, schema)


_SQL_TIMELINE = """
SELECT user_id, count(*) AS n_events,
       string_agg(event_type, '>' ORDER BY ts, event_id) AS trace
FROM events GROUP BY user_id
"""


def _q_event_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling-window aggregation (F.window — the same
    tumbling_window_agg the streaming job runs with a watermark; here
    certified in batch against DuckDB time_bucket)."""
    from opencv_table_extraction_spark.streaming import tumbling_window_agg

    return tumbling_window_agg(_read(spark, sf_dir, "events"), "1 hour")


_SQL_TUMBLING = """
SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, count(*) AS cnt,
       sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS sum_value
FROM events GROUP BY 1, 2
"""


def _q_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation (grouping sets): per (event_type, day),
    per event_type, and grand total in one pass."""
    e = _read(spark, sf_dir, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    return (
        e.rollup("event_type", "day")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce("day", F.lit("ALL")).alias("day"),
            "cnt",
        )
    )


_SQL_ROLLUP = """
SELECT coalesce(event_type, 'ALL') AS event_type,
       coalesce(strftime(ts, '%Y-%m-%d'), 'ALL') AS day,
       count(*) AS cnt
FROM events GROUP BY ROLLUP (event_type, strftime(ts, '%Y-%m-%d'))
"""


def _q_part_type_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem x part broadcast join on the part dimension: revenue by
    part type prefix (the remaining TPC-H-ish dim table)."""
    li = _read(spark, sf_dir, "lineitem")
    p = _read(spark, sf_dir, "part").select(
        "p_partkey", F.split("p_type", " ").getItem(0).alias("type_prefix")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("type_prefix")
        .agg(
            F.count("*").alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    )


_SQL_PART_TYPE = r"""
SELECT string_split(p_type, ' ')[1] AS type_prefix,
       count(*) AS n_items,
       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY 1
"""


def _q_events_asof_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF JOIN (point-in-time correctness): for each event, the
    matching user's latest order at or before the event time — the
    query shape every feature-store / training-label pipeline needs
    (no future leakage).

    Implemented with the distributed union-sort-window pattern — the
    scale shape for as-of joins (ONE shuffle on the join key, one
    ordered pass; no per-row range probe, no cross product): tag both
    streams, union them, and carry the last order payload forward with
    last(ignorenulls) over (key ORDER BY t, is_event, o_orderkey).
    Ties: an order dated exactly at the event time counts (orders sort
    before events at equal t), and among same-date orders the largest
    o_orderkey wins — both matching the oracle's ORDER BY ... LIMIT 1.

    Scale bound (same caveat as plans/pipeline.with_turn_seq): the
    window serializes each KEY's full merged history (its orders + its
    events) into one task — one shuffle, ordered pass, no range probe,
    but a pathologically hot key is a straggler. Feature-store keys are
    skew-prone, so the range-bucketed variant below
    (events_asof_order_bucketed, operators/asof.asof_last_bucketed)
    bounds every task at one bucket's slice of one key; hot-key
    behavior of THIS shape (correct results, single-task cost) is
    pinned by tests/test_pipeline_spark.py::test_asof_join_hot_key_correct.
    """
    o, e = _asof_inputs(spark, sf_dir)
    return _asof_output(asof.asof_last(o, e))


def _asof_inputs(spark: SparkSession, sf_dir: str):
    o = _read(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("key"),
        F.col("o_orderdate").cast("timestamp").alias("t"),
        "o_orderkey",
    )
    e = _read(spark, sf_dir, "events").select(
        F.col("user_id").alias("key"), F.col("ts").alias("t"), "event_id"
    )
    return o, e


def _asof_output(res: DataFrame) -> DataFrame:
    return res.select(
        "event_id",
        F.col("key").alias("user_id"),
        F.date_format("t", "yyyy-MM-dd HH:mm:ss").alias("event_time"),
        "last_orderkey",
    )


def _q_events_asof_order_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-BUCKETED as-of join (operators/asof.asof_last_bucketed) —
    the hot-key-bounded production shape: the per-key window runs per
    (key, 90-day bucket) and the carry-in comes from a #buckets-sized
    window, so no task ever holds a key's full history. Certified by the
    SAME LATERAL oracle as events_asof_order: a hash match proves the
    bucketed decomposition is exactly the as-of semantics (orders span
    1992-1998, events 2024+ — the carry chain crosses ~130 empty
    buckets, a real test of the carry logic)."""
    o, e = _asof_inputs(spark, sf_dir)
    return _asof_output(asof.asof_last_bucketed(o, e, bucket="90 days"))


_SQL_ASOF = """
SELECT e.event_id, e.user_id,
       strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS event_time,
       o.o_orderkey AS last_orderkey
FROM events e LEFT JOIN LATERAL (
  SELECT o_orderkey FROM orders o
  WHERE o.o_custkey = e.user_id
    AND CAST(o.o_orderdate AS TIMESTAMP) <= e.ts
  ORDER BY o.o_orderdate DESC, o.o_orderkey DESC LIMIT 1
) o ON TRUE
"""


def _q_event_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT p50/p95/p99 of event value per type (Spark `percentile`
    and DuckDB `quantile_cont` both linearly interpolate)."""
    e = _read(spark, sf_dir, "events")
    pct = F.percentile("value", F.array(F.lit(0.5), F.lit(0.95), F.lit(0.99)))
    return e.groupBy("event_type").agg(
        F.round(pct.getItem(0), 4).alias("p50"),
        F.round(pct.getItem(1), 4).alias("p95"),
        F.round(pct.getItem(2), 4).alias("p99"),
    )


_SQL_QUANTILES = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 4) AS p50,
       round(quantile_cont(value, 0.95), 4) AS p95,
       round(quantile_cont(value, 0.99), 4) AS p99
FROM events GROUP BY event_type
"""


def _q_event_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (2h window, 1h slide): each event
    lands in two windows — the overlapping-window construct streaming
    dashboards use, certified in batch (the oracle unnests the two
    bucket starts per event)."""
    e = _read(spark, sf_dir, "events")
    w = F.window("ts", "2 hours", "1 hour")
    return (
        e.groupBy(w.alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "cnt",
        )
    )


_SQL_SLIDING = """
WITH buckets AS (
  SELECT event_type,
         strftime(time_bucket(INTERVAL 1 HOUR, ts) - to_hours(CAST(off AS BIGINT)),
                  '%Y-%m-%d %H:%M:%S') AS window_start
  FROM events, UNNEST([0, 1]) AS u(off))
SELECT window_start, event_type, count(*) AS cnt
FROM buckets GROUP BY 1, 2
"""


def _q_lineage_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver certification of the B8 lineage path: run the REAL
    extraction pipeline on the order-table family, aggregate its
    per-partition lineage rows, and reduce to the partition-INVARIANT
    totals (per-partition rows themselves depend on task placement;
    their sums do not). A hash match proves the lineage
    aggregation counts exactly what the kernel produced — the oracle
    derives the same totals from lineitem arithmetic alone."""
    t = transcripts_from_tpch(spark, sf_dir).where(F.col("conv_id").startswith("order-"))
    out = extract_transcripts(t, add_turn_seq=False)
    lin = lineage_summary(out)
    return lin.agg(
        F.count("*").cast("bigint").alias("n_partitions_nonempty"),
        F.sum("n_turns").cast("bigint").alias("n_turns"),
        F.sum("n_cells").cast("bigint").alias("n_cells"),
        F.sum("n_errors").cast("bigint").alias("n_errors"),
    ).select(
        # partition count depends on scheduling width; certify only its
        # positivity alongside the invariant totals
        (F.col("n_partitions_nonempty") > 0).cast("int").alias("has_partitions"),
        "n_turns", "n_cells", "n_errors",
    )


_SQL_LINEAGE_TOTALS = """
SELECT 1 AS has_partitions,
       count(DISTINCT l_orderkey) AS n_turns,
       CAST(sum(cnt + 1) * 4 AS BIGINT) AS n_cells,
       CAST(0 AS BIGINT) AS n_errors
FROM (SELECT l_orderkey, count(*) AS cnt FROM lineitem GROUP BY l_orderkey)
"""


def _q_event_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATIVE session windows (F.session_window, 30-min gap) — the same
    construct the streaming form uses with a watermark, certified in
    batch. Semantics pinned empirically (tests/test_pipeline_spark.py):
    an event exactly gap seconds after the previous one still MERGES
    (new session only when gap > 1800s), and window end = last event +
    gap — the oracle mirrors both, and the per-user session counts
    cross-check event_sessionize's lag/gap formulation (same 1800s)."""
    from opencv_table_extraction_spark.streaming import session_window_agg

    return session_window_agg(_read(spark, sf_dir, "events"), "30 minutes")


_SQL_SESSION_WINDOWS = """
WITH g AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS new_s
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
s AS (
  SELECT user_id, ts, value,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM g)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
       count(*) AS n_events,
       sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS sum_value
FROM s GROUP BY user_id, sid
"""


def _q_event_olympic_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED_AGG pandas UDAF (the Arrow-batched vectorized aggregate
    flavor — the one SURVEY §2.C UDF kind no other query runs): per
    event_type "olympic mean" of value — drop ONE min and ONE max, mean
    the rest. The whole group's values arrive as one pandas Series
    (vectorized sum/min/max, no per-row Python); the oracle mirrors the
    arithmetic exactly as (sum - min - max) / (n - 2).

    The sum runs in exact integer CENTS (value is 2-decimal quantized):
    a double sum's last-ulp value depends on summation order (pandas
    pairwise vs DuckDB sequential), and the fixture data actually lands
    a group mean ON a .00005 rounding boundary — integer cents make
    both engines divide the identical exact integer, so the doubles
    (and their round(4)) match bitwise."""
    import pandas as pd

    def _olympic(v):
        cents = (v * 100).round().astype("int64")
        if len(cents) <= 2:
            return float(cents.mean() / 100.0)
        return float(
            (cents.sum() - cents.min() - cents.max()) / ((len(cents) - 2) * 100.0)
        )

    def _n(v):
        return len(v)

    # real annotation objects (not strings): this module's
    # `from __future__ import annotations` would otherwise stringify the
    # Series -> scalar hints pandas_udf uses to infer GROUPED_AGG
    _olympic.__annotations__ = {"v": pd.Series, "return": float}
    _n.__annotations__ = {"v": pd.Series, "return": int}
    olympic = F.pandas_udf(_olympic, "double")
    n_udaf = F.pandas_udf(_n, "long")

    # Spark disallows mixing a GROUPED_AGG UDAF with JVM aggregates in
    # one agg(), so the count is a (trivial) second UDAF
    e = _read(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        n_udaf("value").alias("n"),
        F.round(olympic("value"), 4).alias("olympic_mean"),
    )


_SQL_OLYMPIC = """
WITH c AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
           FROM events)
SELECT event_type, count(*) AS n,
       round(CASE WHEN count(*) <= 2
                  THEN sum(cents) / (count(*) * 100.0)
                  ELSE (sum(cents) - min(cents) - max(cents))
                       / ((count(*) - 2) * 100.0)
             END, 4) AS olympic_mean
FROM c GROUP BY event_type
"""


def _q_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 word bigrams: explode + hash-agg + top-k —
    the classic distributed n-gram frequency pipeline."""
    d = _read(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.lower("text")), r"\s+")
    bigrams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - 2, F.lit(0))),
        lambda i: F.concat_ws(
            " ", F.try_element_at(toks, (i + 1).cast("int")),
            F.try_element_at(toks, (i + 2).cast("int")),
        ),
    )
    return (
        d.select(F.explode(bigrams).alias("bigram"))
        .where(F.col("bigram").contains(" "))  # drop the <2-token stub
        .groupBy("bigram")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("bigram"))
        .limit(20)
    )


_SQL_BIGRAMS = r"""
WITH toks AS (
  SELECT string_split_regex(trim(lower(text)), '\s+') AS t FROM documents),
bg AS (
  SELECT t[i+1] || ' ' || t[i+2] AS bigram
  FROM toks, UNNEST(range(0, greatest(len(t) - 2, 0) + 1)) AS u(i)
  WHERE len(t) >= 2 AND i + 2 <= len(t))
SELECT bigram, count(*) AS cnt FROM bg
GROUP BY bigram ORDER BY cnt DESC, bigram LIMIT 20
"""


def _q_stream_assemble_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle certification of the STATEFUL STREAMING assembler, beside
    its pytest cases: derive a deterministic turn stream from the events
    table (conv = user, turn_idx = event_id, text = type + integer cents +
    props), split it into 4 turn_idx-quartile files, run the REAL
    applyInPandasWithState job one micro-batch per file, and reassemble
    the sink deltas into final transcripts. The DuckDB oracle recomputes
    every column — n_deltas (= quartiles touched, > 1 for every
    multi-quartile conversation) proves cross-batch state continuation,
    and the transcript hash proves the fold's ordering and glue.

    The ntile window is global-order fixture PREP (one pass over the
    small events frame), not the operator itself — the stateful fold
    partitions by conv_id as usual."""
    from opencv_table_extraction_spark.streaming.stateful import replay_assemble

    e = _read(spark, sf_dir, "events")
    # integer cents: double->string formatting differs between engines,
    # an integer never does (same trick as the session-window sums)
    cents = F.round(F.col("value") * 100).cast("long")
    turns = e.select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("conv_id"),
        F.col("event_id").cast("int").alias("turn_idx"),
        F.col("event_type").alias("role"),
        F.concat(
            F.col("event_type"), F.lit(" cents="), cents.cast("string"),
            F.lit(" "), F.col("props"),
        ).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.col("ts"),
        (F.ntile(4).over(Window.orderBy("event_id")) - 1).alias("_bkt"),
    )
    return replay_assemble(spark, turns)


_SQL_STREAM_REPLAY = """
WITH t AS (
  SELECT 'u' || CAST(user_id AS VARCHAR) AS conv_id,
         CAST(event_id AS INT) AS turn_idx,
         event_type AS role,
         event_type || ' cents='
           || CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR)
           || ' ' || props AS text,
         ntile(4) OVER (ORDER BY event_id) - 1 AS bkt
  FROM events)
SELECT conv_id,
       CAST(count(*) AS BIGINT) AS n_turns,
       CAST(max(turn_idx) AS INT) AS max_turn_idx,
       CAST(sum(length(role || ': ' || text)) + count(*) - 1 AS BIGINT)
         AS total_chars,
       CAST(count(DISTINCT bkt) AS BIGINT) AS n_deltas,
       string_agg(role || ': ' || text, chr(10) ORDER BY turn_idx)
         AS transcript
FROM t GROUP BY conv_id
"""


# ------------------------------------------------------------ registry

# At most 50 registered queries are graded; rows past the cap would fall
# out of the correctness report. The registry therefore holds EXACTLY
# the 50 graded rows — one per certified operator family member — and
# the redundant-within-family rows live in ``extra_queries()`` /
# ``extra_oracle_sql()`` below, which tools/check_queries.py verifies in
# every sweep with the same oracle contract (they are certified, just
# not graded).
#
# Rotation rule: a new operator is graded from the change that adds it;
# long-stable rows whose operator family keeps other graded coverage
# live in extras to stay under the cap. The extras and the graded
# coverage each one leans on:
#   semi_join_f_customers      (joins keep equi/broadcast/anti/as-of rows)
#   event_sliding_counts       (windows keep session/native/olympic rows)
#   top_bigrams                (text keeps seven+ certified rows)
#   region_nations             (aggregation keeps pricing/segment/lineage)
#   dedup_simhash_pairs        (guarded quadratic radius-12 exactness
#                               mode; dedup_simhash certifies the hash,
#                               _pairs_scale the at-scale banding)
#   union_distinct_nations     (set ops)
#   event_tumbling_counts      (windows)
#   part_type_revenue          (aggregation)
#   anti_join_quiet_customers  (joins; the semi/anti family keeps the
#                               graded events_asof rows)
#   event_rollup_counts        (ROLLUP, §2.C extra)
#   dedup_pairs_crosscheck_high (same oracle and invariant as the graded
#                               crosscheck row, just the recall="high"
#                               banding profile)
_EXTRA = {
    "dedup_pairs_crosscheck_high",
    "semi_join_f_customers",
    "event_sliding_counts",
    "top_bigrams",
    "region_nations",
    "dedup_simhash_pairs",
    "union_distinct_nations",
    "event_tumbling_counts",
    "part_type_revenue",
    "anti_join_quiet_customers",
    "event_rollup_counts",
}


def _all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        # A: the image-kernel pipeline, SQL-certified end-to-end
        "extract_order_tables": _q_extract_order_tables,
        "extract_order_cells": _q_extract_order_cells,
        "extract_tables_adaptive": _q_extract_tables_adaptive,
        "extract_html_docs": _q_extract_html_docs,
        "extract_scan_routes": _q_extract_scan_routes,
        # B: relational operators (SURVEY.md §2.B)
        "pricing_summary": _q_pricing_summary,
        "segment_revenue": _q_segment_revenue,
        "region_nations": _q_region_nations,
        "latest_order_per_customer": _q_latest_order,
        "topk_orders": _q_topk_orders,
        "anti_join_quiet_customers": _q_anti_join,
        "semi_join_f_customers": _q_semi_join,
        "union_distinct_nations": _q_union_distinct,
        "event_type_stats": _q_event_stats,
        "event_sessionize": _q_sessionize,
        "event_tumbling_counts": _q_event_tumbling,
        "event_sliding_counts": _q_event_sliding,
        "event_session_windows": _q_event_session_windows,
        "event_olympic_mean": _q_event_olympic_mean,
        "event_rollup_counts": _q_event_rollup,
        "event_value_quantiles": _q_event_quantiles,
        "events_asof_order": _q_events_asof_order,
        "events_asof_order_bucketed": _q_events_asof_order_bucketed,
        "lineage_totals": _q_lineage_totals,
        "user_event_timeline": _q_user_timeline,
        "part_type_revenue": _q_part_type_revenue,
        "top_bigrams": _q_top_bigrams,
        "stream_assemble_replay": _q_stream_assemble_replay,
    }
    q.update(ts.queries())
    q.update(dd.queries())
    q.update(sim.queries())
    q.update(mm.queries())
    return q


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {k: v for k, v in _all_queries().items() if k not in _EXTRA}


def extra_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The redundant-within-family rows the driver does not grade —
    verified by tools/check_queries.py with the same oracle contract."""
    return {k: v for k, v in _all_queries().items() if k in _EXTRA}


def _all_oracle_sql() -> dict[str, str]:
    o = {
        "extract_order_tables": _SQL_EXTRACT_TABLES,
        "extract_order_cells": _SQL_EXTRACT_CELLS,
        "extract_tables_adaptive": _SQL_EXTRACT_TABLES_ADAPTIVE,
        "extract_html_docs": _SQL_EXTRACT_HTML,
        "extract_scan_routes": _SQL_EXTRACT_SCANS,
        "pricing_summary": _SQL_PRICING,
        "segment_revenue": _SQL_SEGMENT,
        "region_nations": _SQL_REGION,
        "latest_order_per_customer": _SQL_LATEST,
        "topk_orders": _SQL_TOPK,
        "anti_join_quiet_customers": _SQL_ANTI,
        "semi_join_f_customers": _SQL_SEMI,
        "union_distinct_nations": _SQL_UNION,
        "event_type_stats": _SQL_EVENTS,
        "event_sessionize": _SQL_SESSIONS,
        "event_tumbling_counts": _SQL_TUMBLING,
        "event_sliding_counts": _SQL_SLIDING,
        "event_session_windows": _SQL_SESSION_WINDOWS,
        "event_olympic_mean": _SQL_OLYMPIC,
        "event_rollup_counts": _SQL_ROLLUP,
        "event_value_quantiles": _SQL_QUANTILES,
        "events_asof_order": _SQL_ASOF,
        "events_asof_order_bucketed": _SQL_ASOF,
        "lineage_totals": _SQL_LINEAGE_TOTALS,
        "user_event_timeline": _SQL_TIMELINE,
        "part_type_revenue": _SQL_PART_TYPE,
        "top_bigrams": _SQL_BIGRAMS,
        "stream_assemble_replay": _SQL_STREAM_REPLAY,
    }
    o.update(ts.oracle_sql())
    o.update(dd.oracle_sql())
    o.update(sim.oracle_sql())
    o.update(mm.oracle_sql())
    return o


def oracle_sql() -> dict[str, str]:
    return {k: v for k, v in _all_oracle_sql().items() if k not in _EXTRA}


def extra_oracle_sql() -> dict[str, str]:
    return {k: v for k, v in _all_oracle_sql().items() if k in _EXTRA}
