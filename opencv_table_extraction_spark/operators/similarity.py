"""Similarity search over the embeddings table (array<float> column).

Brute-force cosine top-k is the exact baseline: JVM-side zip_with /
aggregate dot products, no Python. IVF search is the scale path: k-means
builds a K-row codebook, every vector is assigned to its nearest
centroid's bucket, and a query scores only the vectors in its n_probe
nearest buckets. ``ivf_batch_search`` is the one search operator — a
single query is a one-row query frame — and against a store written
partitioned by centroid_id its probe is dynamic partition pruning.
Brute-force top-k and assignment have exact DuckDB oracles
(list_dot_product); the IVF search rows pin their deterministic outcome."""

from __future__ import annotations

import math
from collections.abc import Callable, Iterable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

TOP_K = 10
N_CENTROIDS = 8
QUERY_VEC_ID = 0
# the deterministic M-query batch the driver-graded batch-search row
# uses (any fixed id set works; spread across the corpus)
QUERY_BATCH_IDS = (0, 11, 22, 33, 44, 55, 66, 77)


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine(a, b):
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def _norm(col):
    """sqrt(dot(x, x)) — the exact norm subexpression cosine() embeds."""
    return F.sqrt(_dot(col, col))


def _py_norm(vec) -> float:
    """Driver-side twin of _norm over a literal vector: elementwise
    products, a SEQUENTIAL left-fold sum (the same IEEE op order as the
    JVM aggregate fold), then an IEEE-correctly-rounded sqrt — bit-
    identical to evaluating _norm on the same literals, so hoisting a
    codebook norm never changes a cosine by an ulp.

    Higher-order-function lambdas evaluate interpreted in the JVM, and
    cosine() recomputes both operands' norms per pair. The hot paths
    below therefore compute each norm once (a projection for row
    vectors, a literal for codebook constants) and score with
    _dot(a, b) / (na * nb), the same expression over the same doubles."""
    s = 0.0
    for v in vec:
        x = float(v)
        s += x * x
    return math.sqrt(s)


def _id_csv() -> Column:
    """Aggregate: the group's vec_ids, sorted, as one comma-joined string
    (the canonical form the planted IVF oracles pin)."""
    return F.array_join(
        F.transform(F.array_sort(F.collect_list("vec_id")), lambda x: x.cast("string")),
        ",",
    )


def _query_frame(e: DataFrame, ids: Iterable[int]) -> DataFrame:
    """The (query_id, embedding) frame ivf_batch_search takes, for the
    given vec_ids of the corpus."""
    return e.where(F.col("vec_id").isin(list(ids))).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def _q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k of every vector vs the query vector
    (vec_id = QUERY_VEC_ID), excluding the query itself."""
    e = _emb(spark, sf_dir)
    q = e.where(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("q_embedding"),
        _norm(F.col("embedding")).alias("_nq"),
    )
    scored = e.where(F.col("vec_id") != QUERY_VEC_ID).crossJoin(F.broadcast(q))
    cos = _dot(F.col("embedding"), F.col("q_embedding")) / (
        _norm(F.col("embedding")) * F.col("_nq")
    )
    return (
        scored.select("vec_id", F.round(cos, 4).alias("cos"))
        .orderBy(F.col("cos").desc(), F.col("vec_id"))
        .limit(TOP_K)
    )


_SQL_TOPK = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID})
SELECT vec_id,
       round(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(qv AS DOUBLE[]))
             / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
                * sqrt(list_dot_product(CAST(qv AS DOUBLE[]), CAST(qv AS DOUBLE[])))), 4)
         AS cos
FROM embeddings, q
WHERE vec_id != {QUERY_VEC_ID}
ORDER BY cos DESC, vec_id
LIMIT {TOP_K}
"""


def _kmeans_lit(cents: list[list[float]]) -> Column:
    return F.array(*[F.array(*[F.lit(v) for v in c]) for c in cents])


def _score_centroids(df: DataFrame, cents: list[list[float]]) -> DataFrame:
    """Add ``_scores``: the cosine of each row's ``embedding`` to each of
    the K centroids, indexed by centroid id. Narrow, no shuffle: the
    codebook is a literal, the row norm is one projection and the
    centroid norms are a literal array, so each score is one dot product
    (see _py_norm)."""
    norms_lit = F.array(*[F.lit(_py_norm(c)) for c in cents])
    return df.withColumn("_ne", _norm(F.col("embedding"))).withColumn(
        "_scores",
        F.zip_with(
            _kmeans_lit(cents),
            norms_lit,
            lambda c, n: _dot(F.col("embedding"), c) / (F.col("_ne") * n),
        ),
    )


def _nearest() -> Column:
    """1-based position of the best score in ``_scores``. Ties go to the
    smallest centroid id (array_position returns the first max),
    matching the oracle's ORDER BY cos DESC, centroid_id."""
    return F.array_position(F.col("_scores"), F.array_max("_scores"))


def assign_to_codebook(e: DataFrame, cents: list[list[float]]) -> DataFrame:
    """Nearest-centroid assignment as a narrow per-row argmax over the
    K centroid scores: (vec_id, centroid_id, cos)."""
    pos = _nearest()
    return _score_centroids(e, cents).select(
        "vec_id",
        (pos - 1).cast("bigint").alias("centroid_id"),
        F.round(F.try_element_at("_scores", pos.cast("int")), 4).alias("cos"),
    )


def _q_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse quantization: assign every vector to its nearest
    centroid by cosine (codebook = vec_id < N_CENTROIDS, deterministic,
    mirrored exactly by the SQL oracle). The K-row codebook is collected
    to the driver and inlined as a literal — the standard k-means
    codebook pattern; at 10^12 rows the codebook is still K rows."""
    e = _emb(spark, sf_dir)
    cents = (
        e.where(F.col("vec_id") < N_CENTROIDS)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    return assign_to_codebook(e, [[float(v) for v in r["embedding"]] for r in cents])


_SQL_IVF = f"""
WITH c AS (SELECT vec_id AS centroid_id, embedding AS cv
           FROM embeddings WHERE vec_id < {N_CENTROIDS}),
scored AS (
  SELECT e.vec_id, c.centroid_id,
         list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(c.cv AS DOUBLE[]))
           / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
              * sqrt(list_dot_product(CAST(c.cv AS DOUBLE[]), CAST(c.cv AS DOUBLE[])))) AS cos
  FROM embeddings e, c)
SELECT vec_id, centroid_id, round(cos, 4) AS cos
FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY cos DESC, centroid_id) AS rn
      FROM scored)
WHERE rn = 1
"""


# Planted expected value, anchored to the sf0.01 correctness corpus the
# driver grades at: ivf_batch_search on the one-row query frame of
# QUERY_VEC_ID (n_probe=2, k-means 2 iters) deterministically finds 9 of
# the exact top-10 — and exactly WHICH 9 is pinned too (the sorted
# found-id CSV, verified stable across reruns), so the row cannot be
# satisfied accidentally by a different neighbor set with equal count.
# k-means bucketing is not SQL-expressible, so the oracle pins the
# DETERMINISTIC OUTCOME rather than re-deriving it. Valid ONLY at sf0.01
# (sf0.001 gives 10/10) — tools/check_queries.py skips the row with a
# logged reason at any other scale factor.
_SQL_IVF_RECALL = """
SELECT 10 AS k, 9 AS n_found, 0.9 AS recall,
       '7,73,190,320,334,365,387,388,423' AS found_ids_csv
"""
# scale factors where the planted constant above is anchored
IVF_RECALL_ORACLE_SF = ("sf0.01",)


def kmeans_centroids(
    e: DataFrame, k: int = N_CENTROIDS, n_iter: int = 2
) -> list[list[float]]:
    """Lloyd's k-means with a driver-held codebook (k rows) and fully
    distributed assign/mean steps — the at-scale shape: only K*dim
    floats ever reach the driver per iteration.

    Deterministic by construction: init = embeddings of the k smallest
    vec_ids; the mean step averages in DECIMAL (order-independent exact
    sums — a double sum's value depends on partial-aggregation order, so
    centroids would drift between runs/partitionings); assignment ties
    break to the smallest centroid_id."""
    rows = e.orderBy("vec_id").limit(k).select("embedding").collect()
    cents = [[float(v) for v in r["embedding"]] for r in rows]
    dim = len(cents[0])
    for _ in range(n_iter):
        assigned = _score_centroids(e, cents).select(
            (_nearest() - 1).cast("int").alias("cid"), "embedding"
        )
        means = (
            assigned.select("cid", F.posexplode("embedding").alias("pos", "val"))
            .groupBy("cid", "pos")
            .agg(
                F.avg(F.col("val").cast("decimal(27,12)")).cast("double").alias("v")
            )
            .collect()
        )
        new = [list(c) for c in cents]  # empty clusters keep their centroid
        for r in means:
            new[r["cid"]][r["pos"]] = float(r["v"])
        cents = new
        assert all(len(c) == dim for c in cents)
    return cents


def assigned_store(e: DataFrame, cents: list[list[float]]) -> DataFrame:
    """The store shape ivf_batch_search probes: (vec_id, embedding,
    centroid_id), each vector with its nearest-centroid bucket."""
    return e.join(
        assign_to_codebook(e, cents).select("vec_id", "centroid_id"),
        "vec_id",
    ).select("vec_id", "embedding", "centroid_id")


def ivf_write_partitioned(
    spark: SparkSession, sf_dir: str, out_dir: str, n_iter: int = 2
) -> list[list[float]]:
    """Write the embedding corpus as an IVF store: assigned_store as
    parquet PARTITIONED BY centroid_id — the 100-TB ANN layout, where
    probing n_probe of K buckets is physical partition pruning (the scan
    never touches the other partitions' files). Returns the codebook so
    searches reuse the exact clustering."""
    e = _emb(spark, sf_dir)
    cents = kmeans_centroids(e, n_iter=n_iter)
    assigned_store(e, cents).write.mode("overwrite").partitionBy(
        "centroid_id"
    ).parquet(out_dir)
    return cents


def probe_assignments(
    queries: DataFrame, cents: list[list[float]], n_probe: int
) -> DataFrame:
    """(query_id, embedding) -> one row per (query, probe centroid):
    (query_id, centroid_id, q_embedding). Computed JVM-side so M can be
    millions: score the K centroids per query (narrow, the
    sim_ivf_assign shape), sort (cos desc, centroid_id asc) via an
    array_sort over (neg-cos, id) structs, keep the first n_probe."""
    idx = F.sequence(F.lit(0), F.lit(len(cents) - 1))
    ranked = F.array_sort(
        F.zip_with(
            "_scores",
            idx,
            lambda s, i: F.struct((-s).alias("neg_cos"), i.alias("cid")),
        )
    )
    return _score_centroids(queries, cents).select(
        "query_id",
        F.col("embedding").alias("q_embedding"),
        F.explode(F.slice(ranked, 1, n_probe)).alias("_p"),
    ).select(
        "query_id", F.col("_p.cid").cast("bigint").alias("centroid_id"), "q_embedding"
    )


def ivf_batch_search(
    store: DataFrame,
    cents: list[list[float]],
    queries: DataFrame,
    n_probe: int = 2,
    k: int = TOP_K,
    exclude_self: bool = True,
) -> DataFrame:
    """IVF search for a whole query frame — e.g. dedup of a new shard
    against a reference corpus store. A single query is the one-row
    frame (M = 1).

    ``store`` is any (vec_id, embedding, centroid_id) frame — an
    assigned_store or a read of an ivf_write_partitioned store.
    ``queries`` is (query_id, embedding), M rows.

    100-TB shape, in order:
      1. probe_assignments builds the (query_id, centroid_id) probe
         block — M * n_probe rows, embeddings included — and BROADCASTS
         it: the store side (the 10^12-row table) never shuffles.
      2. Against a partitioned store the broadcast equi-join on
         centroid_id triggers DYNAMIC PARTITION PRUNING: only the
         union of probed buckets' files is ever read (plan-tested:
         dynamicpruning PartitionFilters) — no driver-side collect of
         probe ids needed.
      3. Scores project to (query_id, vec_id, cos) BEFORE the top-k
         exchange, so the only shuffle carries 3 scalar columns, never
         embeddings, and a partial WindowGroupLimit below it sends at
         most k rows per query per map partition (plan-tested).
      4. Per-query top-k = row_number window on (cos desc, vec_id) —
         cos is rounded to 4dp first (the repo-wide determinism
         contract, same as sim_embedding_topk: full-double ordering is
         accumulation-order-sensitive; 4dp + id tiebreak is stable
         across engines and partitionings).

    Returns (query_id, vec_id, cos, rank), rank 1-based.

    Scale bounds:
      * the probe block broadcasts WITH query embeddings (~M * n_probe
        * dim * 8 bytes, ~1 GB per million 64-dim queries): the design
        point is store >> queries (dedup a shard against a corpus
        store); a corpus-vs-corpus self-join exceeds broadcast limits
        — repartition both sides on centroid_id instead for that shape;
      * ``exclude_self=True`` compares ids ACROSS namespaces: query_id
        must be drawn from the store's vec_id space (as in the cert
        queries), otherwise a coincidental id equality silently drops a
        legitimate neighbor — use exclude_self=False for a disjoint
        query-id space."""
    qp = probe_assignments(queries, cents, n_probe).withColumn(
        "_nq", _norm(F.col("q_embedding"))
    )
    scored = store.withColumn("_ne", _norm(F.col("embedding"))).join(
        F.broadcast(qp), "centroid_id"
    )
    if exclude_self:
        scored = scored.where(F.col("vec_id") != F.col("query_id"))
    cos = _dot(F.col("embedding"), F.col("q_embedding")) / (
        F.col("_ne") * F.col("_nq")
    )
    scored = scored.select("query_id", "vec_id", F.round(cos, 4).alias("cos"))
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def _q_ivf_batch_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-graded certification of ivf_batch_search: for each of the
    8 fixed batch queries, the probed (n_probe=2 of 8) top-10 vs the
    exact per-query brute-force top-10, BOTH computed in Spark. Output
    per query: n_found / recall / both id CSVs. The DuckDB oracle
    re-derives the brute-force side for real (per-query exact top-k is
    SQL-expressible) and pins only the IVF side as the planted
    deterministic outcome (decimal k-means + tie-broken argmax + fixed
    corpus — same rationale as _SQL_IVF_RECALL), anchored to sf0.01."""
    e = _emb(spark, sf_dir)
    cents = kmeans_centroids(e)
    queries = _query_frame(e, QUERY_BATCH_IDS)
    ivf = ivf_batch_search(assigned_store(e, cents), cents, queries).select(
        "query_id", "vec_id"
    )
    qb = queries.select(
        "query_id",
        F.col("embedding").alias("q_embedding"),
        _norm(F.col("embedding")).alias("_nq"),
    )
    bcos = _dot(F.col("embedding"), F.col("q_embedding")) / (
        _norm(F.col("embedding")) * F.col("_nq")
    )
    brute = (
        e.crossJoin(F.broadcast(qb))
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", F.round(bcos, 4).alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    brute = (
        brute.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "vec_id")
    )
    hits = ivf.join(brute.withColumn("_hit", F.lit(1)), ["query_id", "vec_id"], "left")
    ivf_agg = hits.groupBy("query_id").agg(
        F.sum(F.coalesce("_hit", F.lit(0))).cast("int").alias("n_found"),
        _id_csv().alias("ivf_ids_csv"),
    )
    brute_agg = brute.groupBy("query_id").agg(_id_csv().alias("brute_ids_csv"))
    return ivf_agg.join(brute_agg, "query_id").select(
        "query_id",
        F.lit(TOP_K).alias("k"),
        "n_found",
        F.round(F.col("n_found") / F.lit(TOP_K), 4).alias("recall"),
        "ivf_ids_csv",
        "brute_ids_csv",
    )


def _q_ivf_search_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible certification of single-query IVF search: recall
    of ivf_batch_search (one-row query frame, n_probe=2 of 8 buckets)
    against the exact brute-force top-k, both computed in Spark. The
    oracle is the planted expected value — the pipeline is deterministic
    end-to-end (decimal k-means means, tie-broken argmax, fixed corpus),
    so the outcome at sf0.01 is a constant the driver can hash-match; a
    change in kernel, codebook math, or probe logic flips the row red.
    The row pins the ACTUAL found id set (sorted CSV), not just its
    count, so a regression that swaps which neighbors are found cannot
    slip through a coincidentally-equal recall."""
    e = _emb(spark, sf_dir)
    cents = kmeans_centroids(e)
    ivf = ivf_batch_search(
        assigned_store(e, cents), cents, _query_frame(e, [QUERY_VEC_ID])
    ).select("vec_id")
    brute = _q_embedding_topk(spark, sf_dir).select("vec_id")
    return (
        ivf.join(brute, "vec_id", "left_semi")
        .agg(F.count("*").alias("n_found"), _id_csv().alias("found_ids_csv"))
        .select(
            F.lit(TOP_K).alias("k"),
            F.col("n_found").cast("int").alias("n_found"),
            F.round(F.col("n_found") / F.lit(TOP_K), 4).alias("recall"),
            "found_ids_csv",
        )
    )


def _q_ivf_store_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible certification of the PARTITIONED IVF store — the
    repo's 100-TB ANN layout (written PARTITIONED BY centroid_id, probe
    = dynamic partition pruning; plan shape pinned by
    tests/test_plans.py::test_ivf_batch_search_dpp_and_exactness).
    Writes the store to a fresh temp dir, runs ivf_batch_search on the
    one-row query frame against it, and returns the found-id set PLUS
    exact row-set equality (vec_id AND cos) against the same search over
    the in-session assigned_store with the same codebook — so the row
    certifies both which neighbors the store path finds and that pruned
    physical IO changes nothing. The oracle is the planted deterministic
    outcome (decimal k-means, tie-broken argmax, fixed corpus), anchored
    to sf0.01 like _SQL_IVF_RECALL; check_queries skips it elsewhere."""
    import os
    import shutil
    import tempfile

    import pyarrow as pa

    # mkdtemp, not a fixed shared path: a predictable /tmp name races
    # concurrent runs (one run's overwrite deletes files mid-scan of
    # another) and collides across users on a shared host. The dir is
    # removed below once the 1-row result is materialized (the result
    # is collected eagerly precisely so the returned frame holds no
    # lazy scan over the deleted store). The pipeline remains
    # deterministic: only the location varies, never the store content.
    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    tmp_root = tempfile.mkdtemp(prefix=f"octe_ivf_store_{sf_tag}_")
    store_dir = os.path.join(tmp_root, "store")
    cents = ivf_write_partitioned(spark, sf_dir, store_dir)
    e = _emb(spark, sf_dir)
    q = _query_frame(e, [QUERY_VEC_ID])
    store = ivf_batch_search(spark.read.parquet(store_dir), cents, q).select(
        "vec_id", "cos"
    )
    direct = ivf_batch_search(assigned_store(e, cents), cents, q).select(
        "vec_id", "cos"
    )
    try:
        n_store = store.count()
        n_common = store.intersect(direct).count()  # both are K-row frames
        csv = store.agg(_id_csv().alias("found_ids_csv")).collect()[0]["found_ids_csv"]
    finally:
        shutil.rmtree(tmp_root, ignore_errors=True)
    # an Arrow-built 1-row frame: no Python stage, unlike a list of rows
    return spark.createDataFrame(pa.table(
        [[TOP_K], [n_store], [n_common], [int(n_store == n_common == TOP_K)], [csv]],
        schema=pa.schema([("k", pa.int32()), ("n_store", pa.int32()),
                          ("n_common", pa.int32()), ("store_equals_direct", pa.int32()),
                          ("found_ids_csv", pa.string())]),
    ))


# Batch-search oracle: the brute-force half is DERIVED FOR REAL (exact
# per-query top-k is SQL-expressible — window row_number over rounded
# cosine, identical ordering contract), so DuckDB independently
# recomputes brute_ids_csv and the n_found/recall arithmetic; only
# ivf_ids_csv is the planted deterministic outcome (k-means bucketing
# is not SQL-expressible — same rationale as _SQL_IVF_RECALL). Anchored
# to sf0.01. Batch-average recall 0.525 at n_probe=2 of 8 — the honest
# number on UNIFORM-RANDOM synthetic embeddings (no cluster structure
# for IVF to exploit; the no-structure baseline is n_probe/K = 0.25).
_SQL_IVF_BATCH = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id IN {QUERY_BATCH_IDS}),
scored AS (
  SELECT q.query_id, e.vec_id,
         round(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[]))
               / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(q.qv AS DOUBLE[])))), 4) AS cos
  FROM embeddings e, q
  WHERE e.vec_id != q.query_id),
brute AS (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rn
  FROM scored),
bt AS (
  SELECT query_id, list_sort(list(vec_id)) AS bids
  FROM brute WHERE rn <= 10 GROUP BY query_id),
planted(query_id, ivf_ids_csv) AS (VALUES
  (0,  '7,73,190,320,334,365,387,388,423,483'),
  (11, '5,30,78,93,145,233,252,277,399,465'),
  (22, '36,157,198,327,337,383,397,431,436,498'),
  (33, '5,45,92,180,185,266,279,442,451,464'),
  (44, '38,39,125,207,285,301,315,326,402,406'),
  (55, '13,42,110,166,195,220,298,467,472,477'),
  (66, '59,81,175,176,180,247,306,323,368,486'),
  (77, '41,129,130,174,190,264,343,422,423,441')),
iv AS (
  SELECT query_id, ivf_ids_csv,
         list_transform(string_split(ivf_ids_csv, ','),
                        s -> CAST(s AS BIGINT)) AS iids
  FROM planted)
SELECT iv.query_id, 10 AS k,
       CAST(len(list_intersect(iids, bids)) AS INT) AS n_found,
       round(CAST(len(list_intersect(iids, bids)) AS DOUBLE) / 10, 4) AS recall,
       iv.ivf_ids_csv,
       array_to_string(list_transform(bids, x -> CAST(x AS VARCHAR)), ',')
         AS brute_ids_csv
FROM iv JOIN bt USING (query_id)
"""
IVF_BATCH_ORACLE_SF = ("sf0.01",)


# Planted expected value (see _SQL_IVF_RECALL's rationale): ivf_batch_search
# on the one-row query frame against the partitioned store must return
# exactly its top-10 over the in-session assigned_store — pinned id-by-id
# at sf0.01 (the same set as sim_ivf_batch_search query 0), equality
# flags pinned to full agreement.
_SQL_IVF_STORE = """
SELECT 10 AS k, 10 AS n_store, 10 AS n_common, 1 AS store_equals_direct,
       '7,73,190,320,334,365,387,388,423,483' AS found_ids_csv
"""
IVF_STORE_ORACLE_SF = ("sf0.01",)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "sim_embedding_topk": _q_embedding_topk,
        "sim_ivf_assign": _q_ivf_assign,
        "sim_ivf_search_recall": _q_ivf_search_recall,
        "sim_ivf_store_search": _q_ivf_store_search,
        "sim_ivf_batch_search": _q_ivf_batch_search,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "sim_embedding_topk": _SQL_TOPK,
        "sim_ivf_assign": _SQL_IVF,
        "sim_ivf_search_recall": _SQL_IVF_RECALL,
        "sim_ivf_store_search": _SQL_IVF_STORE,
        "sim_ivf_batch_search": _SQL_IVF_BATCH,
    }
