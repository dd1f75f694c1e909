"""Deduplication operators: exact (hash groupBy), n-gram Jaccard
near-dup (blocked pairwise baseline and exact prefix-filter join),
asymmetric containment, MinHash+LSH, SimHash, SRP embedding dedup,
connected components and the keep-filter that applies the decisions.

Joins, aggregations, windows and native array ops stay JVM-side; every
per-document and per-pair primitive has one implementation, an
Arrow-batch (mapInArrow) kernel — word n-gram rows, minhash bands,
in-bucket pairs, pair verification, simhash, SRP sketches and the
components pre-contraction — because Spark interprets higher-order-
function lambdas and cannot express a union-find. Each kernel's output
columns are a ``pa.Schema`` (module-level where it is fixed); the Spark
side passes ``from_arrow_schema`` of it. The bucketed generators never
self-join their bucket rows: LSH, simhash and SRP hash-partition them
on the bucket key, sort within partitions and enumerate each key run's
pairs in one kernel (_bucket_candidates); the Jaccard prefix join
groups its prefix rows and prunes the pairs of each bucket's id array
as JVM structs (_bucket_pairs).

The dedup corpus derives near-duplicates deterministically from the
documents table (each doc unioned with its 90%-prefix truncation at
doc_id+1_000_000), so recall is measurable and EVERY query here has an
exact DuckDB oracle: Jaccard and simhash mirror the arithmetic directly;
the LSH banding itself is not SQL-expressible (xxhash64), but its output
is deterministic on the fixed corpus and verified equal to the exact
brute-force pair set (see _SQL_MINHASH notes).
"""

from __future__ import annotations

import functools
import itertools
import os
import re
import uuid
from collections.abc import Callable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_type

from ..session import kernel_partitions

N_HASHES = 32
N_BANDS = 16  # 16 bands x 2 rows: ~0.99 candidate recall at jaccard 0.5
JACCARD_THRESHOLD = 0.2
# Hot-bucket cap for the bucketed candidate generators (LSH / prefix /
# containment / simhash / SRP): a bucket key shared by more than
# MAX_BUCKET ids is dropped from pair enumeration without ever being
# held whole (the bucket-pair kernel drops a sorted key run once it
# passes the cap, see _bucket_candidates; the prefix joins filter on
# document frequency). Over-hot buckets are exact-dup /
# boilerplate families that dedup_exact absorbs in O(N); enumerating
# them here would be O(B^2) pairs and an O(B) single-task array. The
# default clears every fixture bucket by >100x (measured max ~30 at
# sf0.1) while bounding any production task at ~max_bucket rows.
MAX_BUCKET = 4096
# Registered-query guard for the brute-force baseline: fail fast instead
# of launching a quadratic job when any block exceeds this.
MAX_BLOCK = 20_000


# The JVM's \s: ASCII whitespace [ \t\n\x0B\f\r] only. Python's Unicode
# \s also matches NBSP, EM SPACE, \x1c-\x1f and \x85, which Spark and
# DuckDB keep inside tokens.
_WS = re.compile(r"\s+", re.ASCII)
# Word n-gram width of the shingle sets behind Jaccard, containment and
# the prefix joins (decontamination uses DECONTAM_NGRAM).
_SHINGLE_N = 3


def _jvm_tokens(text: str | None) -> list[str]:
    """Tokenize exactly like the JVM/DuckDB pipelines' split(trim(col),
    '\\s+'): trim strips SPACES only (Spark StringTrim and DuckDB trim
    both default to ' '), the split runs on ASCII whitespace only, and
    it keeps leading AND trailing empty tokens when the trimmed text is
    edged with non-space whitespace (Spark's split uses limit=-1, which
    preserves trailing empties, as re.split does). Python's
    .strip().split() differs on both counts; every Python kernel that
    must agree with a JVM expression or a DuckDB oracle tokenizes
    through here (tests/test_operators.py pins the agreement)."""
    return _WS.split((text or "").strip(" "))


def _gram_set(text: str | None, n: int) -> set[str]:
    """Distinct word n-grams of ``text``: _jvm_tokens tokenization,
    " ".join n-grams, and one partial gram for texts with fewer than n
    tokens — the gram semantics of the DuckDB oracles. The one word
    n-gram implementation: verify, gram rows, containment, the prefix
    joins, the Jaccard baseline and decontamination all use it."""
    toks = _jvm_tokens(text)
    return {" ".join(toks[i : i + n]) for i in range(max(len(toks) - n + 1, 1))}


# Output of the gram-row kernel: one row per distinct (doc_id, gram),
# with the doc's distinct-gram count sz.
_GRAM_SCHEMA = pa.schema(
    [("doc_id", pa.int64()), ("shingle", pa.string()), ("sz", pa.int32())]
)


def _shingle_rows_batches(batches, n: int):
    """Arrow-batch kernel: (doc_id, text) -> _GRAM_SCHEMA rows, one per
    gram of _gram_set(text, n). Spark evaluates higher-order-function
    lambdas interpreted (~3 ms/doc for the same grams as a JVM
    expression); the Python set build is ~10 us/doc, cheap enough to
    recompute in every consumer's subtree."""
    for batch in batches:
        doc_ids = batch.column("doc_id").to_pylist()
        texts = batch.column("text").to_pylist()
        out_id, out_sh, out_sz = [], [], []
        for doc_id, text in zip(doc_ids, texts):
            grams = _gram_set(text, n)
            out_id.extend([doc_id] * len(grams))
            out_sh.extend(grams)
            out_sz.extend([len(grams)] * len(grams))
        yield pa.RecordBatch.from_arrays(
            [out_id, out_sh, out_sz], schema=_GRAM_SCHEMA
        )


def _gram_rows(docs: DataFrame, n: int, widen: bool) -> DataFrame:
    """(doc_id, text) -> (doc_id, shingle, sz) rows of distinct word
    n-grams. ``widen`` hash-partitions the docs to the kernel width
    first, so a 1-file scan does not run the kernel in one task; without
    it the kernel is a narrow map with no exchange above the scan."""
    src = docs.select(F.col("doc_id").cast("long").alias("doc_id"), "text")
    if widen:
        src = src.repartition(kernel_partitions(docs.sparkSession), "doc_id")
    return src.mapInArrow(
        functools.partial(_shingle_rows_batches, n=n), from_arrow_schema(_GRAM_SCHEMA)
    )


# Pairs per output batch of the bucket-pair kernel: chunks hold whole
# bucket rows, so a batch has fewer than _PAIR_BATCH + max_bucket pairs.
_PAIR_BATCH = 1 << 16


def _bucket_pair_batches(batches, keys, cols, max_bucket: int, schema: pa.Schema):
    """Arrow-batch kernel: (key..., id, payload...) rows, SORTED on the
    key columns ``keys`` -> ``schema`` rows, one per in-bucket element
    pair of every bucket (run of equal keys) of 1 < n <= max_bucket
    rows: canonical ``a_id`` <= ``b_id`` from the id column ``cols[0]``,
    then ``a_<p>``, ``b_<p>`` for each payload column p of ``cols[1:]``,
    taken from the row of ``a_id`` and of ``b_id``. Pairs are not
    deduplicated: a pair that shares several buckets comes out once per
    bucket.

    A bucket's run may cross batch boundaries: the open run at the end
    of a batch is carried into the next one, holding at most max_bucket
    rows — once the run passes max_bucket it is dropped and only its key
    is kept, so its remaining rows are skipped as they stream by. Pairs
    are enumerated row-wise with NumPy (row i of a run pairs with the
    run's rows after it), whole rows per output batch (_PAIR_BATCH)."""
    import numpy as np

    def pairs(v, starts, sizes):
        # rows g of the runs, each paired with the c = run end - g - 1
        # rows after it, in chunks of whole rows
        g = np.repeat(starts, sizes) + (
            np.arange(sizes.sum()) - np.repeat(np.cumsum(sizes) - sizes, sizes))
        c = np.repeat(starts + sizes, sizes) - g - 1
        ends = np.cumsum(c)
        cuts = np.searchsorted(ends, np.arange(_PAIR_BATCH, ends[-1], _PAIR_BATCH),
                               side="right").tolist() if len(ends) else []
        for lo, hi in zip([0, *cuts], [*cuts, len(g)]):
            gg, cc = g[lo:hi], c[lo:hi]
            if not cc.sum():
                continue
            i = np.repeat(gg, cc)
            j = i + 1 + np.arange(len(i)) - np.repeat(np.cumsum(cc) - cc, cc)
            first = v[0][i] <= v[0][j]
            a, b = np.where(first, i, j), np.where(first, j, i)
            out = [v[0][a], v[0][b]]
            for p in v[1:]:
                out += [p[a], p[b]]
            yield pa.RecordBatch.from_arrays(out, schema=schema)

    carry_key, carry = None, None  # the open run: its key, its rows or None if dropped
    for batch in batches:
        n = batch.num_rows
        if not n:
            continue
        k = [batch.column(c).to_numpy() for c in keys]
        v = [batch.column(c).to_numpy() for c in cols]
        new = np.zeros(n, dtype=bool)
        new[0] = True
        for kc in k:
            new[1:] |= kc[1:] != kc[:-1]
        starts = np.flatnonzero(new)
        skip_first = False
        if carry_key is not None:
            same = all(kc[0] == ck for kc, ck in zip(k, carry_key))
            if carry is not None:
                # the carried rows open the batch: as their own run, or
                # as the head of the batch's first run
                v = [np.concatenate([cv, bv]) for cv, bv in zip(carry, v)]
                starts = starts + len(carry[0])
                if same:
                    starts[0] = 0
                else:
                    starts = np.concatenate([[0], starts])
            else:
                skip_first = same  # the rest of a dropped run
        sizes = np.diff(np.append(starts, len(v[0])))
        # the last run stays open: it may go on in the next batch
        carry_key = tuple(kc[-1] for kc in k)
        carry = ([cv[starts[-1]:].copy() for cv in v]
                 if sizes[-1] <= max_bucket and not (skip_first and len(starts) == 1)
                 else None)
        ok = (sizes[:-1] > 1) & (sizes[:-1] <= max_bucket)
        ok[:int(skip_first)] = False
        yield from pairs(v, starts[:-1][ok], sizes[:-1][ok])
    if carry is not None and len(carry[0]) > 1:
        yield from pairs(carry, np.array([0]), np.array([len(carry[0])]))


def _bucket_candidates(
    rows: DataFrame, keys: list[str], id_col: str, max_bucket: int,
    payload: tuple[str, ...] = (),
) -> tuple[DataFrame, DataFrame]:
    """(key..., id, payload...) rows -> (distinct candidate pairs,
    dropped-bucket stats).

    ONE key-hash exchange, sorted within partitions on the key, feeds
    _bucket_pair_batches: every bucket of 1 < n <= max_bucket rows
    becomes its in-bucket pairs (a_id, b_id, a_<p>, b_<p>...) and no
    task ever holds more than max_bucket rows of one bucket, so a
    degenerate bucket is never materialized (the OOM + cartesian bomb a
    size cap AFTER building the bucket would still hit). The pairs are
    then deduplicated on (a_id, b_id).

    ``dropped`` (key columns + n) enumerates every bucket over
    max_bucket rows. It is a lazy groupBy count: callers attach it to
    their result for lineage/telemetry, and reading it re-runs the
    banding subtree up to a partial count (Catalyst/AQE does not dedupe
    Python MapInArrow subtrees, so no exchange is shared with the pairs).
    """
    cols = [id_col, *payload]
    schema = pa.schema(
        [("a_id", pa.int64()), ("b_id", pa.int64())]
        + [(f"{s}_{c}", to_arrow_type(rows.schema[c].dataType)) for c in payload for s in "ab"]
    )
    cand = (
        rows.select(*keys, F.col(id_col).cast("long").alias(id_col), *payload)
        .repartition(*[F.col(k) for k in keys])
        .sortWithinPartitions(*keys)
        .mapInArrow(
            functools.partial(_bucket_pair_batches, keys=keys, cols=cols,
                              max_bucket=max_bucket, schema=schema),
            from_arrow_schema(schema),
        )
        .dropDuplicates(["a_id", "b_id"])
    )
    dropped = (
        rows.groupBy(*keys)
        .agg(F.count("*").alias("n"))
        .where(F.col("n") > max_bucket)
    )
    return cand, dropped


def _bucket_pairs(buckets: DataFrame, pair, keep=None) -> DataFrame:
    """Distinct candidate pairs from each bucket row's ``ids`` array.

    ``pair(x, y)`` builds the struct for one unordered element pair (x
    before y in the array); it carries canonical ``a_id``/``b_id``
    fields and may carry more. ``keep(p)``, when given, prunes those
    structs inside the array, before the explode. Returns one row per
    distinct (a_id, b_id) with every field of the pair struct."""

    def partners(x, i):
        ps = F.transform(
            F.slice(F.col("ids"), i + 2, F.size("ids")), lambda y: pair(x, y)
        )
        return ps if keep is None else F.filter(ps, keep)

    return (
        buckets.select(F.explode(F.flatten(F.transform("ids", partners))).alias("p"))
        .select("p.*")
        .dropDuplicates(["a_id", "b_id"])
    )


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ deterministic near-duplicates: copy of every doc with
    the last ~10% of tokens dropped, at doc_id + 1_000_000."""
    d = _docs(spark, sf_dir).select("doc_id", "text", "source")
    toks = F.split(F.trim("text"), r"\s+")
    trunc = F.array_join(
        F.slice(toks, 1, F.floor(F.size(toks) * 0.9).cast("int")), " "
    )
    near = d.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        trunc.alias("text"),
        "source",
    )
    return d.unionByName(near)


_SQL_CORPUS = r"""
SELECT doc_id, text, source FROM documents
UNION ALL
SELECT doc_id + 1000000 AS doc_id,
       coalesce(array_to_string(
         string_split_regex(trim(text), '\s+')[1:CAST(floor(len(string_split_regex(trim(text), '\s+')) * 0.9) AS INT)],
         ' '), '') AS text,
       source
FROM documents
"""


def _sql_grams(n: int, text: str = "text") -> str:
    """The DuckDB twin of ``_gram_set(text, n)``, as a list expression
    over the SQL expression ``text``: the one word n-gram list of every
    oracle."""
    toks = rf"string_split_regex(trim({text}), '\s+')"
    return (f"list_distinct(list_transform(range(0, greatest(len({toks}) - {n}, 0) + 1),"
            f" i -> array_to_string({toks}[i+1:i+{n}], ' ')))")


# The oracle corpus with each doc's distinct 3-gram list: the input of
# the Jaccard, containment and MinHash oracles.
_SQL_SHINGLED = f"""
WITH corpus AS ({_SQL_CORPUS}),
sh AS (SELECT doc_id, source, {_sql_grams(_SHINGLE_N)} AS sh FROM corpus)"""


def normalized_fingerprint(col):
    """sha256 of the lowered, trimmed, whitespace-collapsed text: the
    exact-dedup key, and textstats' document fingerprint."""
    return F.sha2(F.regexp_replace(F.lower(F.trim(col)), r"\s+", " "), 256)


def exact_dedup(corpus: DataFrame) -> DataFrame:
    """Exact dedup: group identical normalized text by sha256; keep the
    lowest doc_id (deterministic keeper)."""
    return (
        corpus.withColumn("fp", normalized_fingerprint("text"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keeper_id"), F.count("*").alias("n_copies"))
    )


def _q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # duplicate every doc once so groups are non-trivial
    d = _docs(spark, sf_dir).select("doc_id", "text")
    corpus = d.unionByName(d.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text"))
    return exact_dedup(corpus)


_SQL_EXACT = r"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 1000000, text FROM documents)
SELECT sha256(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
       min(doc_id) AS keeper_id, count(*) AS n_copies
FROM corpus GROUP BY 1
"""


def jaccard_pairs(
    corpus: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    max_block: int | None = None,
) -> DataFrame:
    """Blocked pairwise n-gram Jaccard near-dup detection — the
    brute-force VERIFICATION BASELINE, quadratic per block by design.
    Blocking key = source (the natural shard). Each doc's 3-gram set is
    a collect_set over the gram-row kernel's rows; the Jaccard itself
    stays JVM-native array_intersect/array_union arithmetic, so the
    baseline shares no verify code with the bounded operators it checks
    (test_jaccard_prefix_join_exact_vs_bruteforce).

    Scale guards:
      * exact length-ratio prefilter in the join condition (J >= t
        implies t*|B| <= |A| <= |B|/t) — drops no true pair, skips the
        expensive intersection for size-mismatched ones;
      * ``max_block`` fail-fast: a production corpus with one hot block
        is a cartesian bomb here; the guard raises with the offending
        block sizes and points at the bounded operators
        (dedup_jaccard_prefix_pairs / dedup_minhash_lsh_pairs) instead
        of silently launching a quadratic job.
    """
    if max_block is not None:
        hot = (
            corpus.groupBy("source").count().where(F.col("count") > max_block).collect()
        )
        if hot:
            raise ValueError(
                f"jaccard_pairs: block(s) over max_block={max_block}: "
                + ", ".join(f"{r['source']}={r['count']}" for r in hot)
                + " — use dedup_jaccard_prefix_pairs or "
                "dedup_minhash_lsh_pairs for unbounded blocks"
            )
    sh = (
        _gram_rows(corpus, _SHINGLE_N, widen=True)
        .groupBy("doc_id")
        .agg(F.collect_set("shingle").alias("sh"))
    )
    c = corpus.select("doc_id", "source").join(sh, "doc_id")
    a = c.select(
        F.col("doc_id").alias("a_id"), F.col("sh").alias("a_sh"), "source"
    )
    b = c.select(
        F.col("doc_id").alias("b_id"), F.col("sh").alias("b_sh"), "source"
    )
    pairs = (
        a.join(b, "source")
        .where(F.col("a_id") < F.col("b_id"))
        # exact length filter: round() can lift a just-under ratio to the
        # threshold, so pad the bound by the 4-digit rounding quantum
        .where(
            F.size("a_sh") >= (F.lit(threshold - 0.0001) * F.size("b_sh"))
        )
        .where(
            F.size("b_sh") >= (F.lit(threshold - 0.0001) * F.size("a_sh"))
        )
    )
    # the pair set is small in bytes but quadratic in CPU (array
    # intersections)
    pairs = pairs.repartition(kernel_partitions(corpus.sparkSession), "a_id", "b_id")
    jac = F.round(
        F.size(F.array_intersect("a_sh", "b_sh")).cast("double")
        / F.size(F.array_union("a_sh", "b_sh")),
        4,
    )
    return (
        pairs.withColumn("jaccard", jac)
        .where(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    )


def _q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the fail-fast block guard protects the driver-visible path too: a
    # corpus with any block over MAX_BLOCK raises instead of silently
    # launching a quadratic job (the bounded operators are the scale path)
    return jaccard_pairs(dedup_corpus(spark, sf_dir), max_block=MAX_BLOCK)


# The Jaccard and MinHash oracles' pair score: the Jaccard of two
# 3-gram lists a.sh and b.sh, rounded to 4 places.
_SQL_JAC = """round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / len(list_distinct(list_concat(a.sh, b.sh))), 4)"""

_SQL_JACCARD = f"""{_SQL_SHINGLED}
SELECT a.doc_id AS a_id, b.doc_id AS b_id, {_SQL_JAC} AS jaccard
FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
WHERE {_SQL_JAC} >= {JACCARD_THRESHOLD}
"""


_BAND_SCHEMA = pa.schema(
    [("doc_id", pa.int64()), ("band_id", pa.int32()), ("band_hash", pa.int64())]
)


def _minhash_band_batches(batches, n_hashes: int, n_bands: int):
    """Arrow-batch kernel: (doc_id, text) -> _BAND_SCHEMA rows
    (doc_id, band_id, band_hash), n_bands per doc.

    Why a mapInArrow kernel and not expression algebra: Spark evaluates
    higher-order-function lambdas INTERPRETED (no whole-stage codegen
    inside transform/aggregate), so any per-shingle x per-seed JVM
    formulation pays ~100ns-scale interpreter overhead per term — three
    attempts measured 50s/183s/323s for the sf0.1 LSH query depending on
    how much work the optimizer duplicated into the lambdas. The same
    arithmetic as vectorized NumPy over Arrow batches is ~1-2s. This is
    the engine's standing rule (BASELINE.json input_hint): custom
    numeric kernels ride Arrow batches; joins/aggregations stay JVM.

    Scheme (all public-knowledge: Broder minhash + keyed mixing):
      token hash   = pandas hash_array (siphash, fixed key — process
                     independent and deterministic);
      shingle hash = mix of 3 consecutive token hashes (wrapping uint64);
      signature_i  = min over shingles of splitmix64(h64 ^ K_i), with
                     K_i = splitmix64(splitmix64(i+1)) — 32 independent
                     keyed avalanche mixes (Steele et al., OOPSLA 2014);
      band hash    = fold of the band's signature rows.

    Work is per Arrow batch, not per doc: one hash_array call hashes all
    of the batch's tokens (a call per doc costs ~200 us of fixed
    overhead), and each key takes every doc's minimum with one
    np.minimum.reduceat over the doc boundaries. tests/test_operators.py
    keeps the per-doc kernel as the reference.

    Why keyed splitmix64 and not the classic affine (a_i*h + b_i) mod p
    family with a LINEAR progression of a_i/b_i ((i+1)*phi masked): on
    the 200k-doc sf1-equivalent corpus (BENCH/BASELINE.md) that family
    misses 9 of 102,615 true pairs at J = 0.82-0.89 where banding theory
    predicts ~2e-8 misses per pair. For a fixed pair of shingle values
    the order of hash_i(x1) vs hash_i(x2) across i is a correlated Weyl
    rotation, not 32 independent draws — unlucky residues let one tail
    shingle win the min in nearly every function (5-10/32 collisions
    where J predicts ~27/32). Independent avalanche keys restore the
    per-hash collision rate = J (0.886 vs J 0.880 over 200 pairs; all 9
    pairs found with 7-14/16 bands), and the mix is mod-free, so it is
    also no slower.
    """
    import numpy as np
    from pandas.util import hash_array

    rows_per_band = n_hashes // n_bands

    def _splitmix64(z):
        z = z + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))

    with np.errstate(over="ignore"):
        K = _splitmix64(_splitmix64(np.arange(1, n_hashes + 1, dtype=np.uint64)))
    C1 = np.uint64(0x9E3779B97F4A7C15)
    C2 = np.uint64(0xC2B2AE3D27D4EB4F)
    C3 = np.uint64(0x165667B19E3779F9)
    BANDF = np.uint64(1000003)
    band_ids = np.arange(n_bands, dtype=np.int32)

    for batch in batches:
        n_docs = batch.num_rows
        toks = [_jvm_tokens(t) for t in batch.column("text").to_pylist()]
        n_toks = np.fromiter(map(len, toks), dtype=np.int64, count=n_docs)  # each >= 1
        th = hash_array(np.fromiter(itertools.chain.from_iterable(toks), dtype=object,
                                    count=int(n_toks.sum())))
        # each doc's token hashes in a zero-padded block of >= 3 slots, so a
        # doc of 1-2 tokens has one partial shingle; a doc of m slots has
        # m - 2 shingles, and the 2 that straddle the next block are cut
        slots = np.maximum(n_toks, 3)
        ends = np.cumsum(slots)
        starts = ends - slots
        pad = np.zeros(int(slots.sum()), dtype=np.uint64)
        pad[np.repeat(starts - (np.cumsum(n_toks) - n_toks), n_toks)
            + np.arange(len(th))] = th
        keep = np.ones(len(pad), dtype=bool)
        keep[ends - 1] = keep[ends - 2] = False
        doc_starts = starts - 2 * np.arange(n_docs)  # in the kept shingles
        sig = np.empty((n_docs, n_hashes), dtype=np.uint64)
        with np.errstate(over="ignore"):  # wrapping uint64 is the point
            sh = ((pad[:-2] * C1) ^ (pad[1:-1] * C2) ^ (pad[2:] * C3))[keep[:-2]]
            for k in range(n_hashes):
                sig[:, k] = np.minimum.reduceat(_splitmix64(sh ^ K[k]), doc_starts)
            bands = sig.reshape(n_docs, n_bands, rows_per_band)
            bh = np.zeros((n_docs, n_bands), dtype=np.uint64)
            for c in range(rows_per_band):
                bh = bh * BANDF + bands[:, :, c]
        yield pa.RecordBatch.from_arrays(
            [
                np.repeat(batch.column("doc_id").to_numpy(), n_bands),
                np.tile(band_ids, n_docs),
                bh.ravel().astype(np.int64),
            ],
            schema=_BAND_SCHEMA,
        )


def minhash_band_rows(
    docs: DataFrame, n_hashes: int = N_HASHES, n_bands: int = N_BANDS
) -> DataFrame:
    """(doc_id, text) -> n_bands rows (doc_id, band_id, band_hash); the
    narrow, CPU-bound LSH signature stage, widened to the kernel width so
    a 1-file scan doesn't serialize it."""
    par = kernel_partitions(docs.sparkSession)
    fn = functools.partial(_minhash_band_batches, n_hashes=n_hashes, n_bands=n_bands)
    return (
        docs.select(F.col("doc_id").cast("long").alias("doc_id"), "text")
        .repartition(par, "doc_id")
        .mapInArrow(fn, from_arrow_schema(_BAND_SCHEMA))
    )


def _verify_batches(batches, schema: pa.Schema, denom):
    """Arrow-batch kernel: (a_id, b_id, a_text, b_text) -> ``schema``
    rows (a_id, b_id, value) with value = |S(A) ∩ S(B)| / denom(S(A),
    S(B)) per candidate pair, S = the _gram_set 3-grams. The id columns
    pass through as Arrow arrays. Values round HALF-UP to 4 places:
    Spark's ROUND and DuckDB's round both round half away from zero,
    Python's built-in round is banker's — hence the floor form.
    """
    import math

    for batch in batches:
        a_txt = batch.column("a_text").to_pylist()
        b_txt = batch.column("b_text").to_pylist()
        vals = []
        for ta, tb in zip(a_txt, b_txt):
            sa, sb = _gram_set(ta, _SHINGLE_N), _gram_set(tb, _SHINGLE_N)
            d = denom(sa, sb)
            v = len(sa & sb) / d if d else float("nan")
            vals.append(math.floor(v * 10000 + 0.5) / 10000)
        yield pa.RecordBatch.from_arrays(
            [batch.column("a_id"), batch.column("b_id"), vals], schema=schema
        )


def _verify_schema(col: str) -> pa.Schema:
    return pa.schema(
        [("a_id", pa.int64()), ("b_id", pa.int64()), (col, pa.float64())]
    )


# Verify metrics, passed to verify_candidate_pairs as data: (kernel
# output schema, whose last column is the metric, and the denominator of
# the shared-gram count given both gram sets).
_JACCARD = (_verify_schema("jaccard"), lambda sa, sb: len(sa | sb))
_CONTAINMENT = (_verify_schema("containment"), lambda sa, sb: len(sa))  # A inside B


# The banding options of minhash_lsh_pairs_with_drops, (n_bands,
# n_hashes) by recall target, measured on the sf1-equivalent corpus
# (200k docs, BENCH/BASELINE.md):
#   standard: 16 bands x 2 rows — 99.982% measured recall, every miss
#             at J in [0.5, 0.575] (the S-curve tail), leanest band
#             exchange; the 100-TB default.
#   high:     32 bands x 2 rows — PERFECT measured recall
#             (102,615/102,615 pairs, 0 extra) at ~1.3x warm wall and
#             2x band-exchange volume; for near-threshold-critical runs.
# (32x1 single-row bands also measured perfect but ~8x wall — the
# verify leg dominates; deliberately not a profile.)
RECALL_PROFILES: dict[str, tuple[int, int]] = {
    "standard": (N_BANDS, 2 * N_BANDS),
    "high": (32, 64),
}


def minhash_lsh_pairs_with_drops(
    corpus: DataFrame,
    threshold: float = 0.5,
    max_bucket: int = MAX_BUCKET,
    recall: str = "standard",
) -> tuple[DataFrame, DataFrame]:
    """MinHash + LSH banding near-dup pairs, fully distributed:
      1. per-doc signature -> band keys (narrow Arrow kernel);
      2. hash-partition the band rows on (band_id, band_hash), sort them
         within partitions and enumerate each bucket's pairs in one
         Arrow kernel — a bucket over ``max_bucket`` ids is dropped once
         its run passes the cap, so no task holds more than max_bucket
         of its rows and no quadratic blow-up follows (see
         _bucket_candidates); the pairs are then deduplicated;
      3. exact-Jaccard verification of the deduped candidates.

    ``recall`` names the banding S-curve, one of RECALL_PROFILES:
    "standard" (16 bands x 2 rows, the leanest band exchange) or "high"
    (32 x 2, perfect measured recall at ~1.3x warm wall). Both keep
    2-row bands; the measured tradeoff is at RECALL_PROFILES.

    Returns ``(pairs, dropped)`` — the explicit telemetry contract: the
    ``dropped`` frame (band_id, band_hash, n) enumerates every excluded
    bucket, is lazy (evaluating it re-runs the banding subtree), and is
    certified by the ``dedup_dropped_buckets`` driver query.
    """
    if recall not in RECALL_PROFILES:
        raise ValueError(
            f"unknown recall profile {recall!r}: use one of {sorted(RECALL_PROFILES)}"
        )
    n_bands, n_hashes = RECALL_PROFILES[recall]
    docs = corpus.select("doc_id", "text")
    bands = minhash_band_rows(docs, n_hashes=n_hashes, n_bands=n_bands)
    # candidate pairs via ONE exchange of the band rows on the bucket key,
    # then the pairs inside each bucket. A self-join would re-execute the
    # whole scan->shingle->signature pipeline for both sides (no
    # ReusedExchange: the two sides project different aliases); the one
    # exchange computes signatures once.
    cand, dropped = _bucket_candidates(
        bands, ["band_id", "band_hash"], "doc_id", max_bucket
    )
    pairs = verify_candidate_pairs(cand, docs, threshold, _JACCARD)
    return pairs, dropped


def verify_candidate_pairs(
    cand: DataFrame,
    docs: DataFrame,
    threshold: float,
    metric: tuple[pa.Schema, Callable],
) -> DataFrame:
    """Exact verification of candidate (a_id, b_id) pairs: keeps the
    pairs whose ``metric`` value is >= threshold. ``metric`` is
    _JACCARD (column ``jaccard``) or _CONTAINMENT (column
    ``containment``, for ORDERED pairs: a contained in b).

    Rejoins the source text once per side (text is smaller than the
    shingle array and ships once per DEDUPED candidate pair, not once
    per band/bucket match); the metric itself runs in an Arrow kernel —
    a JVM formulation (gram arrays + array_intersect per pair) costs
    ~8ms/pair because higher-order-function lambdas are interpreted, vs
    ~20us/pair for C-level Python set ops."""
    schema, denom = metric
    col = schema.names[-1]
    par = kernel_partitions(docs.sparkSession)
    # The candidates cross no exchange of their own: the first join reads
    # them as their dedup left them, hash-partitioned on (a_id, b_id).
    # The doc texts (one text per doc, not per pair) are widened to par
    # explicitly BEFORE the joins, instead of repartitioning the joined
    # pair-texts (|pairs| x two texts, ~270 MB at sf0.1's 444k
    # candidates). When the docs are small enough to broadcast (the
    # near-dup benchmark corpus and sf0.1 at local[4]), AQE broadcasts
    # both doc sides — the b side reuses the a side's par-wide doc
    # exchange (ReusedExchange) — and streams the candidates, so the
    # kernel runs on the dedup's partitions as AQE coalesced them by
    # bytes. When both joins are shuffled (no side small enough to
    # broadcast), the candidates cross one exchange, hashpartitioning
    # (a_id) to the par-wide a-side docs, and the first join's output
    # crosses hashpartitioning(b_id) to the b-side docs: the a-side texts
    # cross that exchange once per candidate pair, the b-side texts never,
    # and the kernel runs on par partitions.
    ver = (
        cand.join(docs.select(F.col("doc_id").alias("a_id"),
                              F.col("text").alias("a_text"))
                  .repartition(par, "a_id"), "a_id")
        .join(docs.select(F.col("doc_id").alias("b_id"),
                          F.col("text").alias("b_text"))
              .repartition(par, "b_id"), "b_id")
        .mapInArrow(
            functools.partial(_verify_batches, schema=schema, denom=denom),
            from_arrow_schema(schema),
        )
    )
    return ver.where(F.col(col) >= threshold)


def _prefix_shingles(
    docs: DataFrame, t_eff: float, max_bucket: int
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared front half of the two prefix-filter joins, over (doc_id,
    text) docs at (rounding-guarded) threshold ``t_eff``. Returns
    ``(shingles, prefix, dropped)``:

      shingles  one row per distinct (doc_id, shingle), with the doc's
                distinct-shingle count ``sz`` and the shingle's document
                frequency ``df``;
      prefix    the shingles rows inside each doc's df-ascending prefix
                of |S| - ceil(t*|S|) + 1 shingles, with their 0-based
                ``pos``, restricted to df <= max_bucket (a bucket on a
                shingle never exceeds its df);
      dropped   (shingle, n) for every shingle with df > max_bucket —
                lazy telemetry that re-runs the shingle kernel when read.

    df rides a COUNT window over the shingle partition (no df join, no
    second kernel pass), and the prefix is a ROW_NUMBER window per doc
    over (df, shingle) — a total order within a doc, since its shingles
    are distinct — so no per-doc array is ever materialized. No persist
    anywhere: at 100 TB the shingle explosion is ~5-10x text bytes and
    the lazy return values have no unpersist point."""
    ex = _gram_rows(docs, _SHINGLE_N, widen=True)
    shingles = ex.withColumn(
        "df", F.count("*").over(Window.partitionBy("shingle"))
    )
    posw = F.row_number().over(
        Window.partitionBy("doc_id").orderBy("df", "shingle")
    )
    plen = (
        F.col("sz")
        - F.ceil(F.lit(t_eff) * F.col("sz")).cast("int")
        + F.lit(1)
    )
    prefix = (
        shingles.withColumn("pos", (posw - 1).cast("int"))
        .where(F.col("pos") < plen)
        .select("doc_id", "sz", "pos", "shingle", "df")
        .where(F.col("df") <= max_bucket)
    )
    dropped = (
        ex.groupBy("shingle").agg(F.count("*").alias("n"))
        .where(F.col("n") > max_bucket)
    )
    return shingles, prefix, dropped


def jaccard_prefix_pairs_with_drops(
    corpus: DataFrame, threshold: float = 0.5, max_bucket: int = MAX_BUCKET
) -> tuple[DataFrame, DataFrame]:
    """EXACT set-similarity self-join via prefix filtering — the bounded
    scale path for exact Jaccard (AllPairs/PPJoin family; the MapReduce
    formulation follows Vernica/Carey/Li, SIGMOD 2010 — public
    knowledge, reimplemented on DataFrames).

    Theorem (no false negatives): order every document's shingle set by
    one global total order; if J(A,B) >= t, then A and B share at least
    one shingle within their first |S| - ceil(t*|S|) + 1 shingles. So
    candidates = docs sharing a PREFIX shingle — no quadratic blocks,
    no probabilistic recall. The global order is document-frequency
    ascending (rarest first), which provably minimizes bucket sizes:
    hot shingles land outside most prefixes.

    Pipeline: _prefix_shingles (shingle rows -> df window -> per-doc
    (df, shingle) rank -> prefix filter) -> bucket pairs (PPJoin-pruned)
    -> exact Arrow verify.

    ``max_bucket`` bounds the prefix buckets for FREE: a bucket on
    shingle s can never exceed s's document frequency, and df is already
    computed for the prefix order — so hot shingles are excluded by a
    narrow filter on the prefix rows, with zero extra aggregation passes
    (unlike the LSH/SRP operators, whose bucket sizes are not known
    upstream, so their pair kernel counts each sorted key run as it
    streams; see _bucket_candidates). Exactness holds whenever nothing
    is dropped — the returned ``(pairs, dropped)`` tuple surfaces every
    excluded shingle as (shingle, n=df) so the caller sees precisely
    where (and whether) the no-false-negatives guarantee was traded for
    bound.
    """
    t_eff = threshold - 0.0001  # guard the 4-digit rounding edge
    docs = corpus.select("doc_id", "text")
    _, prefix, dropped = _prefix_shingles(docs, t_eff, max_bucket)
    buckets = (
        prefix.groupBy("shingle")
        .agg(F.collect_list(F.struct("doc_id", "sz", "pos")).alias("ids"))
        .where(F.size("ids") > 1)
    )
    # overlap floor for J >= t: o >= ceil(t/(1+t) * (|A|+|B|))
    t_frac = t_eff / (1.0 + t_eff)
    cand = _bucket_pairs(
        buckets,
        lambda x, y: F.struct(
            F.least(x["doc_id"], y["doc_id"]).alias("a_id"),
            F.greatest(x["doc_id"], y["doc_id"]).alias("b_id"),
            F.least(x["sz"], y["sz"]).alias("mn"),
            F.greatest(x["sz"], y["sz"]).alias("mx"),
            # tokens at or after this shared one, per side
            F.least(x["sz"] - x["pos"], y["sz"] - y["pos"]).alias("mn_rem"),
        ),
        # two EXACT prunes (PPJoin family, Xiao et al.):
        #  - length ratio: J >= t implies min >= t*max;
        #  - positional: at the pair's FIRST shared prefix token
        #    the remaining suffix bounds the overlap, so
        #    min_rem < ceil(t/(1+t)*(szA+szB)) kills the pair
        #    (later shared tokens may fail this test while the
        #    first passes — OR-ing over tokens keeps exactness,
        #    and every true match passes at its first token).
        lambda p: (p["mn"] >= F.lit(t_eff) * p["mx"])
        & (p["mn_rem"] >= F.ceil(F.lit(t_frac) * (p["mn"] + p["mx"]))),
    ).select("a_id", "b_id")
    pairs = verify_candidate_pairs(cand, docs, threshold, _JACCARD)
    return pairs, dropped


def _q_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jaccard_prefix_pairs_with_drops(dedup_corpus(spark, sf_dir))[0]


def containment_pairs_with_drops(
    corpus: DataFrame, threshold: float = 0.8, max_bucket: int = MAX_BUCKET
) -> tuple[DataFrame, DataFrame]:
    """EXACT asymmetric-containment join: ORDERED pairs (a_id, b_id)
    where C(A,B) = |S(A) ∩ S(B)| / |S(A)| >= t — doc A (near-)contained
    in doc B. The dedup case symmetric Jaccard structurally misses:
    a short doc quoted inside a much longer one scores
    J ~ |A|/|B| -> 0 while C(A,B) = 1; containment is the standard
    quote/subsumption detector next to decontamination's eval-gram
    variant (same family as the SSJoin/prefix-filter containment joins
    of Chaudhuri et al. ICDE 2006 — public knowledge, reimplemented on
    DataFrames).

    Theorem (no false negatives): C(A,B) >= t means A shares >=
    ceil(t*|A|) shingles with B, so among A's first
    |A| - ceil(t*|A|) + 1 shingles in ANY global total order at least
    one is in S(B). Hence: the CONTAINED side emits only that prefix
    (df-ascending order — rarest first, minimizing bucket fan-out); the
    CONTAINER side must emit ALL its shingles (a tiny doc can be
    contained in any huge doc, so no symmetric prefix bound exists —
    the inverted-index shape containment fundamentally needs). Exact
    prunes on the shingle-join rows, both sides of the OR-per-token
    argument as in PPJoin: |B| >= ceil(t*|A|) (overlap <= |B|), and at
    A's first shared prefix position overlap <= |A| - pos. Candidates
    dedup then verify exactly in Arrow.

    100-TB shape: one shingle exchange (container side keys+ids only,
    contained side a short prefix), bucket sizes bounded by df with the
    same narrow df <= max_bucket filter as the Jaccard prefix join —
    dropped hot shingles surface in the returned ``(pairs, dropped)``
    tuple (boilerplate shingles that dedup_exact / the LSH path absorb);
    exactness holds whenever ``dropped`` is empty."""
    t_eff = threshold - 0.0001  # guard the 4-digit rounding edge
    docs = corpus.select("doc_id", "text")
    shingles, prefix, dropped = _prefix_shingles(docs, t_eff, max_bucket)
    # the container side emits ALL its shingles, the contained side only
    # its prefix (see the theorem above)
    bside = shingles.where(F.col("df") <= max_bucket).select(
        "shingle", F.col("doc_id").alias("b_id"), F.col("sz").alias("b_sz")
    )
    aside = prefix.select(
        "shingle", F.col("doc_id").alias("a_id"), F.col("sz").alias("a_sz"), "pos"
    )
    need = F.ceil(F.lit(t_eff) * F.col("a_sz"))
    cand = (
        aside.join(bside, "shingle")
        .where(F.col("a_id") != F.col("b_id"))
        .where(F.col("b_sz") >= need)
        # pos is 0-based: shingles of A at or after the first shared
        # one = a_sz - pos, an upper bound on the overlap there
        .where((F.col("a_sz") - F.col("pos")) >= need)
        .select("a_id", "b_id")
        .dropDuplicates(["a_id", "b_id"])
    )
    pairs = verify_candidate_pairs(cand, docs, threshold, _CONTAINMENT)
    return pairs, dropped


def _q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment over the dedup corpus: every truncated twin is fully
    contained in its base (C = 1.0) and the base is ~0.9-contained in
    its twin — both directions clear t=0.8, making recall measurable."""
    return containment_pairs_with_drops(dedup_corpus(spark, sf_dir))[0]


# Brute-force quadratic oracle (small-corpus verification baseline,
# like _SQL_MINHASH): all ordered pairs with the exact length
# pre-filter len(b.sh) >= ceil(t*len(a.sh)) (drops no true pair).
_SQL_CONTAINMENT = f"""{_SQL_SHINGLED}
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / len(a.sh), 4) AS containment
FROM sh a JOIN sh b
  ON a.doc_id <> b.doc_id
 AND len(b.sh) >= CAST(ceil(0.7999 * len(a.sh)) AS BIGINT)
WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / len(a.sh), 4) >= 0.8
"""


def _q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_pairs_with_drops(dedup_corpus(spark, sf_dir))[0]


# Exact oracle for the LSH query: brute-force all-pairs Jaccard >= 0.5
# over the dedup corpus, pre-filtered by the exact length condition
# (J >= t implies min(|A|,|B|) >= t*max(|A|,|B|), so the filter drops no
# true pair). The banding itself is not SQL-expressible (xxhash64), but
# its OUTPUT is deterministic on the fixed corpus and verified equal to
# the exact pair set (16 bands x 2 rows: the sf0.01 check finds all 600
# true pairs; miss probability per pair at J=0.9 planted dups ~ 3e-12,
# at the 0.5 boundary ~1%, measured zero on this corpus).
_SQL_MINHASH = f"""{_SQL_SHINGLED}
SELECT a.doc_id AS a_id, b.doc_id AS b_id, {_SQL_JAC} AS jaccard
FROM sh a JOIN sh b
  ON a.doc_id < b.doc_id
 AND len(a.sh) >= CAST(ceil(0.5 * len(b.sh)) AS BIGINT)
 AND len(b.sh) >= CAST(ceil(0.5 * len(a.sh)) AS BIGINT)
WHERE {_SQL_JAC} >= 0.5
"""


def pairs_crosscheck(corpus: DataFrame, recall: str = "standard") -> DataFrame:
    """Exact-recall cross-check of the two INDEPENDENT near-dup pair
    generators — probabilistic minhash-LSH banding vs the exact PPJoin
    prefix filter — on the same corpus at the same threshold (0.5).

    Returns ONE row: (n_pairs_lsh, n_pairs_prefix, n_symmetric_diff,
    n_dropped_lsh, n_dropped_prefix). When the symmetric difference and
    both drop counts are zero, the probabilistic generator provably
    found EXACTLY the exact generator's pair set — the strongest recall
    evidence the repo has (6,024 set-identical pairs at sf0.1), as a
    query that re-proves itself every run. One action computes
    everything: a full-outer join on the canonical (a_id, b_id) keys
    feeds the count/diff aggregates, and
    the lazy drop frames reduce to counts (their banding subtrees are
    keys-only — cheap relative to either verify stage). At sf0.01 the
    DuckDB oracle recomputes the truth by brute force; at scales where
    the quadratic oracle is infeasible the row is SELF-certifying
    (tools/check_queries.py asserts diff == drops == 0 Spark-side).

    ``recall`` selects the LSH banding profile under test (see
    RECALL_PROFILES); the exact-PPJoin side is profile-independent, so
    a ``recall="high"`` run directly measures that profile's recall
    against exact truth."""
    lsh, d_lsh = minhash_lsh_pairs_with_drops(corpus, recall=recall)
    pre, d_pre = jaccard_prefix_pairs_with_drops(corpus)
    # both generators emit distinct canonical keys by construction, but
    # the comparison must not DEPEND on it: a duplicated (a_id, b_id) on
    # either side would fan out the full-outer join and inflate both
    # counts instead of flagging the bug — dedup the keys first (the
    # dropDuplicates folds into each side's existing aggregation)
    j = (
        lsh.select("a_id", "b_id", F.lit(1).alias("in_lsh"))
        .dropDuplicates(["a_id", "b_id"])
        .join(
            pre.select("a_id", "b_id", F.lit(1).alias("in_prefix"))
            .dropDuplicates(["a_id", "b_id"]),
            ["a_id", "b_id"],
            "full_outer",
        )
    )
    sym = j.agg(
        F.coalesce(F.sum("in_lsh"), F.lit(0)).cast("bigint").alias("n_pairs_lsh"),
        F.coalesce(F.sum("in_prefix"), F.lit(0))
        .cast("bigint")
        .alias("n_pairs_prefix"),
        F.coalesce(
            F.sum(
                (F.col("in_lsh").isNull() | F.col("in_prefix").isNull()).cast("long")
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("n_symmetric_diff"),
    )
    da = d_lsh.agg(F.count("*").cast("bigint").alias("n_dropped_lsh"))
    db = d_pre.agg(F.count("*").cast("bigint").alias("n_dropped_prefix"))
    return sym.crossJoin(da).crossJoin(db)  # three 1-row frames


def _q_pairs_crosscheck(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pairs_crosscheck(dedup_corpus(spark, sf_dir))


def _q_pairs_crosscheck_high(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crosscheck in the HIGH recall profile (32x2 banding), which
    measures perfect recall on the sf1-equivalent corpus: this
    extras-tier row re-proves diff == drops == 0 against exact PPJoin
    truth every sweep, so the profile's claim is a query, not a
    footnote. Shares the standard crosscheck's oracle/invariant: the
    expected outcome (set identity with exact truth) is
    profile-independent wherever both are exact."""
    return pairs_crosscheck(dedup_corpus(spark, sf_dir), recall="high")


# Planted truth: both generators must equal the brute-force pair count
# (LSH by measured-zero misses on this corpus, prefix by theorem), with
# zero symmetric difference and zero dropped buckets on either side.
_SQL_CROSSCHECK = f"""
WITH truth AS ({_SQL_MINHASH})
SELECT CAST(count(*) AS BIGINT) AS n_pairs_lsh,
       CAST(count(*) AS BIGINT) AS n_pairs_prefix,
       CAST(0 AS BIGINT) AS n_symmetric_diff,
       CAST(0 AS BIGINT) AS n_dropped_lsh,
       CAST(0 AS BIGINT) AS n_dropped_prefix
FROM truth
"""


SIMHASH_BITS = 60

# The 60-bit md5 SimHash of _simhash_batches in DuckDB list algebra (hex
# digits folded with list_reduce). md5, unlike xxhash64, exists in
# DuckDB, so the oracle mirrors the arithmetic exactly.
_SIMHASH_SQL = r"""
CAST(list_sum(list_transform(range(0, 60), j ->
  CASE WHEN list_sum(list_transform(
         list_transform(string_split_regex(trim(lower({c})), '\s+'),
           w -> list_reduce(
                  list_transform(range(1, 16),
                    p -> CAST(strpos('0123456789abcdef',
                                     substring(md5(w), CAST(p AS INT), 1)) - 1 AS BIGINT)),
                  (a, b) -> a * 16 + b)),
         h -> ((h >> CAST(j AS INT)) & CAST(1 AS BIGINT)) * 2 - 1)) > 0
       THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE CAST(0 AS BIGINT) END)) AS BIGINT)
"""


def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_rows(_docs(spark, sf_dir)).withColumnRenamed("sh", "simhash")


_SQL_SIMHASH = f"""
SELECT doc_id, {_SIMHASH_SQL.format(c="text")} AS simhash FROM documents
"""


# Scale-default banding (Manku/Jain/Sarma, WWW 2007 "Detecting
# Near-Duplicates for Web Crawling" configuration family): a SMALL
# hamming radius with WIDE chunks. Chunk width is the candidate
# selectivity knob — each join key (chunk_id, chunk_val) has 2^width
# values, so expected random-collision candidates ~ n_chunks * N^2 /
# 2^width / 2. At 4 bits (the radius-12 exactness mode) that is
# Theta(N^2) for ANY corpus (1/16 collision odds); at 15 bits it is
# N^2/32768 per chunk — sub-linear in practice until N ~ 10^5 per
# shuffle partition, and AQE skew-split bounds the residue.
SIMHASH_SCALE_HAMMING = 3
SIMHASH_SCALE_CHUNKS = 4  # 4 chunks x 15 bits; exact recall <= 3


_SIMHASH_SCHEMA = pa.schema([("doc_id", pa.int64()), ("sh", pa.int64())])


def _simhash_batches(batches):
    """Arrow-batch kernel: (doc_id, text) -> _SIMHASH_SCHEMA rows, the
    60-bit md5 SimHash (Charikar) of each doc. Tokens are
    _jvm_tokens(lower(text)), the oracle's split(trim(lower(text)),
    '\\s+'); token hash = first 15 hex chars of md5(utf-8 bytes), so
    every value is positive in int64; votes count token OCCURRENCES (no
    distinct), bit j set iff votes_j > 0. md5 runs in C (hashlib,
    memoized per batch vocabulary) and the bit-vote fold is one NumPy
    matrix op per doc; as a JVM higher-order-function expression the
    same hash is interpreted at ~1.6 ms/doc."""
    import hashlib

    import numpy as np

    bits = np.arange(SIMHASH_BITS, dtype=np.uint64)
    one = np.uint64(1)

    for batch in batches:
        # memo scope = ONE Arrow batch: bounded by the batch's
        # vocabulary, not the whole task's — a high-cardinality corpus
        # (IDs, URLs) must not grow a task-lifetime dict toward the
        # partition's full distinct-token set
        cache: dict[str, int] = {}

        def tok_hash(w: str) -> int:
            h = cache.get(w)
            if h is None:
                h = int(hashlib.md5(w.encode("utf-8")).hexdigest()[:15], 16)
                cache[w] = h
            return h

        texts = batch.column("text").to_pylist()
        out = np.empty(len(texts), dtype=np.int64)
        for i, text in enumerate(texts):
            toks = _jvm_tokens((text or "").lower())
            hs = np.fromiter(
                (tok_hash(w) for w in toks), dtype=np.uint64, count=len(toks)
            )
            b = (hs[:, None] >> bits) & one  # (n_toks, 60)
            votes = 2 * b.sum(axis=0, dtype=np.int64) - len(toks)
            out[i] = int(((votes > 0).astype(np.uint64) << bits).sum())
        yield pa.RecordBatch.from_arrays(
            [batch.column("doc_id"), out], schema=_SIMHASH_SCHEMA
        )


def simhash_rows(corpus: DataFrame) -> DataFrame:
    """(doc_id, sh) rows from the simhash kernel, widened to the kernel
    width so a 1-file scan doesn't serialize it; the one simhash behind
    dedup_simhash and every pairs, components and apply query."""
    par = kernel_partitions(corpus.sparkSession)
    return (
        corpus.select(F.col("doc_id").cast("long").alias("doc_id"), "text")
        .repartition(par, "doc_id")
        .mapInArrow(_simhash_batches, from_arrow_schema(_SIMHASH_SCHEMA))
    )


def simhash_chunk_rows(corpus: DataFrame, n_chunks: int) -> DataFrame:
    """(doc_id, sh, chunk_id, chunk_val) rows: each 60-bit simhash split
    into n_chunks equal-width chunks (width = 60 // n_chunks)."""
    bits_per = SIMHASH_BITS // n_chunks
    mask = (1 << bits_per) - 1
    chunk_structs = [
        F.struct(
            F.lit(i).alias("chunk_id"),
            F.shiftrightunsigned("sh", i * bits_per)
            .bitwiseAND(F.lit(mask))
            .alias("chunk_val"),
        )
        for i in range(n_chunks)
    ]
    return simhash_rows(corpus).select(
        "doc_id", "sh", F.explode(F.array(*chunk_structs)).alias("c")
    ).select("doc_id", "sh", "c.chunk_id", "c.chunk_val")


def simhash_candidate_pairs_with_drops(
    corpus: DataFrame, n_chunks: int, max_bucket: int = MAX_BUCKET
) -> tuple[DataFrame, DataFrame]:
    """Distinct candidate (a_id, b_id, a_sh, b_sh) pairs from chunk
    bucketing — exposed separately so tests/benchmarks can measure
    candidate-set growth per banding config (the scale-defining number:
    verification cost is linear in it).

    Same shape as the LSH/SRP generators: one exchange on the chunk key
    (a self-join would evaluate the simhash subtree twice) into the
    bucket-pair kernel, which carries ``sh`` as a payload (``a_sh`` is
    ``a_id``'s simhash, ``b_sh`` ``b_id``'s) and drops buckets over
    ``max_bucket``; returns ``(candidates, dropped)``."""
    chunks = simhash_chunk_rows(corpus, n_chunks)
    return _bucket_candidates(
        chunks, ["chunk_id", "chunk_val"], "doc_id", max_bucket, payload=("sh",)
    )


def simhash_pairs_with_drops(
    corpus: DataFrame,
    max_hamming: int = 12,
    n_chunks: int = 15,
    max_bucket: int = MAX_BUCKET,
) -> tuple[DataFrame, DataFrame]:
    """SimHash near-dup pairs via pigeonhole chunk banding.

    Split each 60-bit simhash into n_chunks equal chunks; any pair with
    hamming distance < n_chunks must share at least one chunk
    (pigeonhole), so candidates are the in-bucket pairs of a groupBy on
    (chunk_id, chunk_val) — never a cross product — then are verified
    by exact popcount of the XOR. Exact recall requires
    max_hamming <= n_chunks - 1 (asserted) AND no bucket over
    ``max_bucket``: dropped hot buckets (the second element of the
    returned tuple) trade recall for bound. NOTE the interaction
    in the (12, 15) mode: 4-bit chunks have only 16 values, so a
    uniform corpus over ~16*max_bucket docs drops EVERY bucket — check
    the drops frame or raise ``max_bucket`` when running the exactness
    mode beyond its small-corpus design point (the `_scale` config's
    15-bit chunks do not have this cliff; the registered exactness query
    enforces zero drops via ``assert_no_drops``).

    Config tradeoff (see SIMHASH_SCALE_* above): the (12, 15) default
    guarantees radius-12 recall but its 4-bit chunks collide at 1/16 —
    Theta(N^2) candidates on any corpus — so it is the small-corpus
    EXACTNESS-ORACLE mode. The production configuration is
    (SIMHASH_SCALE_HAMMING=3, SIMHASH_SCALE_CHUNKS=4): 15-bit chunks,
    ~N^2/2^15 expected random candidates per chunk — near-linear until
    extreme N (the Manku-style web-crawl setting; candidate growth is
    asserted ~linear by test and measured in bench).
    """
    if max_hamming > n_chunks - 1:
        raise ValueError(
            f"simhash_pairs_with_drops: pigeonhole recall requires max_hamming <= "
            f"n_chunks - 1 (got max_hamming={max_hamming}, n_chunks={n_chunks})"
        )
    cand, dropped = simhash_candidate_pairs_with_drops(
        corpus, n_chunks, max_bucket=max_bucket
    )
    hamming = F.bit_count(F.col("a_sh").bitwiseXOR(F.col("b_sh"))).cast("int")
    pairs = (
        cand.withColumn("hamming", hamming)
        .where(F.col("hamming") <= max_hamming)
        .select("a_id", "b_id", "hamming")
    )
    return pairs, dropped


def assert_no_drops(dropped: DataFrame, context: str) -> None:
    """Fail fast when a bucketed candidate generator dropped ANY bucket
    while running in an exactness-guaranteed mode. ``dropped`` is the
    generator's lazy groupBy count over the bucket keys, so this re-runs
    the banding subtree up to that keys-only aggregate: a pass the pair
    kernel does not share, which enumerates no pairs."""
    hot = dropped.limit(5).collect()
    if hot:
        keys = ", ".join(str(tuple(r)) for r in hot)
        raise RuntimeError(
            f"{context}: hot-bucket cap dropped buckets ({keys}, ...) — "
            "the exactness guarantee no longer holds on this corpus; "
            "raise max_bucket or switch to the bounded scale config"
        )


def _q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTNESS-ORACLE mode (radius 12, 4-bit chunks): guarded — on a
    corpus big/uniform enough to overflow max_bucket the (12, 15) cliff
    (see simhash_pairs_with_drops) would silently diverge from the
    brute-force oracle, so any drop raises instead."""
    pairs, dropped = simhash_pairs_with_drops(dedup_corpus(spark, sf_dir))
    assert_no_drops(dropped, "dedup_simhash_pairs (exactness-oracle mode)")
    return pairs


def _q_simhash_pairs_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production banding (radius 3, 4x15-bit chunks) as its own
    driver-certified query: same exact-recall guarantee at its radius,
    near-linear candidate generation (the at-scale default)."""
    return simhash_pairs_with_drops(
        dedup_corpus(spark, sf_dir),
        max_hamming=SIMHASH_SCALE_HAMMING,
        n_chunks=SIMHASH_SCALE_CHUNKS,
    )[0]


def _sql_simhash_pairs(radius: int) -> str:
    """Exact oracle: all-pairs hamming <= ``radius`` over the same 60-bit
    simhash. Unlike LSH this needs no luck — the pigeonhole banding has
    GUARANTEED exact recall for hamming <= n_chunks - 1 (radius 12 with
    15 chunks, the scale config's radius 3 with 4), so Spark output ==
    brute force."""
    return f"""
WITH corpus AS ({_SQL_CORPUS}),
s AS (SELECT doc_id, {_SIMHASH_SQL.format(c="text")} AS sh FROM corpus)
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sh, b.sh)) <= {radius}
"""


DECONTAM_NGRAM = 8
EVAL_MOD = 50  # stand-in benchmark set: originals with doc_id % 50 == 0


def decontaminate_flags(
    corpus: DataFrame, eval_docs: DataFrame, n: int = DECONTAM_NGRAM
) -> DataFrame:
    """Benchmark decontamination: flag corpus docs sharing any word
    n-gram with the evaluation set (the train/test-contamination check
    every LLM data pipeline runs before training; n-gram overlap is the
    standard criterion, e.g. the GPT-3/PaLM decontamination recipes —
    public knowledge).

    Spark shape for 100 TB: the eval set is small by nature, so its
    distinct n-gram set is BROADCAST, and the corpus side is the gram-row
    kernel as a narrow map (no exchange) feeding a broadcast hash join —
    the 10^12-row side never shuffles. Returns (doc_id, n_hits) for
    flagged docs only.
    """

    def grams(docs: DataFrame) -> DataFrame:
        return _gram_rows(docs, n, widen=False).select(
            "doc_id", F.col("shingle").alias("gram")
        )

    eval_grams = grams(eval_docs).select("gram").distinct()
    corpus_grams = grams(corpus)
    return (
        corpus_grams.join(F.broadcast(eval_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count_distinct("gram").alias("n_hits"))
    )


def _q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination over the dedup corpus: the benchmark stand-in is
    every 50th ORIGINAL doc; their planted truncations (doc_id + 1M)
    share almost all n-grams and must be flagged — a guaranteed
    non-trivial result the DuckDB oracle reproduces exactly."""
    corpus = dedup_corpus(spark, sf_dir)
    is_eval = (F.col("doc_id") % EVAL_MOD == 0) & (F.col("doc_id") < 1_000_000)
    flags = decontaminate_flags(corpus.where(~is_eval), corpus.where(is_eval))
    return flags


_SQL_DECONTAM = f"""
WITH corpus AS ({_SQL_CORPUS}),
g AS (SELECT doc_id, unnest({_sql_grams(DECONTAM_NGRAM)}) AS gram FROM corpus),
e AS (SELECT DISTINCT gram FROM g
      WHERE doc_id % {EVAL_MOD} = 0 AND doc_id < 1000000)
SELECT doc_id, count(DISTINCT gram) AS n_hits
FROM g JOIN e USING (gram)
WHERE NOT (doc_id % {EVAL_MOD} = 0 AND doc_id < 1000000)
GROUP BY doc_id
"""


def _star_edges(edges: DataFrame, large: bool, dedup: bool = True) -> DataFrame:
    """One star operation of the alternating connected-components
    algorithm (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC 2014 — public knowledge, reimplemented on DataFrames).

    ``edges`` is canonical: a_id < b_id, distinct, no self-loops.
    - large-star: every node u connects each STRICTLY LARGER neighbor
      to m = min(N(u) ∪ {u});
    - small-star: every node u connects each strictly smaller neighbor,
      and itself, to the min of those smaller neighbors.
    Both preserve connectivity exactly; alternating them converges to
    a star forest rooted at each component's minimum in O(log n)
    rounds.

    The per-node neighborhood min is a ``min(...) over (partition by
    node)`` WINDOW — one exchange + one partition-local sort per star
    op, where a groupBy + self-join pays two exchanges AND (as
    sort-merge at scale) two sorts. Duplicate edges never change a min, so
    ``dedup=False`` lets the large-star feed the small-star raw and
    defers the distinct to once per (large, small) round — the per-round
    canonical edge SET (what the star-forest check reads) is identical
    either way; only transient multiplicity differs."""
    if large:
        d = edges.unionByName(
            edges.select(F.col("b_id").alias("a_id"), F.col("a_id").alias("b_id"))
        )
        mn = F.min("b_id").over(Window.partitionBy("a_id"))
        out = (
            d.withColumn("mn", mn)
            .where(F.col("b_id") > F.col("a_id"))
            .select(
                F.col("b_id").alias("x"),
                F.least("mn", "a_id").alias("y"),
            )
        )
    else:
        # orient u = max endpoint: u's smaller-neighbor list is exactly
        # its canonical-edge partners, so min(smaller nbrs) = min(v)
        d = edges.select(
            F.col("b_id").alias("u"), F.col("a_id").alias("v")
        )
        withm = d.withColumn("mn", F.min("v").over(Window.partitionBy("u")))
        out = withm.select(F.col("v").alias("x"), F.col("mn").alias("y")).unionByName(
            withm.select(F.col("u").alias("x"), F.col("mn").alias("y"))
        )
    out = out.select(
        F.least("x", "y").alias("a_id"), F.greatest("x", "y").alias("b_id")
    ).where(F.col("a_id") != F.col("b_id"))
    return out.distinct() if dedup else out


def _contract_batches(batches):
    """Arrow-batch kernel: one partition's canonical edges -> its local
    star forest, one (component min, node) edge per non-minimum node.
    Ids get ascending dense indices and _UnionFind roots every set at
    its smallest index, so each root is its component's minimum id. The
    output keeps the input's components and is distinct across
    partitions: a local minimum is an a_id of its partition, and range
    partitioning puts each a_id in exactly one partition."""
    import numpy as np

    from ..kernel.components import _UnionFind

    a, b = [], []
    for batch in batches:
        a.append(batch.column("a_id").to_numpy())
        b.append(batch.column("b_id").to_numpy())
    if not a:
        return
    ids, idx = np.unique(np.concatenate(a + b), return_inverse=True)
    n = len(idx) // 2
    uf = _UnionFind(len(ids))
    for x, y in zip(idx[:n].tolist(), idx[n:].tolist()):
        uf.union(x, y)
    root = np.array([uf.find(i) for i in range(len(ids))], dtype=np.int64)
    child = root != np.arange(len(ids))
    yield pa.RecordBatch.from_arrays(
        [pa.array(ids[root[child]]), pa.array(ids[child])],
        names=["a_id", "b_id"],
    )


def _is_star_forest(edges: DataFrame) -> bool:
    """Two-star's fixed point over canonical edges: no node is both an
    a_id (root) and a b_id (child), and no b_id repeats — i.e. no node
    that is a child is seen twice."""
    n = F.explode(F.array(
        F.struct(F.col("a_id").alias("id"), F.lit(0).alias("child")),
        F.struct(F.col("b_id").alias("id"), F.lit(1).alias("child")),
    ))
    bad = (
        edges.select(n.alias("n")).groupBy("n.id")
        .agg(F.sum("n.child").alias("c"), F.count("*").alias("k"))
        .where((F.col("c") > 0) & (F.col("k") > 1))
    )
    return bad.count() == 0


def connected_components_pairs(
    pairs: DataFrame,
    max_iter: int = 20,
    checkpoint_dir: str | None = None,
    mode: str | None = None,
    round_counter: list | None = None,
) -> DataFrame:
    """Connected components over a near-dup pair graph: every doc in a
    duplicate cluster maps to the cluster's smallest doc_id (the
    deterministic keeper). Returns (doc_id, keeper_id, cluster_size),
    one row per doc that appears in some pair, including a (d, d, 1) row
    for a doc whose only pairs are self-loops.

    The canonical edges (a_id < b_id, no self-loops; a repeated pair
    only unites two nodes again) are range-partitioned on a_id, and a
    union-find per partition (_contract_batches) turns each local
    component into a star around its minimum id (Łącki, Mirrokni and
    Włodarczyk, "Connected Components at Scale via Local Contractions",
    2018). AQE sizes these partitions by bytes, which suits union-find
    work, linear in edge bytes: each task's work and memory are O(edges
    in its partition), bounded by the advisory partition size; a hub
    whose edges share one a_id lands in one task.

    Every node then takes its star root as keeper (a root, or a doc no
    star edge names as a child, keeps itself), and a proof checks that
    every ORIGINAL pair joins two nodes with equal keepers. Star edges
    only join nodes of one component, and a component's minimum is never
    a child, so a passed proof means every keeper is its component's
    minimum: the quotient is labelled and proved first, and when it
    passes (a graph that fits one partition) the output is returned
    after 0 rounds. Only when it fails do two-star rounds (_star_edges)
    run on the quotient until it is a star forest (_is_star_forest):
    about log2 P rounds for a chain cut into P partitions along its ids,
    two-star's O(log diameter) for components whose ids scatter across
    partitions; then it is labelled and proved again, and a second
    failure raises RuntimeError ("label consistency"). The trade: a
    quotient that is not already a star forest pays one extra labelling
    and proof before its rounds. A graph that is not a star forest after
    ``max_iter`` rounds raises RuntimeError ("not converged");
    ``round_counter``, if given, gets the number of rounds appended.

    Lineage is cut after the pre-contraction, after every round (a star
    op reads its input 2-3x) and on each labelling (a failed one is
    released at once): a non-eager ``localCheckpoint``, whose blocks the
    first job that reads it stores, or,
    when ``checkpoint_dir`` is set, a parquet copy read back from
    ``<checkpoint_dir>/<call id>-<n>``, durable like ``checkpoint()``
    but without touching the session's checkpoint dir. Each call writes
    under its own uuid4 call id, so calls may share a directory. The
    files are not auto-deleted: delete the directory after use.

    ``mode`` is deprecated and ignored ("minlabel", "twostar", "auto");
    any other value raises ``ValueError``.
    """
    if mode not in (None, "minlabel", "twostar", "auto"):
        raise ValueError(
            f"unknown mode {mode!r}: mode is deprecated, omit it"
        )
    call_id, n_cuts = uuid.uuid4().hex, itertools.count()

    def cut(df):
        # NON-eager localCheckpoint (the plan is truncated either way):
        # building its RDD already runs the upstream AQE query stages, and
        # the first job that reads it (the star-forest check, the proof)
        # stores the blocks
        if checkpoint_dir is None:
            return df.localCheckpoint(eager=False)
        path = os.path.join(checkpoint_dir, f"{call_id}-{next(n_cuts)}")
        df.write.parquet(path)
        return df.sparkSession.read.parquet(path)

    def free(df):
        # release a local cut's blocks now, not when the ContextCleaner
        # gets to them (a parquet cut stays until checkpoint_dir goes)
        if checkpoint_dir is None:
            df._jdf.queryExecution().logical().rdd().unpersist(False)

    def label(edges):
        # a child's keeper is its star root; every other node of canon (a
        # root, a self-loop-only doc) keeps itself
        keeper = F.coalesce("root", "doc_id")
        size = F.count("*").over(Window.partitionBy(keeper)).cast("int")
        nodes = canon.select(F.explode(F.array("a_id", "b_id")).alias("doc_id"))
        return cut(
            nodes.distinct().join(edges.toDF("root", "doc_id"), "doc_id", "left")
            .select("doc_id", keeper.alias("keeper_id"), size.alias("cluster_size"))
        )

    def violations(out):
        # the ORIGINAL pairs whose endpoints are not both labelled, and
        # labelled equal
        k = out.select("doc_id", "keeper_id")
        return (
            edges0.join(k.toDF("a_id", "ka"), "a_id", "left")
            .join(k.toDF("b_id", "kb"), "b_id", "left")
            .where(F.col("ka").isNull() | F.col("kb").isNull()
                   | (F.col("ka") != F.col("kb")))
            .count()
        )

    # one read of the (possibly expensive, unpersisted) pair input feeds
    # both the edge set and the node list (self-loops included) below
    canon = pairs.select(
        F.least("a_id", "b_id").alias("a_id"),
        F.greatest("a_id", "b_id").alias("b_id"),
    ).persist()
    edges0 = canon.where(F.col("a_id") != F.col("b_id"))
    try:
        edges = cut(
            edges0.repartitionByRange("a_id").mapInArrow(
                _contract_batches, edges0.schema
            )
        )
        # label the quotient and prove it first: a passed proof means
        # every label is its component's minimum (see the docstring), so
        # a quotient that is already a star forest needs no check
        out, rounds = label(edges), 0
        if violations(out):
            # a star-forest quotient always passes (its stars are whole
            # components, rooted at their minima), so the first round
            # runs unchecked
            free(out)
            while rounds == 0 or not _is_star_forest(edges):
                if rounds == max_iter:
                    raise RuntimeError(
                        f"connected_components_pairs: not converged after "
                        f"{max_iter} rounds — O(log n) convergence makes this a "
                        "bug or an absurd graph; raise max_iter"
                    )
                # one distinct per round: the large-star output feeds the
                # small-star raw (dedup=False — min is duplicate-blind, the
                # per-round canonical SET is unchanged; see _star_edges)
                edges = cut(
                    _star_edges(_star_edges(edges, large=True, dedup=False), large=False)
                )
                rounds += 1
            out = label(edges)
            bad = violations(out)
            if bad:
                raise RuntimeError(
                    f"connected_components_pairs: {bad} original pairs violate "
                    "label consistency — star invariant broken"
                )
        if round_counter is not None:
            round_counter.append(rounds)
        return out
    finally:
        canon.unpersist()


def _q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keeper assignment over the Manku-banded simhash pair graph: the
    end-to-end 'pairs -> decisions' path through
    connected_components_pairs. The DuckDB oracle is a recursive-CTE
    transitive closure: it checks the OUTPUT clustering, not the
    algorithm."""
    pairs = _q_simhash_pairs_scale(spark, sf_dir)
    return connected_components_pairs(pairs)


_SQL_COMP_CTES = f"""
WITH RECURSIVE
corpus AS MATERIALIZED ({_SQL_CORPUS}),
s AS MATERIALIZED (SELECT doc_id, {_SIMHASH_SQL.format(c="text")} AS sh FROM corpus),
p AS MATERIALIZED (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id
  FROM s a JOIN s b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.sh, b.sh)) <= {SIMHASH_SCALE_HAMMING}),
-- MATERIALIZED: without it DuckDB may inline these CTEs into every
-- iteration of the recursion below, recomputing the per-doc simhash
-- and the all-pairs join once per closure step (observed: minutes ->
-- hours at sf0.1); the hint pins one evaluation
edges AS MATERIALIZED (SELECT a_id AS a, b_id AS b FROM p
          UNION SELECT b_id, a_id FROM p),
reach(id, r) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.id),
comp AS (SELECT id, min(r) AS keeper FROM reach GROUP BY id)
"""

_SQL_COMPONENTS = _SQL_COMP_CTES + """
SELECT id AS doc_id, keeper AS keeper_id,
       CAST(count(*) OVER (PARTITION BY keeper) AS INT) AS cluster_size
FROM comp
"""


def dedup_apply(corpus: DataFrame, decisions: DataFrame) -> DataFrame:
    """Apply dedup DECISIONS to the corpus — the pipeline's end product:
    keep every doc that is its cluster's keeper (or is in no cluster),
    drop the rest.

    100-TB shape: ``decisions`` holds one row per PAIR-CONNECTED doc —
    orders of magnitude smaller than the corpus — so the non-keeper id
    list BROADCASTS and the corpus side anti-joins with ZERO shuffle
    (plan-tested: BroadcastHashJoin LeftAnti, no Exchange on the
    streamed side). The 10^12-row table is filtered in place, exactly
    like dedup_decontaminate's eval-gram join."""
    drop = decisions.where(F.col("doc_id") != F.col("keeper_id")).select("doc_id")
    return corpus.join(F.broadcast(drop), "doc_id", "left_anti")


def _q_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end pairs -> decisions -> DEDUPED CORPUS: simhash scale
    banding, two-star components, broadcast anti-join keep-filter. The
    oracle replays the same transitive closure in DuckDB and keeps
    non-dropped doc_ids."""
    corpus = dedup_corpus(spark, sf_dir)
    decisions = _q_dedup_components(spark, sf_dir)
    return dedup_apply(corpus, decisions).select("doc_id")


_SQL_APPLY = _SQL_COMP_CTES + """
SELECT doc_id FROM corpus
WHERE doc_id NOT IN (SELECT id FROM comp WHERE id != keeper)
"""


EMB_DIM = 64
EMB_KEEP = 56  # near-dup derivation zeroes the last 8 dims
EMB_COS_THRESHOLD = 0.9
SRP_BITS = 64
SRP_CHUNKS = 16  # 16 chunks x 4 bits


def embedding_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings ∪ deterministic near-duplicates: every vector with its
    last 8 (of 64) dims zeroed, at vec_id + 1_000_000 — cosine vs the
    original ≈ sqrt(56/64) ≈ 0.93 for near-random vectors. Both sides
    are exact double arithmetic, mirrored verbatim by the SQL oracle."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    trunc = F.concat(
        F.slice("v", 1, EMB_KEEP), F.array_repeat(F.lit(0.0), EMB_DIM - EMB_KEEP)
    )
    near = e.select((F.col("vec_id") + 1_000_000).alias("vec_id"), trunc.alias("v"))
    return e.unionByName(near)


_SRP_SCHEMA = pa.schema(
    [("vec_id", pa.int64()), ("chunk_id", pa.int32()), ("chunk_val", pa.int64())]
)


def _srp_chunk_batches(batches):
    """Arrow-batch kernel: (vec_id, v) -> SRP sketch chunk rows
    (_SRP_SCHEMA: vec_id, chunk_id, chunk_val). Sign-random-projection LSH (Charikar
    2002): bit_j = sign(v . r_j) over SRP_BITS fixed Gaussian
    hyperplanes (seeded rng — deterministic across processes); the
    64-bit sketch splits into SRP_CHUNKS 4-bit chunks for pigeonhole
    banding. P(bit disagree) = angle/pi, so the planted cos≈0.93 pairs
    (angle≈21°) miss all 16 chunks with probability ~(1-0.61^4)^16
    ≈ 3e-7 — measured zero misses on the fixed corpus."""
    import numpy as np

    rng = np.random.default_rng(42)
    R = rng.standard_normal((SRP_BITS, EMB_DIM))
    bits_per = SRP_BITS // SRP_CHUNKS
    weights = (1 << np.arange(bits_per, dtype=np.int64))[None, None, :]
    chunk_ids = np.arange(SRP_CHUNKS, dtype=np.int32)
    for batch in batches:
        vec_ids = np.asarray(batch.column("vec_id").to_pylist(), dtype=np.int64)
        V = np.array(batch.column("v").to_pylist(), dtype=np.float64)
        if len(vec_ids) == 0:
            continue
        bits = (V @ R.T) > 0  # (n, SRP_BITS)
        vals = (
            (bits.reshape(len(vec_ids), SRP_CHUNKS, bits_per) * weights)
            .sum(axis=2)
            .astype(np.int64)
        )  # (n, SRP_CHUNKS)
        yield pa.RecordBatch.from_arrays(
            [
                np.repeat(vec_ids, SRP_CHUNKS),
                np.tile(chunk_ids, len(vec_ids)),
                vals.reshape(-1),
            ],
            schema=_SRP_SCHEMA,
        )


def embedding_cosine_pairs_with_drops(
    corpus: DataFrame,
    threshold: float = EMB_COS_THRESHOLD,
    max_bucket: int = MAX_BUCKET,
) -> tuple[DataFrame, DataFrame]:
    """Embedding-cosine near-dup pairs: SRP-LSH bucketing (never
    all-pairs) -> in-bucket candidate enumeration (buckets over
    ``max_bucket`` dropped by the bucket-pair kernel, returned as the
    second tuple element) -> exact cosine verification. The verify cosine is the same
    sequential-sum double expression the brute-force oracle uses, so
    values match bitwise."""
    from .similarity import cosine

    par = kernel_partitions(corpus.sparkSession)
    sketches = corpus.repartition(par, "vec_id").mapInArrow(
        _srp_chunk_batches, from_arrow_schema(_SRP_SCHEMA)
    )
    cand, dropped = _bucket_candidates(
        sketches, ["chunk_id", "chunk_val"], "vec_id", max_bucket
    )
    ver = (
        cand.join(corpus.select(F.col("vec_id").alias("a_id"),
                                F.col("v").alias("a_v")), "a_id")
        .join(corpus.select(F.col("vec_id").alias("b_id"),
                            F.col("v").alias("b_v")), "b_id")
        .repartition(par, "a_id", "b_id")
        .select(
            "a_id", "b_id",
            F.round(cosine(F.col("a_v"), F.col("b_v")), 4).alias("cos"),
        )
    )
    pairs = ver.where(F.col("cos") >= threshold)
    return pairs, dropped


def _q_embedding_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_cosine_pairs_with_drops(embedding_corpus(spark, sf_dir))[0]


# Planted-degenerate certification of the hot-bucket cap itself: every
# document rewritten to ONE constant text, so all N docs share identical
# minhash band hashes -> exactly one bucket per band, each of size N >
# the tiny cap -> the bucket-pair kernel must drop ALL of them and
# the pair output must be EMPTY. The oracle is pure SQL: one row per
# band with n = count(documents).
DROPPED_DEMO_MAX_BUCKET = 8
_DROPPED_DEMO_TEXT = "the same boilerplate text appears in every single document here"


def _q_dropped_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-certified dropped-bucket telemetry (the production drop
    path, not a test hook): runs the REAL minhash-LSH generator over the
    degenerate corpus and returns one row per dropped bucket
    (band_id, n), cross-checked with the pair count (must be 0 — every
    bucket was dropped, so no candidates survive)."""
    d = _docs(spark, sf_dir).select(
        "doc_id", F.lit(_DROPPED_DEMO_TEXT).alias("text")
    )
    pairs, dropped = minhash_lsh_pairs_with_drops(
        d, max_bucket=DROPPED_DEMO_MAX_BUCKET
    )
    n_pairs = pairs.count()  # eager cross-check: cap kills all candidates
    return dropped.select(
        F.col("band_id").cast("int").alias("band_id"),
        F.col("n").cast("bigint").alias("n"),
        F.lit(n_pairs).cast("bigint").alias("n_surviving_pairs"),
    )


_SQL_DROPPED = f"""
SELECT CAST(u.band_id AS INT) AS band_id,
       count(*) AS n,
       CAST(0 AS BIGINT) AS n_surviving_pairs
FROM documents, UNNEST(range(0, {N_BANDS})) AS u(band_id)
GROUP BY 1
"""


_SQL_EMB_ZEROS = ", ".join(["0.0"] * (EMB_DIM - EMB_KEEP))
_SQL_EMB_PAIRS = f"""
WITH corpus AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id,
         list_concat(CAST(embedding AS DOUBLE[])[1:{EMB_KEEP}],
                     [{_SQL_EMB_ZEROS}]) AS v
  FROM embeddings)
SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       round(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v))
                * sqrt(list_dot_product(b.v, b.v))), 4) AS cos
FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.v, b.v)
            / (sqrt(list_dot_product(a.v, a.v))
               * sqrt(list_dot_product(b.v, b.v))), 4) >= {EMB_COS_THRESHOLD}
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "dedup_exact": _q_exact_dedup,
        "dedup_ngram_jaccard_pairs": _q_jaccard_pairs,
        "dedup_jaccard_prefix_pairs": _q_jaccard_prefix,
        "dedup_minhash_lsh_pairs": _q_minhash_lsh,
        "dedup_pairs_crosscheck": _q_pairs_crosscheck,
        "dedup_pairs_crosscheck_high": _q_pairs_crosscheck_high,
        "dedup_simhash": _q_simhash,
        "dedup_simhash_pairs": _q_simhash_pairs,
        "dedup_simhash_pairs_scale": _q_simhash_pairs_scale,
        "dedup_components": _q_dedup_components,
        "dedup_apply": _q_dedup_apply,
        "dedup_decontaminate": _q_decontaminate,
        "dedup_embedding_cosine_pairs": _q_embedding_cosine_pairs,
        "dedup_dropped_buckets": _q_dropped_buckets,
        "dedup_containment_pairs": _q_containment,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "dedup_exact": _SQL_EXACT,
        "dedup_ngram_jaccard_pairs": _SQL_JACCARD,
        # prefix filtering is EXACT (no false negatives), so its output
        # equals the same brute-force all-pairs truth the LSH row uses
        "dedup_jaccard_prefix_pairs": _SQL_MINHASH,
        "dedup_minhash_lsh_pairs": _SQL_MINHASH,
        "dedup_pairs_crosscheck": _SQL_CROSSCHECK,
        "dedup_pairs_crosscheck_high": _SQL_CROSSCHECK,
        "dedup_simhash": _SQL_SIMHASH,
        "dedup_simhash_pairs": _sql_simhash_pairs(12),
        "dedup_simhash_pairs_scale": _sql_simhash_pairs(SIMHASH_SCALE_HAMMING),
        "dedup_components": _SQL_COMPONENTS,
        "dedup_apply": _SQL_APPLY,
        "dedup_decontaminate": _SQL_DECONTAM,
        "dedup_embedding_cosine_pairs": _SQL_EMB_PAIRS,
        "dedup_dropped_buckets": _SQL_DROPPED,
        "dedup_containment_pairs": _SQL_CONTAINMENT,
    }
