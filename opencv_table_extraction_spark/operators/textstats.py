"""Text analysis operators over the documents table: token counting
(whitespace + BPE-ish regex), quality scoring, language-ID heuristic,
document fingerprinting, token-budget shard packing. Most expressions
are JVM-side built-ins; winnowing fingerprints and repetition stats run
in pandas UDFs (``winnow_fingerprint_batch``, ``repetition_stats_batch``).
Every query has an exact DuckDB oracle."""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.pipeline import grouped_running_sum
from .dedup import _jvm_tokens, normalized_fingerprint

_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")
_BPE_PAT = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    tokens = F.split(F.trim("text"), r"\s+")
    return d.select(
        "doc_id",
        F.size(tokens).alias("n_tokens"),
        F.length("text").alias("n_chars"),
        F.regexp_count(F.lower("text"), F.lit(_BPE_PAT)).alias("n_subtokens"),
        F.round(
            F.length(F.regexp_replace("text", r"\s+", "")).cast("double")
            / F.size(tokens),
            4,
        ).alias("avg_token_len"),
    )


_SQL_TOKEN_STATS = r"""
SELECT doc_id,
       len(string_split_regex(trim(text), '\s+')) AS n_tokens,
       length(text) AS n_chars,
       len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_subtokens,
       round(CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
             / len(string_split_regex(trim(text), '\s+')), 4) AS avg_token_len
FROM documents
"""


def _quality_terms():
    """(n_stop, stop_ratio, quality_ok) over the lowered whitespace
    tokens of ``text``: the one definition of document quality, shared
    by quality_score and sample_by_quality."""
    tokens = F.split(F.trim(F.lower("text")), r"\s+")
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    n_stop = F.size(F.filter(tokens, lambda w: F.array_contains(stop_arr, w)))
    n_tok = F.size(tokens)
    stop_ratio = F.round(n_stop.cast("double") / n_tok, 4)
    ok = (n_tok >= 10) & (n_tok <= 2000) & (stop_ratio <= F.lit(0.6))
    return n_stop, stop_ratio, ok


def _md5_bucket(key):
    """Stable 0-99 bucket of a string key: the first 8 hex digits of its
    md5 mod 100 — reproducible across runs, partitionings and engines."""
    return F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("bigint") % 100


def _q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    n_stop, stop_ratio, ok = _quality_terms()
    n_punct = F.length("text") - F.length(F.regexp_replace("text", r"[.,!?;:]", ""))
    return d.select(
        "doc_id",
        n_stop.alias("n_stopwords"),
        n_punct.alias("n_punct"),
        stop_ratio.alias("stop_ratio"),
        ok.alias("quality_ok"),
    )


_SQL_QUALITY = r"""
WITH t AS (
  SELECT doc_id, text,
         string_split_regex(trim(lower(text)), '\s+') AS toks
  FROM documents)
SELECT doc_id,
       len(list_filter(toks, w -> w IN ('the','a','of','and','to','in','is')))
         AS n_stopwords,
       length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
       round(CAST(len(list_filter(toks, w -> w IN ('the','a','of','and','to','in','is')))
             AS DOUBLE) / len(toks), 4) AS stop_ratio,
       (len(toks) >= 10 AND len(toks) <= 2000
        AND round(CAST(len(list_filter(toks, w -> w IN ('the','a','of','and','to','in','is')))
              AS DOUBLE) / len(toks), 4) <= 0.6) AS quality_ok
FROM t
"""


def _q_lang_guess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic character-class/marker-word language heuristic.

    (The synthetic corpus is English-like word salad regardless of its
    `lang` label; the operator is the deliverable, and the oracle mirrors
    the identical rule so the check is exact.)"""
    d = _docs(spark, sf_dir)
    t = F.concat(F.lit(" "), F.lower("text"), F.lit(" "))
    guess = (
        F.when(F.col("text").rlike(r"[一-鿿]"), "zh")
        .when(F.col("text").rlike(r"[Ѐ-ӿ]"), "ru")
        .when(t.contains(" the ") | t.contains(" a "), "en")
        .when(t.contains(" der ") | t.contains(" und "), "de")
        .when(t.contains(" el ") | t.contains(" la "), "es")
        .otherwise("unk")
    )
    return d.select("doc_id", "lang", guess.alias("lang_guess"))


_SQL_LANG = r"""
SELECT doc_id, lang,
       CASE WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
            WHEN regexp_matches(text, '[Ѐ-ӿ]') THEN 'ru'
            WHEN (' ' || lower(text) || ' ') LIKE '% the %'
              OR (' ' || lower(text) || ' ') LIKE '% a %' THEN 'en'
            WHEN (' ' || lower(text) || ' ') LIKE '% der %'
              OR (' ' || lower(text) || ' ') LIKE '% und %' THEN 'de'
            WHEN (' ' || lower(text) || ' ') LIKE '% el %'
              OR (' ' || lower(text) || ' ') LIKE '% la %' THEN 'es'
            ELSE 'unk' END AS lang_guess
FROM documents
"""


def _q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.select("doc_id", normalized_fingerprint("text").alias("fingerprint"))


_SQL_FINGERPRINT = r"""
SELECT doc_id, sha256(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
FROM documents
"""


# winnow_fingerprint_batch working-set cap: the global arrays cost
# ~32-44 bytes per concatenated character (utf-32 data + uint64 hashes +
# window argmin columns), so an unbounded Arrow batch of large docs
# would reach a multi-GB per-batch peak. 8M chars caps the kernel at
# ~350 MB per Python worker while keeping batches large enough that the
# global-pass speedup holds.
WINNOW_BATCH_MAX_CHARS = 8_000_000


def winnow_fingerprint_batch(
    texts, k: int = 8, window: int = 6
) -> list[list[int]]:
    """Char-bounded wrapper over the single-chunk kernel: splits the
    batch into runs of <= WINNOW_BATCH_MAX_CHARS NORMALIZED characters
    (never splitting inside a document) so the per-worker memory peak is
    capped regardless of Arrow batch sizing. Normalization happens HERE,
    once, and its true post-normalization length feeds the cap —
    str.lower() can EXPAND code-point count (e.g. 'İ'.lower() is 2
    chars), so measuring the raw length would make the bound soft.
    ``str.split()`` splits on Unicode whitespace, dedup._jvm_tokens on
    ASCII only: the two agree only because
    test_corpus_whitespace_is_pinned_for_oracles keeps non-ASCII
    whitespace and \\v out of the corpora."""
    out: list[list[int]] = []
    chunk: list[str] = []
    chars = 0
    for t in texts:
        s = " ".join((t or "").lower().split())
        if chunk and chars + len(s) > WINNOW_BATCH_MAX_CHARS:
            out.extend(_winnow_chunk(chunk, k, window))
            chunk, chars = [], 0
        chunk.append(s)
        chars += len(s)
    if chunk:
        out.extend(_winnow_chunk(chunk, k, window))
    return out


def _winnow_chunk(
    norm, k: int = 8, window: int = 6
) -> list[list[int]]:
    """Cross-doc vectorized winnowing over PRE-NORMALIZED texts (the
    batch wrapper lowercases/space-folds once and caps on the true
    normalized length): ONE set of k Horner passes and
    ONE sliding-window argmin over the whole batch's concatenated
    code-point array, instead of per-document NumPy calls (the per-doc
    fixed overhead — array alloc, k tiny passes, window view — dominates
    for short documents). Per-document work shrinks to index slicing.

    Equivalence with the per-doc reference
    ``tests/test_operators.py::winnow_fingerprint`` is exact (test-
    pinned): hash positions and windows that cross a document boundary
    are simply never read — doc i's k-gram hashes live at global
    positions [off_i, off_i + L_i - k], all computed from doc-i chars
    only, and only windows fully inside that range are consulted."""
    import numpy as np

    lens = np.array([len(s) for s in norm], dtype=np.int64)
    offs = np.zeros(len(norm) + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    total = int(offs[-1])
    out: list[list[int]] = [[] for _ in norm]
    if total < k:
        return out
    data = np.frombuffer(
        "".join(norm).encode("utf-32-le"), dtype=np.uint32
    ).astype(np.uint64)
    base = np.uint64(131)
    mod = np.uint64((1 << 31) - 1)
    n = total - k + 1
    h = np.zeros(n, dtype=np.uint64)
    for j in range(k):  # k global passes — not k passes per document
        h = (h * base + data[j : j + n]) % mod
    j_sel = None
    if n > window:
        # rightmost min per sliding window WITHOUT sliding_window_view:
        # argmin over a reversed strided view is ~7x slower than these
        # `window` contiguous column passes (right-to-left, replace only
        # on strictly-smaller keeps the RIGHTMOST min on ties)
        n_win = n - window + 1
        j_sel = np.full(n_win, window - 1, dtype=np.int64)
        best = h[window - 1 : window - 1 + n_win].copy()
        for c in range(window - 2, -1, -1):
            v = h[c : c + n_win]
            better = v < best
            np.copyto(best, v, where=better)
            j_sel[better] = c
    for i, L in enumerate(lens):
        if L < k:
            continue
        s0 = int(offs[i])
        ni = int(L) - k + 1  # this doc's hash count
        if ni <= window:
            out[i] = [int(h[s0 : s0 + ni].min())]
            continue
        rows = np.arange(s0, s0 + ni - window + 1)
        pos = rows + j_sel[rows]
        keep = np.empty(len(pos), dtype=bool)
        keep[0] = True
        keep[1:] = pos[1:] != pos[:-1]
        out[i] = [int(x) for x in h[pos[keep]]]
    return out


def _q_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints as an Arrow-batched pandas UDF, emitted in
    driver-canonicalizable form (count + CSV string, no list column).
    The UDF is evaluated ONCE per row; n_fingerprints derives from the
    aliased column."""
    from pyspark.sql.types import ArrayType, LongType

    @F.pandas_udf(ArrayType(LongType()))
    def winnow(texts: pd.Series) -> pd.Series:
        return pd.Series(
            winnow_fingerprint_batch(texts.tolist()), index=texts.index
        )

    d = _docs(spark, sf_dir)
    return d.select("doc_id", winnow("text").alias("fps")).select(
        "doc_id",
        F.size("fps").alias("n_fingerprints"),
        F.array_join(F.transform("fps", lambda x: x.cast("string")), ",").alias(
            "fingerprints_csv"
        ),
    )


def _winnow_horner_sql(k: int = 8) -> str:
    """The k-gram Rabin-Karp hash as a nested Horner mod-expression over
    ord(code point) — the exact arithmetic _winnow_chunk and the per-doc
    reference tests/test_operators.py::winnow_fingerprint perform."""
    e = "(CAST(ord(substring(s, CAST(i AS INT), 1)) AS BIGINT) % 2147483647)"
    for j in range(1, k):
        e = (
            f"(({e} * 131 + CAST(ord(substring(s, CAST(i AS INT) + {j}, 1))"
            " AS BIGINT)) % 2147483647)"
        )
    return e


# trim with an explicit ASCII-whitespace charset (chr-built so the raw
# string stays readable): DuckDB's bare trim strips spaces only, so a
# text edged with \t/\n would keep a leading/trailing space after the
# \s+ -> ' ' regexp pass and shift every k-gram, while the Python
# normalizer (' '.join(text.split())) strips all whitespace — this keeps
# the two normalizations identical on any ASCII-whitespace text, not
# just the space-edged corpus (pinned by
# test_winnow_oracle_matches_on_edge_whitespace).
_SQL_WS = "' ' || chr(9) || chr(10) || chr(13) || chr(12) || chr(11)"

_SQL_WINNOW = rf"""
WITH norm AS (
  SELECT doc_id,
         regexp_replace(lower(trim(text, {_SQL_WS})), '\s+', ' ', 'g') AS s
  FROM documents),
hashed AS (
  SELECT doc_id,
    CASE WHEN length(s) < 8 THEN CAST([] AS BIGINT[])
    ELSE list_transform(range(1, length(s) - 6), i -> {_winnow_horner_sql()})
    END AS H
  FROM norm),
sel AS (
  SELECT doc_id,
    CASE WHEN len(H) = 0 THEN CAST([] AS BIGINT[])
         WHEN len(H) <= 6 THEN [list_min(H)]
         ELSE list_transform(
            list_sort(list_distinct(list_transform(
              range(0, len(H) - 5),
              w -> CAST(w AS INT) + 7 - list_position(
                     list_reverse(H[CAST(w AS INT)+1:CAST(w AS INT)+6]),
                     list_min(H[CAST(w AS INT)+1:CAST(w AS INT)+6]))))),
            p -> H[CAST(p AS INT)])
    END AS fps
  FROM hashed)
SELECT doc_id, len(fps) AS n_fingerprints,
       coalesce(array_to_string(list_transform(fps, x -> CAST(x AS VARCHAR)), ','),
                '') AS fingerprints_csv
FROM sel
"""


def _q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment by hashing the
    STABLE key (md5 of doc_id), never by position or rand(): the split
    is reproducible across runs, partitionings, and engines, and a doc
    keeps its split when the corpus grows — the property a training
    pipeline needs for leak-free incremental rebuilds. md5 exists in
    DuckDB too, so the oracle mirrors the hash arithmetic exactly."""
    bucket = _md5_bucket(F.col("doc_id").cast("string"))
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return _docs(spark, sf_dir).select(
        "doc_id", "source", split.alias("split")
    )


_SQL_SPLIT = """
SELECT doc_id, source,
       CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
            ELSE 'test' END AS split
FROM (SELECT doc_id, source,
             list_reduce(list_transform(range(1, 9),
               p -> CAST(strpos('0123456789abcdef',
                        substring(md5(CAST(doc_id AS VARCHAR)), CAST(p AS INT), 1)) - 1
                    AS BIGINT)),
               (a, x) -> a * 16 + x) % 100 AS b
      FROM documents)
"""


def pack_token_shards(d: DataFrame, budget: int = 50_000) -> DataFrame:
    """Token-budget shard packing: within each source (the natural
    shard boundary), docs in stable doc_id order accumulate whitespace
    token counts and spill to a new shard every ``budget`` tokens — the
    sequence-packing step that turns a corpus into bounded training
    shards.

    The running token total is :func:`plans.pipeline.grouped_running_sum`
    over source in doc_id order, so no task holds a whole source (a
    ``Window.partitionBy("source")`` would put each source in one task:
    with a handful of sources at 100 TB, a one-straggler plan): a window
    task holds one fixed-width doc_id bucket, at most 1,024 docs of a
    source for unique doc_ids, and building the plan launches no Spark
    job. A doc with a NULL doc_id or source gets no row."""
    n_tok = F.size(F.split(F.trim("text"), r"\s+"))
    docs = d.select("doc_id", "source", n_tok.alias("n_tokens"))
    total = grouped_running_sum(docs, "source", "doc_id", F.col("n_tokens"))
    return total.select(
        "doc_id",
        "source",
        "n_tokens",
        F.floor((F.col("running_sum") - F.col("n_tokens")) / F.lit(budget))
        .cast("int")
        .alias("shard_id"),
    )


def _q_pack_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pack_token_shards(_docs(spark, sf_dir))


_SQL_PACK = r"""
SELECT doc_id, source,
       len(string_split_regex(trim(text), '\s+')) AS n_tokens,
       CAST(floor((sum(len(string_split_regex(trim(text), '\s+')))
                     OVER (PARTITION BY source ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING)
                   - len(string_split_regex(trim(text), '\s+'))) / 50000)
            AS INT) AS shard_id
FROM documents
"""


def repetition_stats_batch(texts) -> list[list[float]]:
    r"""Per-document repetition metrics — the standard corpus quality
    filters (Rae et al. "Gopher" 2021 §A.1.1; FineWeb/RefinedWeb reuse
    them) that the length/punct/stopword `quality_score` family cannot
    express:

      n_lines           non-empty lines (space-trimmed, like the rest
                        of the engine's DuckDB-matched trims)
      dup_line_frac     fraction of line OCCURRENCES whose line value
                        appears >= 2 times in the doc
      top_bigram_frac   occurrences of the most frequent token bigram /
                        total bigrams (boilerplate detector)
      dup_trigram_frac  1 - distinct trigrams / total trigrams

    Computed per doc in one pass (Counter/set over the tokenized doc) —
    the 100-TB shape is a NARROW Arrow-batched map with ZERO shuffle and
    no cross-doc state; callers filter on thresholds downstream.
    Tokenization is dedup._jvm_tokens over the lowered text, which
    mirrors the DuckDB oracle exactly:
    string_split_regex(trim(lower(text)), '\s+') — space-only trim,
    lower first (same construction as _SQL_BIGRAMS). Values are RAW
    IEEE doubles (no rounding anywhere): Python round() is banker's
    while Spark/DuckDB round half-up, so rounding is where kernel and
    oracle would drift; identical int-ratio divisions are bit-equal."""
    from collections import Counter

    out: list[list[float]] = []
    for t in texts:
        raw = t or ""
        lines = [ln for ln in raw.split("\n") if ln.strip(" ") != ""]
        n_lines = len(lines)
        if n_lines:
            dup = sum(c for c in Counter(lines).values() if c >= 2)
            dlf = dup / n_lines
        else:
            dlf = 0.0
        toks = _jvm_tokens(raw.lower())
        n_bg = len(toks) - 1
        if n_bg >= 1:
            tbf = max(Counter(zip(toks, toks[1:])).values()) / n_bg
        else:
            tbf = 0.0
        n_tg = len(toks) - 2
        if n_tg >= 1:
            dtf = 1 - len(set(zip(toks, toks[1:], toks[2:]))) / n_tg
        else:
            dtf = 0.0
        out.append([float(n_lines), dlf, tbf, dtf])
    return out


def _q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import ArrayType, DoubleType

    @F.pandas_udf(ArrayType(DoubleType()))
    def rep(texts: pd.Series) -> pd.Series:
        return pd.Series(
            repetition_stats_batch(texts.tolist()), index=texts.index
        )

    d = _docs(spark, sf_dir)
    return d.select("doc_id", rep("text").alias("r")).select(
        "doc_id",
        F.col("r")[0].cast("int").alias("n_lines"),
        F.col("r")[1].alias("dup_line_frac"),
        F.col("r")[2].alias("top_bigram_frac"),
        F.col("r")[3].alias("dup_trigram_frac"),
    )


# line split on chr(10) with DuckDB's space-only default trim = the
# kernel's raw.split("\n") + strip(" ") filter; token n-grams join with
# ' ' — unambiguous because \s+-split tokens cannot contain spaces
_SQL_REPETITION = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
  FROM documents),
lns AS (
  SELECT doc_id, l
  FROM (SELECT doc_id, UNNEST(string_split(text, chr(10))) AS l
        FROM documents)
  WHERE trim(l) <> ''),
lstat AS (
  SELECT doc_id, sum(c) AS n_lines,
         coalesce(sum(c) FILTER (WHERE c >= 2), 0) AS dup_lines
  FROM (SELECT doc_id, l, count(*) AS c FROM lns GROUP BY doc_id, l) g
  GROUP BY doc_id),
bg AS (
  SELECT doc_id, t[i+1] || ' ' || t[i+2] AS b
  FROM toks, UNNEST(range(0, greatest(len(t) - 2, 0) + 1)) AS u(i)
  WHERE len(t) >= 2 AND i + 2 <= len(t)),
bstat AS (
  SELECT doc_id, max(c) AS top_c, sum(c) AS n_bg
  FROM (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY doc_id, b) g
  GROUP BY doc_id),
tg AS (
  SELECT doc_id, t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] AS tgm
  FROM toks, UNNEST(range(0, greatest(len(t) - 3, 0) + 1)) AS u(i)
  WHERE len(t) >= 3 AND i + 3 <= len(t)),
tstat AS (
  SELECT doc_id, count(DISTINCT tgm) AS d_tg, count(*) AS n_tg
  FROM tg GROUP BY doc_id)
SELECT d.doc_id,
       CAST(coalesce(l.n_lines, 0) AS INT) AS n_lines,
       coalesce(CAST(l.dup_lines AS DOUBLE) / l.n_lines, 0.0)
         AS dup_line_frac,
       coalesce(CAST(b.top_c AS DOUBLE) / b.n_bg, 0.0) AS top_bigram_frac,
       coalesce(1 - CAST(t.d_tg AS DOUBLE) / t.n_tg, 0.0)
         AS dup_trigram_frac
FROM documents d
LEFT JOIN lstat l USING (doc_id)
LEFT JOIN bstat b USING (doc_id)
LEFT JOIN tstat t USING (doc_id)
"""


def _q_sample_by_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-stratified deterministic downsampling — the curation step
    between quality scoring and train/test splitting (FineWeb-Edu-style
    quality-weighted corpus shaping): high-quality docs keep rate 100%,
    mid 50%, low 10%. The keep decision hashes a SALTED stable key
    (md5('sample:' || doc_id)) so it is reproducible across runs,
    partitionings, and engines, a doc keeps its fate as the corpus
    grows, AND the sampling hash is independent of train_test_split's
    unsalted md5 — sampling does not bias the split. Strata come from
    _quality_terms, the expressions quality_score emits (rounded
    stop_ratio, token bounds), so the two queries agree on what
    "quality" means. Pure JVM, zero
    shuffle, one pass."""
    d = _docs(spark, sf_dir)
    _, stop_ratio, ok = _quality_terms()
    stratum = (
        F.when(ok & (stop_ratio <= F.lit(0.3)), "high")
        .when(ok, "mid")
        .otherwise("low")
    )
    rate = (
        F.when(F.col("stratum") == "high", 100)
        .when(F.col("stratum") == "mid", 50)
        .otherwise(10)
    )
    bucket = _md5_bucket(F.concat(F.lit("sample:"), F.col("doc_id").cast("string")))
    return (
        d.select(
            "doc_id",
            stratum.alias("stratum"),
            bucket.alias("sample_bucket"),
        )
        .where(F.col("sample_bucket") < rate)
    )


_SQL_SAMPLE = """
WITH t AS (
  SELECT doc_id,
         string_split_regex(trim(lower(text)), '\\s+') AS toks
  FROM documents),
q AS (
  SELECT doc_id, len(toks) AS n_tok,
         round(CAST(len(list_filter(toks,
               w -> w IN ('the','a','of','and','to','in','is')))
               AS DOUBLE) / len(toks), 4) AS sr
  FROM t),
s AS (
  SELECT doc_id,
         CASE WHEN n_tok >= 10 AND n_tok <= 2000 AND sr <= 0.6
              THEN CASE WHEN sr <= 0.3 THEN 'high' ELSE 'mid' END
              ELSE 'low' END AS stratum,
         list_reduce(list_transform(range(1, 9),
           p -> CAST(strpos('0123456789abcdef',
                    substring(md5('sample:' || CAST(doc_id AS VARCHAR)),
                              CAST(p AS INT), 1)) - 1
                AS BIGINT)),
           (a, x) -> a * 16 + x) % 100 AS sample_bucket
  FROM q)
SELECT doc_id, stratum, sample_bucket
FROM s
WHERE sample_bucket < CASE stratum WHEN 'high' THEN 100
                                   WHEN 'mid' THEN 50 ELSE 10 END
"""


# PII redaction patterns, applied in order. RE2-safe subset on purpose
# (character classes, bounded quantifiers, groups — no lookaround or
# backreferences): the Spark side runs Java regex, the DuckDB oracle
# RE2, and both dialects agree exactly on this subset with identical
# leftmost non-overlapping match semantics.
PII_PATTERNS = (
    ("email", r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}", "<EMAIL>"),
    ("ip", r"([0-9]{1,3}\.){3}[0-9]{1,3}", "<IP>"),
    ("phone", r"[0-9]{2,3}-[0-9]{3}-[0-9]{3,4}", "<PHONE>"),
)


def scrub_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """PII redaction — the standard pre-release scrub pass (emails, IPs,
    phone-shaped numbers -> typed placeholders) every corpus pipeline
    runs before training or publication. Pure JVM expression algebra:
    one regexp_count per pattern plus one nested regexp_replace chain —
    zero Python, zero shuffle, whole-stage codegen keeps it inside the
    scan's stage. Patterns apply in PII_PATTERNS order, and each
    pattern's count is taken on the PROGRESSIVELY-scrubbed text (the
    same string the replace sees), so sum(n_*) equals the number of
    redactions actually performed — a substring matching two patterns
    is counted only by the one that redacted it (counting on the raw
    text would over-report)."""
    out = df
    scrubbed = F.col(text_col)
    for name, pat, repl in PII_PATTERNS:
        out = out.withColumn(f"n_{name}s", F.regexp_count(scrubbed, F.lit(pat)))
        scrubbed = F.regexp_replace(scrubbed, pat, repl)
    return out.withColumn("scrubbed", scrubbed)


def _q_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """scrub_pii over customer-derived contact text. The synthetic
    tables carry no real PII, so the query PLANTS it deterministically
    from c_custkey (same philosophy as dedup_corpus's planted twins:
    redaction recall is measurable, not vacuously zero) — one email,
    one IP, and one dashed phone per row; the oracle mirrors the
    construction and the scrub."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    k = F.col("c_custkey")
    text = F.concat(
        F.col("c_name"), F.lit(" contact user"), k.cast("string"),
        F.lit("@example.com tel "),
        (k % 90 + 10).cast("string"), F.lit("-"),
        (k % 900 + 100).cast("string"), F.lit("-"),
        (k % 9000 + 1000).cast("string"),
        F.lit(" from 10."), (k % 256).cast("string"),
        F.lit("."), (k % 200).cast("string"),
        F.lit("."), (k % 250).cast("string"),
        F.lit(" segment "), F.col("c_mktsegment"),
    )
    base = c.select(k.alias("doc_id"), text.alias("text"))
    return scrub_pii(base).select(
        "doc_id", "n_emails", "n_ips", "n_phones", "scrubbed"
    )


_SQL_SCRUB_PII = r"""
WITH base AS (
  SELECT c_custkey AS doc_id,
         c_name || ' contact user' || c_custkey ||
         '@example.com tel ' ||
         (c_custkey % 90 + 10) || '-' ||
         (c_custkey % 900 + 100) || '-' ||
         (c_custkey % 9000 + 1000) ||
         ' from 10.' || (c_custkey % 256) || '.' ||
         (c_custkey % 200) || '.' || (c_custkey % 250) ||
         ' segment ' || c_mktsegment AS text
  FROM customer),
-- counts mirror the Spark side's progressive semantics: each pattern
-- counted on the text AFTER the preceding patterns were redacted
s1 AS (
  SELECT doc_id, text,
         regexp_replace(text,
           '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}',
           '<EMAIL>', 'g') AS after_email
  FROM base),
s2 AS (
  SELECT doc_id, text, after_email,
         regexp_replace(after_email,
           '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g') AS after_ip
  FROM s1)
SELECT doc_id,
       len(regexp_extract_all(text,
           '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS n_emails,
       len(regexp_extract_all(after_email,
           '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS n_ips,
       len(regexp_extract_all(after_ip,
           '[0-9]{2,3}-[0-9]{3}-[0-9]{3,4}')) AS n_phones,
       regexp_replace(after_ip,
         '[0-9]{2,3}-[0-9]{3}-[0-9]{3,4}', '<PHONE>', 'g') AS scrubbed
FROM s2
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "text_token_stats": _q_token_stats,
        "text_quality_score": _q_quality_score,
        "text_lang_guess": _q_lang_guess,
        "text_fingerprint": _q_fingerprint,
        "text_winnow_fingerprint": _q_winnow,
        "text_train_test_split": _q_train_test_split,
        "text_pack_token_shards": _q_pack_token_shards,
        "text_repetition_stats": _q_repetition_stats,
        "text_scrub_pii": _q_scrub_pii,
        "text_sample_by_quality": _q_sample_by_quality,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "text_token_stats": _SQL_TOKEN_STATS,
        "text_quality_score": _SQL_QUALITY,
        "text_lang_guess": _SQL_LANG,
        "text_fingerprint": _SQL_FINGERPRINT,
        "text_winnow_fingerprint": _SQL_WINNOW,
        "text_train_test_split": _SQL_SPLIT,
        "text_pack_token_shards": _SQL_PACK,
        "text_repetition_stats": _SQL_REPETITION,
        "text_scrub_pii": _SQL_SCRUB_PII,
        "text_sample_by_quality": _SQL_SAMPLE,
    }
