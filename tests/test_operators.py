"""Operator tests: dedup (exact, minhash-LSH recall), simhash,
similarity (IVF recall vs brute force), multimodal plumbing.
All at sf0.001 for speed; exact SQL-parity is covered by
tools/check_queries.py (driver-mimic) at sf0.01."""

import contextlib
import inspect
import itertools

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"
SF01 = SF.replace("sf0.001", "sf0.01")  # the scale the oracle rows run at


def test_exact_dedup_groups(spark):
    from opencv_table_extraction_spark.operators.dedup import exact_dedup

    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    corpus = d.unionByName(
        d.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    )
    out = exact_dedup(corpus)
    rows = out.collect()
    n_docs = d.count()
    assert len(rows) == n_docs           # one group per distinct text
    assert all(r["n_copies"] == 2 for r in rows)
    assert all(r["keeper_id"] < 1_000_000 for r in rows)  # keeper = min id


def test_minhash_lsh_finds_all_near_dups(spark):
    """Every doc's 90%-truncation must surface as a candidate pair and
    survive exact-Jaccard verification (recall check: LSH with 16 bands
    x 2 rows has ~0.99+ recall at jaccard ~0.87)."""
    from opencv_table_extraction_spark.operators.dedup import (
        dedup_corpus,
        minhash_lsh_pairs_with_drops,
    )

    corpus = dedup_corpus(spark, SF)
    pairs = {(r["a_id"], r["b_id"]): r["jaccard"]
             for r in minhash_lsh_pairs_with_drops(corpus)[0].collect()}
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    planted = [(i, i + 1_000_000) for i in range(n_docs)]
    found = [p for p in planted if p in pairs]
    assert len(found) >= 0.98 * n_docs
    assert all(pairs[p] >= 0.5 for p in found)


def test_containment_finds_planted_subsumptions(spark):
    """Asymmetric containment: every truncated twin is a SUBSET of its
    base doc's shingles, so (twin, base) must surface at containment
    1.0 — the doc-inside-doc case symmetric Jaccard under-scores. The
    reverse (base, twin) direction sits at ~0.9 and also clears t=0.8.
    Also pins the ordered-pair contract (a_id = contained side) and the
    no-drops exactness guarantee on this corpus."""
    from opencv_table_extraction_spark.operators.dedup import (
        containment_pairs_with_drops,
        dedup_corpus,
    )

    corpus = dedup_corpus(spark, SF)
    pairs, dropped = containment_pairs_with_drops(corpus)
    assert dropped.count() == 0  # exactness holds: nothing excluded
    got = {(r["a_id"], r["b_id"]): r["containment"] for r in pairs.collect()}
    rows = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    ).collect()

    def grams(text):
        toks = text.strip(" ").split()
        return {" ".join(toks[i : i + 3]) for i in range(max(len(toks) - 2, 1))}

    for r in rows:
        i = r["doc_id"]
        assert got.get((i + 1_000_000, i)) == 1.0  # twin fully in base
        # reverse direction (base in twin): tokens drop 10% but SHORT
        # docs can lose >20% of their distinct shingles, so compute the
        # truth per doc and require exact agreement either way
        toks = r["text"].strip(" ").split()
        twin = grams(" ".join(toks[: int(len(toks) * 0.9)]))
        base = grams(r["text"])
        truth = len(base & twin) / len(base)
        if truth >= 0.8:
            assert (i, i + 1_000_000) in got
        else:
            assert (i, i + 1_000_000) not in got


def test_minhash_band_scaling_keeps_two_row_bands(spark):
    """Both recall profiles band 2-row signatures: "high" doubles the
    hashes with the bands, instead of degrading to 32 single-row bands
    (the r6 sf1-sweep finding: 32x1 is perfect-recall but ~8x wall
    because every J-similar pair becomes a candidate). Pin: band rows
    per doc = n_bands in both profiles, and the "high" pair set is a
    superset of the "standard" set on the test corpus (higher recall,
    identical verify threshold)."""
    from opencv_table_extraction_spark.operators.dedup import (
        RECALL_PROFILES,
        dedup_corpus,
        minhash_band_rows,
        minhash_lsh_pairs_with_drops,
    )

    corpus = dedup_corpus(spark, SF)
    docs = corpus.select("doc_id", "text").limit(5)
    for nb, nh in RECALL_PROFILES.values():
        assert nh == 2 * nb
        per_doc = (
            minhash_band_rows(docs, n_hashes=nh, n_bands=nb)
            .groupBy("doc_id").count().collect()
        )
        assert per_doc and all(r["count"] == nb for r in per_doc)

    p16 = {(r["a_id"], r["b_id"]) for r in
           minhash_lsh_pairs_with_drops(corpus, recall="standard")[0].collect()}
    p32 = {(r["a_id"], r["b_id"]) for r in
           minhash_lsh_pairs_with_drops(corpus, recall="high")[0].collect()}
    assert p16 <= p32


def test_lsh_recall_profiles(spark):
    """recall="standard"|"high" is the one banding option (r6 verdict
    #5): the profiles are exactly 16x2 and 32x2, the default is
    "standard", an unknown profile fails fast, and the crosscheck
    accepts the profile so the high-profile generator can be measured
    against exact PPJoin truth."""
    from opencv_table_extraction_spark.operators.dedup import (
        RECALL_PROFILES,
        dedup_corpus,
        minhash_lsh_pairs_with_drops,
        pairs_crosscheck,
    )

    assert RECALL_PROFILES == {"standard": (16, 32), "high": (32, 64)}
    corpus = dedup_corpus(spark, SF)
    with pytest.raises(ValueError, match="unknown recall profile"):
        minhash_lsh_pairs_with_drops(corpus, recall="maximum")

    hi = {(r["a_id"], r["b_id"]) for r in
          minhash_lsh_pairs_with_drops(corpus, recall="high")[0].collect()}
    std = {(r["a_id"], r["b_id"]) for r in
           minhash_lsh_pairs_with_drops(corpus, recall="standard")[0].collect()}
    assert std <= hi
    default = inspect.signature(minhash_lsh_pairs_with_drops).parameters["recall"].default
    assert default == "standard"

    r = pairs_crosscheck(corpus, recall="high").collect()[0]
    assert r["n_symmetric_diff"] == 0
    assert r["n_dropped_lsh"] == 0 and r["n_dropped_prefix"] == 0


def test_minhash_family_collision_rate_tracks_jaccard():
    """Statistical pin on the hash family: (1) per-hash collision rate
    = shingle Jaccard on real doc pairs (Broder unbiasedness), and
    (2) — the part that actually discriminates — CROSS-HASH
    INDEPENDENCE: for fixed values u != v, the indicators
    [hash_i(u) < hash_i(v)] across the 32 functions must look like 32
    fair independent coins, i.e. extreme win fractions (<=4/32 or
    >=28/32) occur at Binomial(32, 1/2) tail rates (~2e-6 per side).
    The r6 sf1 sweep found the previous linear-Weyl affine family
    violating (2): its win sequence is a correlated rotation, measured
    1.1% extreme value pairs on this exact fixture — 5,000x over
    binomial — which is precisely how one unlucky non-shared shingle
    wins the min in nearly every function and costs a J~0.85 pair
    (9/102,615 true pairs missed). The old family PASSES check (1) on
    average-case docs, so (2) is the regression gate. Deterministic
    given the fixed rng seeds and the fixed keyed-splitmix64 family —
    a regression flips it red, not flaky. Raw per-hash signatures are
    recovered by running the band kernel with n_bands == n_hashes
    (1-row bands fold to the signature itself). No Spark session
    needed: the kernel is a plain Arrow-batch generator."""
    import numpy as np
    import pyarrow as pa

    from opencv_table_extraction_spark.operators.dedup import (
        _jvm_tokens,
        _minhash_band_batches,
    )

    rng = np.random.default_rng(20260817)
    vocab = [f"w{i:03d}" for i in range(400)]
    n_pairs, doc_len, n_h = 60, 80, 32
    docs, pair_js = [], []
    for p in range(n_pairs):
        toks = [str(w) for w in rng.choice(vocab, size=doc_len)]
        cut = int(rng.integers(4, 41))  # tail-truncate -> J ~ 0.5-0.95
        a, b = " ".join(toks), " ".join(toks[: doc_len - cut])
        docs += [(2 * p, a), (2 * p + 1, b)]

        def shingles(text):
            ts = _jvm_tokens(text)
            return {tuple(ts[i : i + 3]) for i in range(len(ts) - 2)}

        sa, sb = shingles(a), shingles(b)
        pair_js.append(len(sa & sb) / len(sa | sb))

    batch = pa.RecordBatch.from_arrays(
        [
            pa.array([d for d, _ in docs], type=pa.int64()),
            pa.array([t for _, t in docs]),
        ],
        names=["doc_id", "text"],
    )
    sigs: dict[int, list[int]] = {}
    for out in _minhash_band_batches([batch], n_hashes=n_h, n_bands=n_h):
        d = out.to_pydict()
        for doc, sig in zip(d["doc_id"], d["band_hash"]):
            sigs.setdefault(doc, []).append(sig)

    gaps = []
    for p, j in enumerate(pair_js):
        a_sig = np.asarray(sigs[2 * p])
        b_sig = np.asarray(sigs[2 * p + 1])
        assert len(a_sig) == n_h and len(b_sig) == n_h
        frac = float((a_sig == b_sig).mean())
        gaps.append(frac - j)
        # the r6 defect shape: a high-J pair almost never colliding.
        # Binomial(32, 0.8) puts <=16 collisions at ~2e-4 — and the
        # check is deterministic for this fixed seed + family.
        if j >= 0.8:
            assert frac > 0.5, (j, frac)
    # unbiasedness across the J~0.5-0.95 sweep: |mean(frac - J)| over
    # 60 pairs x 32 hashes (se ~ 0.011) must sit near zero
    assert abs(float(np.mean(gaps))) < 0.05, np.mean(gaps)

    # (2) cross-hash independence on raw 64-bit values — the
    # discriminating check. Recompute the family exactly as the kernel
    # does (keys = splitmix64(splitmix64(i+1))) and count value pairs
    # whose win fraction lands in the <=4/32 or >=28/32 tails.
    def _splitmix64(z):
        z = z + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))

    with np.errstate(over="ignore"):
        keys = _splitmix64(
            _splitmix64(np.arange(1, n_h + 1, dtype=np.uint64))
        ).reshape(-1, 1)
        rng2 = np.random.default_rng(7)
        u = rng2.integers(0, 2**63, size=4000, dtype=np.uint64)
        v = rng2.integers(0, 2**63, size=4000, dtype=np.uint64)
        wins = (_splitmix64(u[None, :] ^ keys)
                < _splitmix64(v[None, :] ^ keys)).mean(axis=0)
    # fair-coin dispersion: sd ~ sqrt(1/(4*32)) = 0.088
    assert abs(float(wins.std()) - 0.088) < 0.02, wins.std()
    # binomial tails put ~2e-6 mass per side -> expect 0 of 4,000;
    # the Weyl family measured 43/4,000 (1.1%) on these exact draws
    n_extreme = int(((wins <= 4 / 32) | (wins >= 28 / 32)).sum())
    assert n_extreme == 0, n_extreme


def _minhash_band_reference(batches, n_hashes, n_bands):
    """The band kernel one doc at a time: one hash_array call, one
    (n_hashes, shingles) matrix and one band fold per doc."""
    import numpy as np
    import pyarrow as pa
    from pandas.util import hash_array

    from opencv_table_extraction_spark.operators.dedup import _BAND_SCHEMA, _jvm_tokens

    def _splitmix64(z):
        z = z + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))

    with np.errstate(over="ignore"):
        K = _splitmix64(
            _splitmix64(np.arange(1, n_hashes + 1, dtype=np.uint64))
        ).reshape(-1, 1)
    C1 = np.uint64(0x9E3779B97F4A7C15)
    C2 = np.uint64(0xC2B2AE3D27D4EB4F)
    C3 = np.uint64(0x165667B19E3779F9)
    rows_per_band = n_hashes // n_bands
    for batch in batches:
        doc_ids, bhs = [], []
        for doc_id, text in zip(batch.column("doc_id").to_pylist(),
                                batch.column("text").to_pylist()):
            th = hash_array(np.asarray(_jvm_tokens(text), dtype=object))
            if len(th) < 3:  # one partial shingle, zero-padded
                th = np.pad(th, (0, 3 - len(th)))
            with np.errstate(over="ignore"):
                sh = (th[:-2] * C1) ^ (th[1:-1] * C2) ^ (th[2:] * C3)
                sig = _splitmix64(sh[None, :] ^ K).min(axis=1)
                sig = sig.reshape(n_bands, rows_per_band)
                bh = np.zeros(n_bands, dtype=np.uint64)
                for c in range(rows_per_band):
                    bh = bh * np.uint64(1000003) + sig[:, c]
            doc_ids += [doc_id] * n_bands
            bhs.append(bh)
        yield pa.RecordBatch.from_arrays(
            [pa.array(doc_ids, pa.int64()),
             pa.array(list(range(n_bands)) * batch.num_rows, pa.int32()),
             pa.array(np.concatenate(bhs or [np.zeros(0, np.uint64)]).astype(np.int64))],
            schema=_BAND_SCHEMA,
        )


def test_minhash_band_kernel_matches_per_doc_reference():
    """The batch-vectorized band kernel (one token hash over the whole
    batch, one reduceat per key) gives the per-doc reference's rows
    bit for bit: on NULL, empty, whitespace-only, 1- and 2-token,
    \\x0b-edged and non-ASCII texts, at both recall profiles and with
    1-row bands, on an empty batch and on a batch sliced at an offset
    (the Arrow columns of a slice do not start at buffer offset 0)."""
    import pyarrow as pa

    from opencv_table_extraction_spark.operators.dedup import (
        RECALL_PROFILES,
        _minhash_band_batches,
    )

    texts = [
        None, "", "one", "two words", "   ", " \t\n ", "\x0ba b c\x0b",
        "\x0b", "naïve café — 東京 ẞtraße", "x y z", "a b c d e f g",
        "the quick brown fox jumps over the lazy dog " * 5,
        "a  b\tc\nd\x0be\ff\rg", "é", "non breaking space",
    ]
    texts += [f"doc {i} " + "w " * (i % 7) for i in range(40)]
    batch = pa.RecordBatch.from_arrays(
        [pa.array(range(100, 100 + len(texts)), pa.int64()), pa.array(texts, pa.string())],
        names=["doc_id", "text"],
    )
    cases = {
        "whole": [batch],
        "empty": [batch.slice(0, 0)],
        "sliced": [batch.slice(3, 17), batch.slice(0, 0), batch.slice(20)],
    }
    shapes = [*RECALL_PROFILES.values(), (32, 32)]
    for nb, nh in shapes:
        for name, batches in cases.items():
            got = list(_minhash_band_batches(batches, n_hashes=nh, n_bands=nb))
            want = list(_minhash_band_reference(batches, nh, nb))
            assert len(got) == len(want), (name, nb, nh)
            for g, w in zip(got, want):
                assert g.equals(w), (name, nb, nh)
            assert sum(b.num_rows for b in got) == nb * sum(b.num_rows for b in batches)


def test_simhash_deterministic_and_discriminative(spark):
    from opencv_table_extraction_spark.operators.dedup import simhash_rows

    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    h1 = {r["doc_id"]: r["sh"] for r in simhash_rows(d).collect()}
    h2 = {r["doc_id"]: r["sh"] for r in simhash_rows(d).collect()}
    assert h1 == h2
    assert all(0 <= v < (1 << 60) for v in h1.values())  # 60-bit, positive
    # near-identical docs must land at small hamming distance,
    # unrelated docs far: check doc vs its truncation
    rows = d.orderBy("doc_id").limit(5).collect()
    for r in rows:
        toks = r["text"].split()
        trunc = " ".join(toks[: int(len(toks) * 0.9)])
        a = spark.createDataFrame([(0, r["text"]), (1, trunc)], ["doc_id", "text"])
        h = {x["doc_id"]: x["sh"] for x in simhash_rows(a).collect()}
        ha, hb = h[0], h[1]
        ham = bin(ha ^ hb).count("1")
        assert ham <= 14, (r["doc_id"], ham)


def test_simhash_pairs_find_planted_near_dups(spark):
    from opencv_table_extraction_spark.operators.dedup import (
        dedup_corpus,
        simhash_pairs_with_drops,
    )

    # max_hamming=14 = n_chunks-1: the pigeonhole recall guarantee bound
    pairs = {(r["a_id"], r["b_id"]): r["hamming"] for r in simhash_pairs_with_drops(
        dedup_corpus(spark, SF), max_hamming=14)[0].collect()}
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    planted = [(i, i + 1_000_000) for i in range(n_docs)]
    found = [p for p in planted if p in pairs]
    # 90%-token-overlap docs land within small hamming of each other
    assert len(found) >= 0.9 * n_docs
    assert all(h <= 14 for h in pairs.values())


def test_jaccard_block_guard_raises_on_hot_block(spark):
    """The brute-force block join must fail fast on a cartesian-bomb
    block instead of silently launching a quadratic job."""
    import pytest as _pytest

    from opencv_table_extraction_spark.operators.dedup import jaccard_pairs

    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    hot = d.withColumn("source", F.lit("one-hot-shard"))
    with _pytest.raises(ValueError, match="one-hot-shard"):
        jaccard_pairs(hot, max_block=50)
    # under the cap it runs
    ok = d.limit(40).withColumn("source", F.lit("one-hot-shard"))
    jaccard_pairs(ok, max_block=50).count()


def test_jaccard_prefix_join_exact_vs_bruteforce(spark):
    """Prefix filtering must find EXACTLY the pairs the quadratic
    baseline finds at the same threshold (the no-false-negatives
    theorem, end to end)."""
    from opencv_table_extraction_spark.operators.dedup import (
        dedup_corpus,
        jaccard_pairs,
        jaccard_prefix_pairs_with_drops,
    )

    corpus = dedup_corpus(spark, SF).withColumn("source", F.lit("all"))
    brute = {(r["a_id"], r["b_id"]): r["jaccard"]
             for r in jaccard_pairs(corpus, threshold=0.5).collect()}
    pref = {(r["a_id"], r["b_id"]): r["jaccard"] for r in
            jaccard_prefix_pairs_with_drops(corpus, threshold=0.5)[0].collect()}
    assert set(pref) == set(brute)
    assert all(abs(pref[k] - brute[k]) < 1e-9 for k in pref)


def test_embedding_cosine_pairs_finds_planted(spark):
    """SRP-LSH must surface the planted (i, i+1M) truncation pairs whose
    exact cosine clears the threshold — candidate recall through the
    16x4-bit pigeonhole banding, verified end to end."""
    from opencv_table_extraction_spark.operators.dedup import (
        EMB_COS_THRESHOLD,
        embedding_corpus,
        embedding_cosine_pairs_with_drops,
    )
    from opencv_table_extraction_spark.operators.similarity import cosine

    corpus = embedding_corpus(spark, SF)
    pairs = {(r["a_id"], r["b_id"]): r["cos"]
             for r in embedding_cosine_pairs_with_drops(corpus)[0].collect()}
    # ground truth for the planted family only (cheap: n rows, not n^2)
    a = corpus.where(F.col("vec_id") < 1_000_000).select(
        F.col("vec_id").alias("a_id"), F.col("v").alias("a_v"))
    b = corpus.where(F.col("vec_id") >= 1_000_000).select(
        (F.col("vec_id") - 1_000_000).alias("a_id"), F.col("v").alias("b_v"))
    truth = {
        r["a_id"]: r["c"]
        for r in a.join(b, "a_id")
        .select("a_id", F.round(cosine(F.col("a_v"), F.col("b_v")), 4).alias("c"))
        .collect()
    }
    expected = {i for i, c in truth.items() if c >= EMB_COS_THRESHOLD}
    assert expected, "corpus should plant qualifying pairs"
    found = {i for (i, j) in pairs if j == i + 1_000_000}
    assert expected <= found
    assert all(pairs[(i, i + 1_000_000)] == truth[i] for i in expected)


def test_multimodal_oracle_ascii_assumption(spark):
    """The frame/meta DuckDB oracles slice characters and pin the
    octet-stream kind; both are valid only while the corpus is pure
    ASCII with no sniffable magic prefix — pin that here."""
    from opencv_table_extraction_spark.operators.multimodal import sniff_kind

    d = spark.read.parquet(f"{SF}/documents.parquet")
    non_ascii = d.where(
        F.octet_length(F.encode("text", "utf-8")) != F.length("text")
    ).count()
    assert non_ascii == 0
    kinds = {sniff_kind(r["text"].encode()) for r in d.select("text").collect()}
    assert kinds == {"application/octet-stream"}


def test_recognizer_seam_is_pluggable():
    from opencv_table_extraction_spark.kernel.router import Recognizer, transcribe

    class Upper(Recognizer):
        def handwriting(self, t):
            return t.upper()

        def ocr(self, t):
            return t.lower()

    assert transcribe("handwriting", "MiXeD", Upper()) == "MIXED"
    assert transcribe("ocr", "MiXeD", Upper()) == "mixed"
    assert transcribe("ocr", " pad ") == "pad"  # default stub


def test_ivf_search_recall_vs_bruteforce(spark):
    """A single query is the one-row frame of ivf_batch_search."""
    from opencv_table_extraction_spark.operators.similarity import (
        QUERY_VEC_ID,
        _q_embedding_topk,
        _query_frame,
        assigned_store,
        ivf_batch_search,
        kmeans_centroids,
    )

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = kmeans_centroids(e)
    q = _query_frame(e, [QUERY_VEC_ID])
    res = ivf_batch_search(assigned_store(e, cents), cents, q, n_probe=4)
    brute = [r["vec_id"] for r in _q_embedding_topk(spark, SF).collect()]
    approx = [r["vec_id"] for r in res.collect()]
    overlap = len(set(brute) & set(approx)) / len(brute)
    assert overlap >= 0.5, (brute, approx)  # n_probe=4 of 8 buckets


def test_multimodal_meta_and_stub(spark):
    from opencv_table_extraction_spark.operators.multimodal import (
        _q_multimodal_meta,
        sniff_kind,
    )

    rows = _q_multimodal_meta(spark, SF).collect()
    assert all(r["n_bytes"] > 0 for r in rows)
    assert all(r["kind"] == "application/octet-stream" for r in rows)
    assert sniff_kind(b"\x89PNG\r\n") == "image/png"
    assert sniff_kind(b"\xff\xd8\xff\xe0") == "image/jpeg"


def test_hot_bucket_cap_drops_degenerate_family(spark):
    """One degenerate key family (N identical texts) must not reach pair
    enumeration: the bucket-pair kernel drops each of its buckets once
    the sorted key run passes the cap, holding at most max_bucket of its
    rows, the job completes, and the drop is surfaced on the _with_drops
    form's dropped frame (VERDICT r2 #2)."""
    from opencv_table_extraction_spark.operators.dedup import (
        assert_no_drops,
        containment_pairs_with_drops,
        jaccard_prefix_pairs_with_drops,
        minhash_lsh_pairs_with_drops,
        simhash_pairs_with_drops,
    )

    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    base = d.limit(30)
    clone_text = d.orderBy("doc_id").limit(1).collect()[0]["text"]
    clones = spark.range(30).select(
        (F.col("id") + 2_000_000).alias("doc_id"), F.lit(clone_text).alias("text")
    )
    corpus = base.unionByName(clones)

    capped, cdrops = minhash_lsh_pairs_with_drops(corpus, max_bucket=10)
    pairs = {(r["a_id"], r["b_id"]) for r in capped.collect()}
    # the clone family's buckets (31 ids each) were excluded wholesale
    assert not any(a >= 2_000_000 and b >= 2_000_000 for a, b in pairs)
    drops = cdrops.collect()
    assert drops and all(r["n"] > 10 for r in drops)

    # under the default cap the same family enumerates normally
    full, fdrops = minhash_lsh_pairs_with_drops(corpus)
    full_pairs = {(r["a_id"], r["b_id"]) for r in full.collect()}
    assert (2_000_000, 2_000_001) in full_pairs
    assert fdrops.count() == 0

    # prefix, containment and simhash: same contract (clone docs share
    # every shingle and every simhash chunk)
    for gen in (jaccard_prefix_pairs_with_drops, containment_pairs_with_drops,
                simhash_pairs_with_drops):
        gcapped, gdrops = gen(corpus, max_bucket=10)
        gpairs = {(r["a_id"], r["b_id"]) for r in gcapped.collect()}
        assert not any(a >= 2_000_000 and b >= 2_000_000 for a, b in gpairs)
        assert gdrops.count() > 0, gen.__name__
    # the exactness-mode guard fails fast on the capped simhash drops
    with pytest.raises(RuntimeError, match="hot-bucket cap dropped"):
        assert_no_drops(gdrops, "capped simhash")


def test_srp_bucket_cap_drops_degenerate_family(spark):
    """Same cap contract for the SRP embedding dedup: N copies of one
    vector collide in all 16 chunks; capped they are excluded and
    reported, never pair-expanded."""
    from opencv_table_extraction_spark.operators.dedup import (
        embedding_corpus,
        embedding_cosine_pairs_with_drops,
    )

    corpus = embedding_corpus(spark, SF).where(F.col("vec_id") < 30)
    v0 = corpus.orderBy("vec_id").limit(1).collect()[0]["v"]
    clones = spark.range(30).select(
        (F.col("id") + 2_000_000).alias("vec_id"),
        F.array(*[F.lit(float(x)) for x in v0]).alias("v"),
    )
    big = corpus.unionByName(clones)
    capped, cdrops = embedding_cosine_pairs_with_drops(big, max_bucket=10)
    pairs = {(r["a_id"], r["b_id"]) for r in capped.collect()}
    assert not any(a >= 2_000_000 and b >= 2_000_000 for a, b in pairs)
    assert cdrops.count() > 0


def bucket_ids_reference(rows, keys, collect_expr, max_bucket):
    """The bucket builder the bucket-pair kernel replaced, kept as its
    reference: a COUNT window over the key partition filters the rows
    to buckets of 1 < n <= max_bucket before collect_list builds each
    bucket's id array. Returns (buckets, dropped)."""
    from pyspark.sql import Window

    n = F.count("*").over(Window.partitionBy(*keys))
    bounded = (
        rows.repartition(*[F.col(k) for k in keys])
        .withColumn("_n", n)
        .where((F.col("_n") > 1) & (F.col("_n") <= max_bucket))
    )
    buckets = bounded.groupBy(*keys).agg(F.collect_list(collect_expr).alias("ids"))
    dropped = (
        rows.groupBy(*keys).agg(F.count("*").alias("n")).where(F.col("n") > max_bucket)
    )
    return buckets, dropped


def reference_bucket_candidates(rows, keys, id_col, max_bucket):
    """(pairs, dropped) of the reference: bucket_ids_reference plus
    _bucket_pairs over canonical (least, greatest) id pairs."""
    from opencv_table_extraction_spark.operators.dedup import _bucket_pairs

    buckets, dropped = bucket_ids_reference(rows, keys, F.col(id_col), max_bucket)
    pairs = _bucket_pairs(buckets, lambda x, y: F.struct(
        F.least(x, y).alias("a_id"), F.greatest(x, y).alias("b_id")))
    return pairs, dropped


def test_bucket_pair_kernel_matches_reference(spark):
    """_bucket_candidates (hash exchange on the key, sort, one Arrow
    kernel over each key run) against the count-window + collect_list
    reference: equal (a_id, b_id) sets, no repeated pair, and equal
    dropped rows, at max_bucket 5 on buckets of exactly 5 and 6 rows,
    a duplicate id in one bucket (the pair (x, x) comes out of both), a
    24-row bucket past the cap, singletons and random buckets. Three
    rows per Arrow batch make runs span batch boundaries, and 16
    uncoalesced partitions over a few keys leave most of them empty. A
    payload column rides along: a_sh / b_sh are a_id's / b_id's."""
    import random

    from opencv_table_extraction_spark.operators.dedup import _bucket_candidates

    mb = 5
    rows = [(0, 1, i) for i in range(5)]                # exactly max_bucket
    rows += [(0, 2, 10 + i) for i in range(6)]         # max_bucket + 1
    rows += [(1, 2, 7), (1, 2, 7), (1, 2, 8)]          # duplicate id
    rows += [(1, 3, 30 + i) for i in range(24)]        # far past the cap
    rows += [(2, k, 100 + k) for k in range(4)]        # singletons
    rng = random.Random(5)
    rows += [(3, rng.randrange(12), rng.randrange(200, 260)) for _ in range(70)]
    keys = ["k1", "k2"]
    df = spark.createDataFrame(rows, "k1 int, k2 long, id long").withColumn(
        "sh", F.col("id") * 7 + 1)
    with spark_confs(spark, {"spark.sql.execution.arrow.maxRecordsPerBatch": "3"}), \
            multi_partition(spark):
        cand, dropped = _bucket_candidates(df, keys, "id", mb, payload=("sh",))
        got = [(r["a_id"], r["b_id"], r["a_sh"], r["b_sh"]) for r in cand.collect()]
        ref, ref_dropped = reference_bucket_candidates(df, keys, "id", mb)
        want = {(r["a_id"], r["b_id"]) for r in ref.collect()}
        drops = sorted(tuple(r) for r in dropped.collect())
        ref_drops = sorted(tuple(r) for r in ref_dropped.collect())
    assert {(a, b) for a, b, _, _ in got} == want
    assert len(got) == len(want)
    assert all((a_sh, b_sh) == (a * 7 + 1, b * 7 + 1) for a, b, a_sh, b_sh in got)
    assert (7, 7) in want and (0, 4) in want and (10, 11) not in want
    assert drops == ref_drops and (0, 2, 6) in drops and (1, 3, 24) in drops


def test_bucket_pair_kernel_streams_runs_across_batches():
    """The bucket-pair kernel alone (no Spark), on seeded sorted key
    runs cut into batches of 1-20 rows (empty batches included): the
    output equals, as a multiset, every in-bucket pair of every run of
    1 < n <= max_bucket, canonical on the id with the payload following
    its id; each output batch holds whole bucket rows, so fewer than
    _PAIR_BATCH + max_bucket pairs."""
    import random

    import pyarrow as pa

    from opencv_table_extraction_spark.operators import dedup

    schema = pa.schema([("a_id", pa.int64()), ("b_id", pa.int64()),
                        ("a_sh", pa.int64()), ("b_sh", pa.int64())])
    for trial in range(200):
        rng = random.Random(trial)
        mb = rng.randrange(1, 12)
        rows = sorted((rng.randrange(3), rng.randrange(rng.choice([2, 5, 40])),
                       rng.randrange(50)) for _ in range(rng.randrange(300)))
        t = pa.table({"k1": pa.array([r[0] for r in rows], pa.int32()),
                      "k2": pa.array([r[1] for r in rows], pa.int64()),
                      "id": pa.array([r[2] for r in rows], pa.int64()),
                      "sh": pa.array([r[2] * 7 + 1 for r in rows], pa.int64())})
        batches = t.to_batches(max_chunksize=rng.randrange(1, 20))
        batches = batches[:1] + [b.slice(0, 0) for b in batches[:1]] + batches[1:]
        want = []
        for _, run in itertools.groupby(rows, key=lambda r: r[:2]):
            run = [r[2] for r in run]
            if 1 < len(run) <= mb:
                want += [(min(x, y), max(x, y), min(x, y) * 7 + 1, max(x, y) * 7 + 1)
                         for x, y in itertools.combinations(run, 2)]
        pair_batch = rng.choice([1, 3, 64, dedup._PAIR_BATCH])
        got = []
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(dedup, "_PAIR_BATCH", pair_batch)
            for out in dedup._bucket_pair_batches(
                    iter(batches), keys=["k1", "k2"], cols=["id", "sh"],
                    max_bucket=mb, schema=schema):
                assert out.num_rows < pair_batch + mb
                got += zip(*(out.column(i).to_pylist() for i in range(4)))
        assert sorted(got) == sorted(want), trial


def test_simhash_scale_banding_candidates_grow_linearly(spark):
    """The (radius 3, 4x15-bit) scale banding must generate ~linear
    candidates while the (radius 12, 15x4-bit) exactness mode is
    Theta(N^2) by construction (1/16 chunk collision odds) — the r2
    verdict's #1 scale fix, asserted at two corpus sizes."""
    from opencv_table_extraction_spark.operators.dedup import (
        SIMHASH_SCALE_CHUNKS,
        simhash_candidate_pairs_with_drops,
    )

    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")

    def planted(n):
        base = d.where(F.col("doc_id") < n)
        toks = F.split(F.trim("text"), r"\s+")
        trunc = F.array_join(
            F.slice(toks, 1, F.floor(F.size(toks) * 0.9).cast("int")), " "
        )
        return base.unionByName(
            base.select((F.col("doc_id") + 1_000_000).alias("doc_id"),
                        trunc.alias("text"))
        )

    a, b = planted(100), planted(200)   # 200 vs 400 docs
    sc_a = simhash_candidate_pairs_with_drops(a, SIMHASH_SCALE_CHUNKS)[0].count()
    sc_b = simhash_candidate_pairs_with_drops(b, SIMHASH_SCALE_CHUNKS)[0].count()
    ex_a = simhash_candidate_pairs_with_drops(a, 15)[0].count()
    ex_b = simhash_candidate_pairs_with_drops(b, 15)[0].count()
    ap_a, ap_b = 200 * 199 / 2, 400 * 399 / 2
    # scale mode: candidates << N^2 at both sizes, and the candidate
    # FRACTION of all-pairs falls as N grows (sub-quadratic). Measured
    # here: 554/19900 (2.8%) -> 1817/79800 (2.3%); growth is not purely
    # linear on THIS corpus only because the synthetic word salad is
    # pathologically self-similar (6.6% of random pairs sit within
    # hamming 12 of 60) — still a 34-42x candidate reduction.
    assert sc_a < 0.05 * ap_a, sc_a
    assert sc_b < 0.05 * ap_b, sc_b
    assert sc_b / ap_b < sc_a / ap_a, (sc_a, sc_b)
    # exactness mode: essentially ALL pairs are candidates regardless of
    # N (1/16 chunk-collision odds) — the Theta(N^2) contrast
    assert ex_a > 0.8 * ap_a and ex_b > 0.8 * ap_b, (ex_a, ex_b)
    assert ex_b >= 3 * ex_a, (ex_a, ex_b)
    # and the scale config beats it by >10x at both sizes
    assert ex_a > 10 * sc_a and ex_b > 10 * sc_b


def _docs_with(tmp_path, extra: list[str]) -> str:
    """sf0.01 documents plus ``extra`` texts (doc_id 9001, 9002, ...) as
    one parquet dir both Spark and DuckDB read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = pq.read_table(f"{SF01}/documents.parquet",
                         columns=["doc_id", "text", "source"])
    edge = pa.table({
        "doc_id": pa.array(range(9001, 9001 + len(extra)), pa.int64()),
        "text": pa.array(extra, pa.string()),
        "source": pa.array(["edge"] * len(extra), pa.string()),
    }).cast(docs.schema)
    pq.write_table(pa.concat_tables([docs, edge]), str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def _duckdb_documents(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf_dir}/documents.parquet')")
    return con


def test_simhash_kernel_matches_expression(spark, tmp_path):
    """The simhash kernel must be bit-equal to the DuckDB oracle's md5
    list-algebra hash (_SQL_SIMHASH) on sf0.01 AND on edge inputs
    (empty text, edge whitespace, repeated tokens — votes count
    occurrences). ASCII only: DuckDB's lower() differs from Python's
    and the JVM's on non-ASCII letters."""
    from opencv_table_extraction_spark.operators.dedup import (
        _SQL_SIMHASH,
        simhash_rows,
    )

    sf = _docs_with(tmp_path, ["", "\tTab  Edge\n", "dup dup dup x",
                               "MiXeD Case", "one"])
    d = spark.read.parquet(f"{sf}/documents.parquet")
    kern = {r["doc_id"]: r["sh"] for r in simhash_rows(d).collect()}
    want = dict(_duckdb_documents(sf).execute(_SQL_SIMHASH).fetchall())
    assert len(kern) == 505
    assert kern == want


def test_gram_set_matches_decontam_oracle_grams(tmp_path):
    """_gram_set(t, 8) must equal the DuckDB decontamination oracle's
    per-doc 8-gram list (the ``g`` CTE of _SQL_DECONTAM) on the sf0.01
    dedup corpus plus short texts (one partial gram) and texts edged
    with tabs/newlines."""
    from opencv_table_extraction_spark.operators.dedup import (
        _SQL_DECONTAM,
        DECONTAM_NGRAM,
        _gram_set,
    )

    sf = _docs_with(tmp_path, [
        "", "one", "a b c", "one two three four five six seven",
        "\tone two three four five six seven eight nine",
        "one two three four five six seven eight nine\n",
        " a\tb  c d e f g h i j ", "\n\t lead", "trail \t\n",
    ])
    ctes = _SQL_DECONTAM[: _SQL_DECONTAM.index("\ne AS (")].rstrip().rstrip(",")
    con = _duckdb_documents(sf)
    texts = dict(con.execute(ctes + " SELECT doc_id, text FROM corpus").fetchall())
    grams = dict(con.execute(
        ctes + " SELECT doc_id, list(gram) FROM g GROUP BY doc_id").fetchall())
    assert len(texts) == 2 * 509 and set(grams) == set(texts)
    bad = [d for d, t in texts.items()
           if sorted(grams[d]) != sorted(_gram_set(t, DECONTAM_NGRAM))]
    assert not bad, [(d, texts[d]) for d in bad[:5]]


def test_sql_corpus_matches_dedup_corpus_on_short_docs(spark, tmp_path):
    """The oracle corpus (_SQL_CORPUS) equals dedup_corpus, near-dup twins
    included, on docs of at most one token: their twin keeps no token and
    its text is "" on both sides (DuckDB's array_to_string([]) is NULL
    unless coalesced)."""
    from opencv_table_extraction_spark.operators.dedup import _SQL_CORPUS, dedup_corpus

    sf = _docs_with(tmp_path, ["", "one"])
    got = {r["doc_id"]: r["text"] for r in dedup_corpus(spark, sf).collect()}
    want = dict(_duckdb_documents(sf).execute(
        f"SELECT doc_id, text FROM ({_SQL_CORPUS})").fetchall())
    assert got[1_009_001] == got[1_009_002] == ""
    assert got == want


def test_pair_oracles_match_spark_on_short_docs(spark, tmp_path):
    """The MinHash-LSH, prefix-join and containment oracles read the same
    corpus as Spark. On the docs "one", "two" and "alpha beta gamma
    delta", the twins of the one-token docs are both "" (one empty gram
    each, so J = C = 1.0 between them), and each query's rows equal its
    oracle's rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from opencv_table_extraction_spark.operators.dedup import oracle_sql, queries

    pq.write_table(pa.table({
        "doc_id": pa.array([1, 2, 3], pa.int64()),
        "text": ["one", "two", "alpha beta gamma delta"],
        "source": ["s"] * 3,
    }), str(tmp_path / "documents.parquet"))
    con = _duckdb_documents(str(tmp_path))
    for name in ("dedup_minhash_lsh_pairs", "dedup_jaccard_prefix_pairs",
                 "dedup_containment_pairs"):
        got = sorted(tuple(r) for r in queries()[name](spark, str(tmp_path)).collect())
        assert (1_000_001, 1_000_002, 1.0) in got, name
        assert got == sorted(con.execute(oracle_sql()[name]).fetchall()), name


def test_simhash_pairs_rejects_unsound_banding(spark):
    import pytest as _pytest

    from opencv_table_extraction_spark.operators.dedup import (
        dedup_corpus,
        simhash_pairs_with_drops,
    )

    with _pytest.raises(ValueError, match="pigeonhole"):
        simhash_pairs_with_drops(
            dedup_corpus(spark, SF), max_hamming=5, n_chunks=4
        )


def test_python_kernels_tokenize_like_jvm_on_edge_whitespace(spark):
    """_jvm_tokens must agree with the JVM split(trim(col), '\\s+') on
    texts edged with tabs/newlines (Python .strip().split() strips ALL
    whitespace, Spark trim strips spaces only) and on texts holding non-ASCII whitespace (Python's Unicode
    \\s splits on NBSP, EM SPACE, \\x1c and \\x85; the JVM's does not)."""
    from opencv_table_extraction_spark.operators.dedup import _jvm_tokens

    texts = ["\tfoo bar baz", "foo bar baz\n", " a\tb  c d ", "", "x",
             "\n\t lead", "trail \t\n", "  spaced  ", "ab",
             # non-ASCII whitespace: the JVM's \s is ASCII-only
             "a\u2003b c", "a\xa0b c", "\xa0nbsp\xa0word", "a\u2003b",
             "a\x1cb", "a\x85b"]
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    jvm = [r["t"] for r in
           df.select(F.split(F.trim("text"), r"\s+").alias("t")).collect()]
    for t, expect in zip(texts, jvm):
        assert _jvm_tokens(t) == expect, (repr(t), _jvm_tokens(t), expect)


def test_corpus_whitespace_is_pinned_for_oracles(spark):
    """The DuckDB oracles and the Python kernels agree on tokenization
    for any text whose edges are space-only and whose whitespace chars
    are ASCII \\s other than \\v (DuckDB's RE2 \\s does not split on
    \\x0B; the JVM and _jvm_tokens do) — pin that corpus invariant (like
    the multimodal ASCII pin) so a future corpus change that breaks it
    fails loudly here rather than as a silent oracle mismatch."""
    import re as _re

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        rows = spark.read.parquet(f"{sf}/documents.parquet").select("text").collect()
        for r in rows:
            t = r["text"]
            assert not _re.match(r"^[\t\n\r\f\v]", t), repr(t[:20])
            assert not _re.search(r"[\t\n\r\f\v]$", t), repr(t[-20:])
            assert all(_re.match(r"[ \t\n\r\f]", ch) for ch in t if ch.isspace()), repr(t[:80])


def test_decontaminate_flags_planted_contamination(spark):
    """Every planted truncation of an eval-set doc shares n-grams with
    it and must be flagged; eval docs themselves are never flagged; and
    the big corpus side must reach the eval-gram join via broadcast
    (the 10^12-row side never shuffles)."""
    from opencv_table_extraction_spark.operators.dedup import (
        EVAL_MOD,
        _q_decontaminate,
    )

    flags = _q_decontaminate(spark, SF)
    plan = flags._sc._jvm.PythonSQLUtils.explainString(
        flags._jdf.queryExecution(), "formatted"
    )
    # the streamed (left) side of the join: the lines under it that hang
    # off its first child's ":" column, down to the corpus scan
    lines = plan[: plan.index("\n\n")].splitlines()
    j = next(i for i, ln in enumerate(lines) if "BroadcastHashJoin" in ln)
    assert "BuildRight" in lines[j], lines[j]
    col = lines[j].index("BroadcastHashJoin")
    streamed = list(itertools.takewhile(lambda ln: ln[col:col + 1] == ":",
                                        lines[j + 1:]))
    assert any("Scan parquet" in ln for ln in streamed), streamed
    assert any("MapInArrow" in ln for ln in streamed), streamed
    assert not any("Exchange" in ln for ln in streamed), streamed
    got = {r["doc_id"]: r["n_hits"] for r in flags.collect()}
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    planted = {i + 1_000_000 for i in range(0, n_docs, EVAL_MOD)}
    assert planted <= set(got), planted - set(got)
    assert all(
        not (d % EVAL_MOD == 0 and d < 1_000_000) for d in got
    )
    assert all(h >= 1 for h in got.values())


def test_train_test_split_is_stable_under_corpus_growth(spark):
    """A doc's split must depend only on its id (hash-based), never on
    position or corpus size: the assignment over a half corpus equals
    the assignment over the full corpus restricted to it, and the split
    fractions land near 80/10/10."""
    from opencv_table_extraction_spark.operators.textstats import (
        _q_train_test_split,
    )

    full = {r["doc_id"]: r["split"]
            for r in _q_train_test_split(spark, SF).collect()}
    n = len(full)
    frac = {s: sum(1 for v in full.values() if v == s) / n
            for s in ("train", "val", "test")}
    assert 0.7 < frac["train"] < 0.9 and frac["val"] > 0.03 and frac["test"] > 0.03
    # restriction stability: recompute over an arbitrary subset
    import pyspark.sql.functions as _F

    sub = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .where(_F.col("doc_id") % 2 == 0)
    )
    from opencv_table_extraction_spark.operators import textstats as _ts

    bucket = (
        _F.conv(_F.substring(_F.md5(_F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint") % 100
    )
    split = (_F.when(bucket < 80, "train").when(bucket < 90, "val")
             .otherwise("test"))
    sub_map = {r["doc_id"]: r["split"]
               for r in sub.select("doc_id", split.alias("split")).collect()}
    assert all(full[d] == s for d, s in sub_map.items())


def test_pack_token_shards_is_partition_invariant(spark):
    """The distributed prefix-sum packing must equal a single-window
    running sum per source at any input partitioning (1, 5, 7) and
    shuffle width (3, 8, 16) — the global cumsum is exact however the
    fixed-width doc_id buckets land in tasks. Besides the documents
    table, sparse, negative doc_ids with outliers at +-10^12 spread each
    source over hundreds of buckets, mostly one doc each (real
    cross-bucket offsets)."""
    import random

    from pyspark.sql import Window

    from opencv_table_extraction_spark.operators.textstats import (
        pack_token_shards,
    )

    # small budget so shard boundaries land mid-source (exercises the
    # cross-bucket offsets, not just shard 0)
    def shards(d):
        return {r["doc_id"]: (r["source"], r["shard_id"])
                for r in pack_token_shards(d, budget=300).collect()}

    def window_shards(d):
        w = (Window.partitionBy("source").orderBy("doc_id")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        n_tok = F.size(F.split(F.trim("text"), r"\s+"))
        return {r["doc_id"]: (r["source"], r["shard_id"]) for r in d.select(
            "doc_id", "source",
            F.floor((F.sum(n_tok).over(w) - n_tok) / 300).cast("int").alias("shard_id"),
        ).collect()}

    rng = random.Random(11)
    ids = rng.sample(range(-10**6, 10**6), 400) + [-(10**12), 10**12]
    sparse = spark.createDataFrame(
        [(i, f"s{rng.randrange(3)}", " ".join("w" * rng.randrange(1, 4)
                                              for _ in range(rng.randrange(1, 40))))
         for i in ids],
        "doc_id bigint, source string, text string",
    )
    for d in (spark.read.parquet(f"{SF}/documents.parquet"), sparse):
        ref = window_shards(d)
        assert len({v[1] for v in ref.values()}) > 3  # multiple shards
        for n_in, n_shuffle in ((1, 3), (5, 8), (7, 16)):
            with spark_confs(spark, {"spark.sql.shuffle.partitions": str(n_shuffle)}):
                assert shards(d.repartition(n_in)) == ref, (n_in, n_shuffle)


def test_connected_components_multi_hop_chain(spark):
    """Components must converge across multi-hop chains (a cluster
    connected only transitively), handle several disjoint clusters, and
    report exact sizes — beyond what single-round neighbor-min could
    do — without leaking cached RDDs."""
    from opencv_table_extraction_spark.operators.dedup import (
        connected_components_pairs,
    )

    # chain 10-11-12-13-14 (diameter 4), pair (20,21), triangle 30-31-32
    pairs = spark.createDataFrame(
        [(10, 11), (11, 12), (12, 13), (13, 14),
         (20, 21),
         (30, 31), (31, 32), (30, 32)],
        ["a_id", "b_id"],
    )
    n_cached_before = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    rounds: list[int] = []
    got = {r["doc_id"]: (r["keeper_id"], r["cluster_size"])
           for r in connected_components_pairs(
               pairs, round_counter=rounds).collect()}
    assert {d: got[d] for d in (10, 11, 12, 13, 14)} == {
        d: (10, 5) for d in (10, 11, 12, 13, 14)}
    assert got[20] == (20, 2) and got[21] == (20, 2)
    assert all(got[d] == (30, 3) for d in (30, 31, 32))
    # the cached canonical edge input is released; what may remain are
    # localCheckpoints (RDD-level persists the ContextCleaner frees on
    # GC; DataFrame.unpersist cannot): one for the pre-contracted
    # quotient, one per star round and one for the returned frame —
    # exactly rounds + 2 when nothing is GC'd yet, so a leaked input
    # cache (one more RDD) fails the bound
    n_cached_after = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    assert n_cached_after - n_cached_before <= rounds[0] + 2, (
        n_cached_before, n_cached_after, rounds)


def test_connected_components_proof_catches_lost_edges(spark, monkeypatch):
    """The label-consistency proof is the last line of defence: if the
    pre-contraction loses an edge, the chain (1,2),(2,3),(3,4) splits
    and some original pair joins two keepers — the call must raise
    before any output is returned."""
    from opencv_table_extraction_spark.operators import dedup

    contract = dedup._contract_batches

    def lossy(batches):
        # a nested function pickles by value, so the workers run it too
        for batch in contract(batches):
            yield batch.slice(1)

    monkeypatch.setattr(dedup, "_contract_batches", lossy)
    chain = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], ["a_id", "b_id"])
    with pytest.raises(RuntimeError, match="label consistency"):
        dedup.connected_components_pairs(chain)


@contextlib.contextmanager
def spark_confs(spark, confs: dict):
    """Set session ``confs`` for the block; restored on exit."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def multi_partition(spark, n: int = 16):
    """Force the regime where a small graph spans many partitions: AQE
    coalescing off and ``n`` shuffle partitions, so the components
    pre-contraction sees only part of each component per task (by
    default a test graph fits one partition). Confs are restored on
    exit."""
    return spark_confs(spark, {"spark.sql.adaptive.coalescePartitions.enabled": "false",
                               "spark.sql.shuffle.partitions": str(n)})


def test_connected_components_job_budget(spark):
    """A graph whose quotient is already a star forest (it fits one
    partition: 0 rounds) is labelled and proved once, with no
    star-forest check: connected_components_pairs(...).toArrow() runs
    at most 10 Spark jobs (the quotient cut, the labelling cut, the
    proof and the fetch), counted in the call's own job group."""
    from opencv_table_extraction_spark.operators.dedup import (
        connected_components_pairs,
    )

    _, edges, loops = random_pair_graphs()[-1]
    pairs = spark.createDataFrame(sorted(edges | loops), "a_id long, b_id long")
    sc = spark.sparkContext
    rounds: list[int] = []
    sc.setJobGroup("cc-job-budget", "cc-job-budget")
    try:
        out = connected_components_pairs(pairs, round_counter=rounds).toArrow()
        jobs = len(sc.statusTracker().getJobIdsForGroup("cc-job-budget"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert out.num_rows == len({d for e in edges | loops for d in e})
    assert rounds == [0]
    assert jobs <= 10, jobs


def test_connected_components_raises_on_nonconvergence(spark):
    """A pair graph whose diameter exceeds the round budget must fail
    fast, never emit silently-split clusters with wrong keepers. In
    the multi-partition regime each edge of the 6-edge chain lands in
    its own partition, so the pre-contracted quotient is still the
    path and needs more than 2 rounds."""
    from opencv_table_extraction_spark.operators.dedup import (
        connected_components_pairs,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(10, 16)], ["a_id", "b_id"]
    )
    with multi_partition(spark):
        with pytest.raises(RuntimeError, match="not converged"):
            connected_components_pairs(chain, max_iter=2)
        # and with budget >= diameter it converges fine
        got = {r["doc_id"]: r["keeper_id"]
               for r in connected_components_pairs(chain, max_iter=10).collect()}
    assert all(k == 10 for k in got.values())


def test_sample_by_quality_strata_and_rates(spark, tmp_path):
    """Constructed docs across all three strata (the parquet corpus is
    ~all 'high', so the mid/low rate paths need planting): the kept set
    must equal an INDEPENDENT hashlib-md5 truth of bucket < rate —
    pinning the Spark md5/conv arithmetic, the stratum assignment
    boundaries, and determinism in one shot."""
    import hashlib

    from opencv_table_extraction_spark.operators.textstats import (
        _q_sample_by_quality,
    )

    high = " ".join(f"tok{i}" for i in range(14)) + " the"  # sr 1/15
    mid = "the a of and to x1 x2 x3 x4 x5 x6 x7"  # sr 5/12 ~ 0.4167
    low = "tiny doc"  # 2 tokens < 10
    rows = [(i, {0: high, 1: mid, 2: low}[i % 3], "s") for i in range(300)]
    spark.createDataFrame(rows, ["doc_id", "text", "source"]).write.parquet(
        f"{tmp_path}/documents.parquet"
    )
    got = {
        r["doc_id"]: (r["stratum"], r["sample_bucket"])
        for r in _q_sample_by_quality(spark, str(tmp_path)).collect()
    }

    def bucket(i):
        return int(
            hashlib.md5(f"sample:{i}".encode()).hexdigest()[:8], 16
        ) % 100

    strat = {0: ("high", 100), 1: ("mid", 50), 2: ("low", 10)}
    expect = {
        i: (strat[i % 3][0], bucket(i))
        for i in range(300)
        if bucket(i) < strat[i % 3][1]
    }
    assert got == expect
    # all three rate paths actually exercised
    kept = [s for s, _ in got.values()]
    assert kept.count("high") == 100
    assert 0 < kept.count("mid") < 100
    assert 0 < kept.count("low") < 50


def test_scrub_pii_redacts_all_occurrences(spark):
    """Hand-written PII text: every occurrence of every pattern type is
    redacted (Spark regexp_replace is global; the DuckDB oracle needs
    the explicit 'g' flag — this pins the Spark half of that contract),
    clean text passes untouched, and counts equal redactions: each
    pattern counts on the progressively-scrubbed text (r6 advice), so a
    substring matching two patterns is counted only by the pattern that
    redacted it — pinned by doc 3, where the phone-shaped email local
    part must NOT inflate n_phones."""
    from opencv_table_extraction_spark.operators.textstats import scrub_pii

    df = spark.createDataFrame(
        [
            (1, "mail a@b.com and c.d+x@e.org, host 10.0.0.1 "
                "tel 123-456-7890 or 12-345-678"),
            (2, "no pii here at all"),
            (3, "forwarded by 12-345-6789@relay.example.org yesterday"),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in scrub_pii(df).collect()}
    r1 = got[1]
    assert (r1["n_emails"], r1["n_ips"], r1["n_phones"]) == (2, 1, 2)
    assert r1["scrubbed"] == (
        "mail <EMAIL> and <EMAIL>, host <IP> tel <PHONE> or <PHONE>"
    )
    r2 = got[2]
    assert (r2["n_emails"], r2["n_ips"], r2["n_phones"]) == (0, 0, 0)
    assert r2["scrubbed"] == "no pii here at all"
    r3 = got[3]
    assert (r3["n_emails"], r3["n_ips"], r3["n_phones"]) == (1, 0, 0)
    assert r3["scrubbed"] == "forwarded by <EMAIL> yesterday"
    # invariant the progressive counts buy: sum of counts == redactions
    for r in got.values():
        assert (
            r["n_emails"] + r["n_ips"] + r["n_phones"]
            == r["scrubbed"].count("<EMAIL>")
            + r["scrubbed"].count("<IP>")
            + r["scrubbed"].count("<PHONE>")
        )



def test_shingles_expression():
    """_gram_set, the one word n-gram implementation: overlapping
    3-grams, and one partial gram for a text shorter than n."""
    from opencv_table_extraction_spark.operators.dedup import _gram_set

    assert _gram_set("a b c d", 3) == {"a b c", "b c d"}
    assert _gram_set("x y", 3) == {"x y"}


def test_verify_kernel_rounds_half_up_and_containment_is_ordered():
    """The one verify kernel, fed hand-built Arrow batches for both
    metrics (no Spark). A and B share exactly one 3-gram ("x y z");
    |S(A)| = 16, |S(B)| = 17, so the union is 32 grams:
      - Jaccard 1/32 = 0.03125 is an exact tie and must round HALF-UP
        to 0.0313 like Spark/DuckDB ROUND (Python's round gives 0.0312);
      - containment is ordered: C(A,B) = 1/16, C(B,A) = 1/17."""
    import pyarrow as pa

    from opencv_table_extraction_spark.operators.dedup import (
        _CONTAINMENT,
        _JACCARD,
        _gram_set,
        _verify_batches,
    )

    a = "x y z " + " ".join(f"a{i}" for i in range(15))
    b = "x y z " + " ".join(f"b{i}" for i in range(16))
    assert (len(_gram_set(a, 3)), len(_gram_set(b, 3))) == (16, 17)
    batch = pa.RecordBatch.from_arrays(
        [pa.array([1, 2], type=pa.int64()), pa.array([2, 1], type=pa.int64()),
         pa.array([a, b]), pa.array([b, a])],
        names=["a_id", "b_id", "a_text", "b_text"],
    )

    def run(metric):
        schema, _ = metric
        (out,) = _verify_batches([batch], *metric)
        assert out.schema == schema
        assert out.schema.names[:2] == ["a_id", "b_id"]
        assert out.column("a_id").to_pylist() == [1, 2]
        return out.column(schema.names[-1]).to_pylist()

    assert round(1 / 32, 4) == 0.0312  # banker's: what the kernel avoids
    assert run(_JACCARD) == [0.0313, 0.0313]
    assert run(_CONTAINMENT) == [0.0625, 0.0588]


def test_repetition_stats_kernel():
    """Hand-computed expectations for the Gopher-style repetition
    metrics, covering the shapes the parquet corpus lacks (it has no
    newlines): multi-line docs with duplicate lines, whitespace-only
    lines, boilerplate bigram repetition, empty text. Pure kernel test —
    the end-to-end oracle parity runs in tools/check_queries.py."""
    from opencv_table_extraction_spark.operators.textstats import (
        repetition_stats_batch,
    )

    texts = [
        # 4 non-empty lines ("x" twice + "  " whitespace-only line is
        # dropped); dup occurrences = 2 of 4
        "x\na b\n  \nx\nc d",
        # boilerplate: "spam ham" bigram dominates; tokens =
        # [spam, ham, spam, ham, spam] -> bigrams: (spam,ham) x2,
        # (ham,spam) x2 -> top 2/4; trigrams: (s,h,s), (h,s,h),
        # (s,h,s) -> distinct 2 of 3
        "Spam ham SPAM ham spam",
        # all-distinct control
        "a b c d e",
        "",
    ]
    got = repetition_stats_batch(texts)
    assert got[0][0] == 4.0 and got[0][1] == 2 / 4
    assert got[1] == [1.0, 0.0, 2 / 4, 1 - 2 / 3]
    assert got[2] == [1.0, 0.0, 1 / 4, 0.0]
    assert got[3] == [0.0, 0.0, 0.0, 0.0]


def test_winnow_oracle_matches_on_edge_whitespace(spark, tmp_path):
    """The winnow DuckDB oracle must agree with the Spark query even for
    texts edged with tabs/newlines (the r2 ADVICE divergence: DuckDB's
    bare trim strips spaces only; the oracle now trims an explicit
    ASCII-whitespace charset to match Python's .split() normalizer)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from opencv_table_extraction_spark.operators.textstats import (
        _SQL_WINNOW,
        _q_winnow,
    )

    texts = [
        "\tthe quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy dog\n",
        " mixed \t interior\nwhitespace  and  edges \t",
        "plain space edged text for control ",
        "short",
    ]
    pq.write_table(
        pa.table({"doc_id": list(range(len(texts))), "text": texts}),
        str(tmp_path / "documents.parquet"),
    )
    got = {r["doc_id"]: (r["n_fingerprints"], r["fingerprints_csv"])
           for r in _q_winnow(spark, str(tmp_path)).collect()}
    con = _duckdb_documents(str(tmp_path))
    want = {int(r[0]): (int(r[1]), r[2])
            for r in con.execute(_SQL_WINNOW).fetchall()}
    assert got == want


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """checkpoint_dir cuts lineage with parquet copies under that dir
    (per-round edges + the result): a chain needing several rounds, a
    self-loop-only graph and an empty graph must give the exact keepers
    and sizes, the dir must actually receive data, and a second call
    into the same dir must give equal rows without colliding with the
    first call's files."""
    import os

    from opencv_table_extraction_spark.operators.dedup import (
        connected_components_pairs,
    )

    # chain 10-...-22: diameter 12, so the per-round cut fires several
    # times mid-loop
    graphs = [
        ([(i, i + 1) for i in range(10, 22)], {d: (10, 13) for d in range(10, 23)}),
        ([(5, 5), (7, 7)], {5: (5, 1), 7: (7, 1)}),
        ([], {}),
    ]
    ckpt = str(tmp_path / "ckpt")
    for edges, want in graphs:
        pairs = spark.createDataFrame(edges, "a_id long, b_id long")
        for _ in range(2):
            got = {r["doc_id"]: (r["keeper_id"], r["cluster_size"])
                   for r in connected_components_pairs(
                       pairs, max_iter=20, checkpoint_dir=ckpt).collect()}
            assert got == want, edges
    wrote = any(files for _, _, files in os.walk(ckpt))
    assert wrote, "reliable checkpoint dir received no data"


def winnow_fingerprint(text: str, k: int = 8, window: int = 6) -> list[int]:
    """Per-document reference for textstats.winnow_fingerprint_batch:
    winnowing (Schleimer/Wilkerson/Aiken, SIGMOD 2003) — Rabin-Karp
    polynomial hash over character k-grams of the whitespace-normalized
    text, then the minimum hash per sliding window with the rightmost-
    min tie rule. The k-gram hashes are k Horner passes over the
    code-point array and window selection is a strided sliding-window
    argmin, one document at a time."""
    import numpy as np

    s = " ".join(text.lower().split())
    if len(s) < k:
        return []
    data = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32).astype(np.uint64)
    # mod < 2^31 keeps every Horner intermediate (< mod*base + 0x10FFFF)
    # well under 2^64: exact, overflow-free uint64 arithmetic
    base = np.uint64(131)
    mod = np.uint64((1 << 31) - 1)
    n = len(data) - k + 1
    h = np.zeros(n, dtype=np.uint64)
    for j in range(k):  # k vectorized passes, not len(s) scalar steps
        h = (h * base + data[j : j + n]) % mod
    if n <= window:
        return [int(h.min())]
    win = np.lib.stride_tricks.sliding_window_view(h, window)
    # rightmost min per window: argmin over the reversed window
    j = (window - 1) - np.argmin(win[:, ::-1], axis=1)
    pos = np.arange(len(win)) + j
    # selected positions are non-decreasing as the window slides, so
    # collapsing consecutive repeats == the classic "new position only"
    # winnowing emission rule
    keep = np.empty(len(pos), dtype=bool)
    keep[0] = True
    keep[1:] = pos[1:] != pos[:-1]
    return [int(x) for x in h[pos[keep]]]


def test_winnow_batch_equals_per_doc():
    """The cross-doc vectorized winnow kernel (one global Horner pass +
    one global window pass) must be EXACTLY the per-document reference
    on real docs, boundary-length strings, unicode, and whitespace
    edges — document boundaries must never leak into hashes or window
    selection."""
    import random
    import string

    import pyarrow.parquet as pq

    from opencv_table_extraction_spark.operators.textstats import (
        winnow_fingerprint_batch,
    )

    texts = (
        pq.read_table("/root/testdata/sf0.001/documents.parquet")
        .column("text")
        .to_pylist()
    )
    edges = ["", None, "ab", "abcdefg", "abcdefgh", "  x\t\ny  ",
             "a" * 7, "a" * 8, "a" * 9, "a" * 13, "a" * 14, "a" * 15,
             "é" * 20, "\U0001f600" * 12]
    rng = random.Random(7)
    fuzz = ["".join(rng.choice(string.ascii_lowercase + "  \t\n")
                    for _ in range(rng.randrange(0, 60))) for _ in range(300)]
    for batch in (texts, edges, fuzz, []):
        assert winnow_fingerprint_batch(batch) == [
            winnow_fingerprint(t or "") for t in batch
        ]


def test_connected_components_restores_prior_checkpoint_dir(
    spark, tmp_path, tmp_path_factory
):
    """connected_components_pairs(checkpoint_dir=...) must leave the
    session's checkpoint dir as it found it, both when the session has
    none and when one is set, so later unrelated checkpoint() calls
    never land in a directory the caller may delete."""
    from opencv_table_extraction_spark.operators.dedup import (
        connected_components_pairs,
    )

    sc = spark.sparkContext
    pairs = spark.createDataFrame([(1, 2), (2, 3)], ["a_id", "b_id"])
    before = sc.getCheckpointDir()
    connected_components_pairs(pairs, checkpoint_dir=str(tmp_path / "cc1")).collect()
    assert sc.getCheckpointDir() == before
    if before is None:
        # Spark cannot unset a checkpoint dir: set one only after the
        # None case has been checked, in a dir that outlives this test
        sc.setCheckpointDir(str(tmp_path_factory.mktemp("prior_ckpt")))
    before = sc.getCheckpointDir()
    connected_components_pairs(pairs, checkpoint_dir=str(tmp_path / "cc2")).collect()
    assert sc.getCheckpointDir() == before


def union_find_components(edges) -> dict:
    """Reference components: {node: (min id, component size)}."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    groups = {}
    for n in list(parent):
        groups.setdefault(find(n), []).append(n)
    out = {}
    for root, members in groups.items():
        keeper = min(members)
        for m in members:
            out[m] = (keeper, len(members))
    return out


def random_pair_graphs() -> list[tuple[str, set, set]]:
    """(label, edges, self-loops): seeded random pair graphs
    (self-contained clusters, chains, isolated pairs, dense blobs) and
    one fixed mixed graph (a dense star, a 12-link chain and a
    self-loop-only node)."""
    import random

    graphs = []
    for seed in range(4):
        rng = random.Random(seed)
        n_nodes = rng.randrange(4, 40)
        edges = set()
        for _ in range(rng.randrange(2, 60)):
            a, b = rng.randrange(n_nodes), rng.randrange(n_nodes)
            if a != b:
                edges.add((min(a, b), max(a, b)))
        if not edges:
            edges = {(0, 1)}
        # self-loops, including on ids ABOVE the edge range so some are
        # self-loop-only: those must come out as (d, d, 1)
        loops = {(i, i) for i in rng.sample(range(n_nodes + 5), 3)}
        graphs.append((f"seed {seed}", edges, loops))
    graphs.append((
        "star + chain + self-loop",
        {(100, 100 + i) for i in range(1, 6)}        # star, keeper 100
        | {(i, i + 1) for i in range(12)},           # chain 0..12
        {(500, 500)},                                # self-loop singleton
    ))
    return graphs


def check_components(spark, edges, loops=()):
    """Run connected_components_pairs on ``edges | loops``, assert it
    equals the reference union-find (keepers AND cluster sizes, loops
    as (d, d, 1) singletons) and return the rounds used."""
    from opencv_table_extraction_spark.operators.dedup import (
        connected_components_pairs,
    )

    pairs = spark.createDataFrame(sorted(set(edges) | set(loops)), ["a_id", "b_id"])
    want = union_find_components(edges)
    for i, _ in loops:
        want.setdefault(i, (i, 1))
    rounds: list[int] = []
    got = {r["doc_id"]: (r["keeper_id"], r["cluster_size"])
           for r in connected_components_pairs(
               pairs, max_iter=40, round_counter=rounds).collect()}
    assert got == want
    return rounds[0]


def test_connected_components_random_graphs(spark):
    """Property test: on the random and mixed pair graphs the
    distributed components (pre-contraction + two-star) must equal a
    Python union-find — keepers AND cluster sizes. Each graph fits one
    partition, so the quotient is already a star forest: 0 rounds."""
    for label, edges, loops in random_pair_graphs():
        assert check_components(spark, edges, loops) == 0, label


def test_connected_components_multi_partition(spark):
    """The pre-contraction's multi-partition path: with coalescing off
    and 16 shuffle partitions, the random graphs and a 1,024-node chain
    are cut across tasks, so the quotient is no longer a star forest
    and the two-star rounds must finish the job — equal to union-find
    in at most 4 rounds (log2 16 for the chain). A hub (one a_id with
    5,000 leaves) lands in one task and is one star: correct in 0
    rounds. The chain, which needs rounds, leaves no more cached RDDs
    than the rounds + 2 of the default regime: the quotient's, one per
    round and the output's (the failed first labelling is released)."""
    persisted = spark.sparkContext._jsc.sc().getPersistentRDDs
    with multi_partition(spark):
        for label, edges, loops in random_pair_graphs():
            assert check_components(spark, edges, loops) <= 4, label
        chain = {(i, i + 1) for i in range(1023)}
        before = persisted().size()
        rounds = check_components(spark, chain)
        assert 1 <= rounds <= 4
        assert persisted().size() - before <= rounds + 2
        hub = {(0, i) for i in range(1, 5001)}
        assert check_components(spark, hub) == 0


def test_pairs_crosscheck_agrees_and_reports_drops(spark):
    """The certified recall cross-check: on a corpus with planted
    near-dups, the probabilistic LSH and the exact prefix join must
    produce identical pair sets with zero drops — and the returned
    one-row frame must say exactly that (the invariant the sf0.1 sweep
    certifies via check_queries --invariant)."""
    from opencv_table_extraction_spark.operators.dedup import pairs_crosscheck

    d = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "text")
        .limit(80)
    )
    toks = F.split(F.trim("text"), r"\s+")
    trunc = F.array_join(
        F.slice(toks, 1, F.floor(F.size(toks) * 0.9).cast("int")), " "
    )
    near = d.select((F.col("doc_id") + 1_000_000).alias("doc_id"),
                    trunc.alias("text"))
    r = pairs_crosscheck(d.unionByName(near)).collect()[0]
    assert r["n_symmetric_diff"] == 0
    assert r["n_dropped_lsh"] == 0 and r["n_dropped_prefix"] == 0
    assert r["n_pairs_lsh"] == r["n_pairs_prefix"] >= 80  # planted dups found


def test_components_tolerate_messy_pair_input(spark):
    """Real pair generators are deduped and canonical, but the operator
    must not depend on it: self-loops, duplicate pairs, and both
    orientations of the same edge must not change the clustering."""
    from opencv_table_extraction_spark.operators.dedup import (
        connected_components_pairs,
    )

    messy = spark.createDataFrame(
        # (3, 3): self-loop on a clustered node; (9, 9): a self-loop-ONLY
        # node — must come out as a (9, 9, 1) singleton, not be dropped
        [(1, 2), (2, 1), (1, 2), (2, 3), (3, 3), (5, 6), (9, 9)],
        ["a_id", "b_id"],
    )
    want = {1: (1, 3), 2: (1, 3), 3: (1, 3), 5: (5, 2), 6: (5, 2), 9: (9, 1)}
    got = {r["doc_id"]: (r["keeper_id"], r["cluster_size"])
           for r in connected_components_pairs(
               messy, max_iter=20).collect()}
    assert got == want, got
    # the deprecated mode= names are accepted and ignored; others raise
    got_auto = {r["doc_id"]: (r["keeper_id"], r["cluster_size"])
                for r in connected_components_pairs(
                    messy, max_iter=20, mode="auto").collect()}
    assert got_auto == want, got_auto
    with pytest.raises(ValueError, match="unknown mode"):
        connected_components_pairs(messy, mode="bogus")


def test_two_star_components_logarithmic_on_long_chain(spark):
    """A 1,024-node path graph (diameter 1,023) fits one partition in
    the default regime, so the pre-contraction leaves one star, already
    two-star's fixed point: 0 rounds with the correct single cluster
    (two-star alone took 11, ~log2(1024))."""
    from opencv_table_extraction_spark.operators.dedup import (
        connected_components_pairs,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1023)], ["a_id", "b_id"]
    )
    rounds: list[int] = []
    got = {r["doc_id"]: (r["keeper_id"], r["cluster_size"])
           for r in connected_components_pairs(
               chain, max_iter=25, round_counter=rounds
           ).collect()}
    assert len(got) == 1024
    assert all(v == (0, 1024) for v in got.values())
    assert rounds == [0], rounds
