"""One-time sf1-equivalent dedup sweep (r5 verdict #4): probe the next
10x cliff of the at-scale near-dup path on a ~200k-doc corpus.

Generates a deterministic 100,000-doc documents.parquet (+ a 64-doc
drifting near-dup chain) whose token distribution mirrors the driver
testdata (uniform vocab, 10-100 tokens/doc), then runs the full
at-scale pipeline on local[32]:

    LSH pairs + exact PPJoin -> crosscheck invariant (one action)
    -> twostar connected components -> dedup_apply (broadcast anti-join)

and reports the five numbers the record needs: bucket-cap drops,
candidate-pair growth vs sf0.1, twostar rounds, driver peak RSS, wall
per stage.

Vocabulary scaling (the first finding, decided up front): shingle
selectivity is df ~= N * shingles_per_doc / vocab^2. The driver
testdata holds vocab FIXED at 30 words, so scaling N 20x would scale
every shingle's df 20x and the per-bucket verify work 400x — an
artifact of the synthetic generator, not of corpus growth (real corpora
grow vocabulary with size, Heaps' law). This sweep scales vocab ~
sqrt(N) so the expected per-shingle df stays at the sf0.1 level
(~550 docs/shingle): bucket sizes stay constant, bucket COUNT grows,
total work grows linearly — the scaling regime the operators are
designed for. A fixed-vocab 20x corpus is additionally reported as the
known cliff: its TRUE candidate set itself grows superlinearly, which
no exact method can beat.

Usage: python tools/sf1_dedup_sweep.py [--docs 100000] [--cpus 32]
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

LANGS = ["en", "en", "de", "fr", "es", "zh"]  # ~2/6 en like the testdata


def gen_documents(out_dir: str, n_docs: int, seed: int = 42,
                  n_files: int = 32) -> int:
    """documents.parquet shaped like the driver testdata (doc_id, text,
    lang, source, n_chars), vocab scaled ~ sqrt(n_docs) for constant
    shingle selectivity (module docstring). Adds a 64-doc drifting
    chain after the base ids: doc k replaces 2 tokens of doc k-1, so
    adjacent docs sit at Jaccard ~0.9 and the chain's component has
    diameter ~64 (+ truncated twins) — the twostar round-count probe."""
    rng = np.random.RandomState(seed)
    # sf0.1 reference: 5,000 docs x ~50 shingles / 30^2 vocab^2 -> df ~ 550.
    # keep df constant: vocab^2 = n_docs * 50 / 550
    vocab_n = max(30, int(round((n_docs * 50 / 550) ** 0.5)))
    vocab = np.array([f"tok{i:04d}" for i in range(vocab_n)])
    lens = rng.randint(10, 101, size=n_docs)
    tok_ids = rng.randint(0, vocab_n, size=int(lens.sum()))
    offs = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(vocab[tok_ids[offs[i]:offs[i + 1]]])
             for i in range(n_docs)]
    # drifting chain (ids n_docs .. n_docs+63)
    chain_toks = list(vocab[rng.randint(0, vocab_n, size=80)])
    for k in range(64):
        for slot in (2 * (k % 40), 2 * (k % 40) + 1):
            chain_toks[slot] = str(vocab[rng.randint(0, vocab_n)])
        texts.append(" ".join(chain_toks))
    n_total = len(texts)
    doc_ids = np.arange(n_total, dtype=np.int64)
    langs = [LANGS[i % len(LANGS)] for i in range(n_total)]
    srcs = [f"src{i % 10}" for i in range(n_total)]
    os.makedirs(out_dir, exist_ok=True)
    d = os.path.join(out_dir, "documents.parquet")
    if os.path.isdir(d):
        shutil.rmtree(d)
    os.makedirs(d)
    per = -(-n_total // n_files)
    for f in range(n_files):
        s, e = f * per, min((f + 1) * per, n_total)
        if s >= e:
            break
        tbl = pa.table({
            "doc_id": doc_ids[s:e],
            "text": texts[s:e],
            "lang": langs[s:e],
            "source": srcs[s:e],
            "n_chars": np.array([len(t) for t in texts[s:e]], dtype=np.int64),
        })
        pq.write_table(tbl, os.path.join(d, f"part-{f:05d}.parquet"))
    return vocab_n


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=100_000)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--dir", default="/tmp/octe_sf1")
    args = ap.parse_args()

    t0 = time.time()
    vocab_n = gen_documents(args.dir, args.docs)
    gen_s = round(time.time() - t0, 1)

    from opencv_table_extraction_spark.operators.dedup import (
        connected_components_pairs,
        dedup_apply,
        dedup_corpus,
        minhash_lsh_pairs_with_drops,
        pairs_crosscheck,
    )
    from opencv_table_extraction_spark.session import build_session

    spark = build_session(
        "octe-sf1-sweep", master=f"local[{args.cpus}]",
        shuffle_partitions=args.cpus * 2,
        extra_confs={"spark.ui.enabled": "false",
                     "spark.driver.memory": "48g"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    out: dict = {"n_docs_base": args.docs, "vocab": vocab_n, "gen_s": gen_s}

    corpus = dedup_corpus(spark, args.dir)
    t = time.time()
    out["n_corpus"] = corpus.count()
    out["corpus_count_s"] = round(time.time() - t, 1)

    # stage 1: both generators + set comparison + drop counts, one action
    t = time.time()
    row = pairs_crosscheck(corpus).collect()[0]
    out["crosscheck_s"] = round(time.time() - t, 1)
    out["crosscheck"] = row.asDict()

    # stage 2: LSH pairs -> two-star connected components
    t = time.time()
    pairs, _ = minhash_lsh_pairs_with_drops(corpus)
    rounds: list[int] = []
    decisions = connected_components_pairs(
        pairs, max_iter=25, round_counter=rounds
    )
    out["n_decision_rows"] = decisions.count()
    out["components_s"] = round(time.time() - t, 1)
    out["twostar_rounds"] = rounds[0] if rounds else None
    biggest = (
        decisions.groupBy("keeper_id").count()
        .orderBy("count", ascending=False).limit(1).collect()
    )
    out["largest_cluster"] = biggest[0]["count"] if biggest else 0

    # stage 3: apply — broadcast anti-join keep-filter over the corpus
    t = time.time()
    out["n_deduped"] = dedup_apply(corpus, decisions).count()
    out["apply_s"] = round(time.time() - t, 1)

    out["driver_peak_rss_mb"] = round(
        resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024, 1
    )
    out["total_s"] = round(time.time() - t0, 1)
    print("RESULT " + json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
