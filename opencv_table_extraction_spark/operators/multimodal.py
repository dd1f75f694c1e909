"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata, processed by Arrow-batched ``mapInPandas``.

No payload is decoded to pixels or samples: the passes here work on
the raw bytes — magic-number sniffing and sizes (``extract_binary_meta``),
fixed-size frame sampling (``sample_frames``) and a byte histogram
(``extract_features``). Their Spark-side plumbing (schema, batch shape,
partitioning) is real and tested, and each pass has an exact DuckDB
oracle over the same derived blob."""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

META_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", IntegerType()),
        StructField("kind", StringType()),
        StructField("head_hex", StringType()),
    ]
)

_MAGIC = {
    b"\x89PNG": "image/png",
    b"\xff\xd8\xff": "image/jpeg",
    b"RIFF": "audio/wav",
    b"\x1aE\xdf\xa3": "video/mkv",
}


def sniff_kind(head: bytes) -> str:
    for magic, kind in _MAGIC.items():
        if head.startswith(magic):
            return kind
    return "application/octet-stream"


def extract_binary_meta(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas body: per-batch vectorized metadata over the binary
    column (bytes land as Python bytes in the pandas batch)."""
    for pdf in batches:
        payloads = pdf["payload"]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].astype("int64"),
                "n_bytes": payloads.map(len).astype("int32"),
                "kind": payloads.map(lambda b: sniff_kind(bytes(b[:8]))),
                "head_hex": payloads.map(lambda b: bytes(b[:4]).hex()),
            }
        )


FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_bytes", IntegerType()),
        StructField("frame_head", StringType()),
    ]
)

FRAME_SIZE = 64     # bytes per synthetic frame
SAMPLE_EVERY = 4    # keep every 4th frame


def sample_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas body for frame sampling: treat the binary payload as
    a sequence of FRAME_SIZE-byte frames and emit every SAMPLE_EVERY-th
    one (1-row-in, N-rows-out — the flatMap shape video decode has).
    Frames stay raw bytes; the partitioning, Arrow batching and 1:N
    schema are what this pass provides."""
    for pdf in batches:
        ids, idxs, sizes, heads = [], [], [], []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            b = bytes(payload)
            n_frames = len(b) // FRAME_SIZE
            for fi in range(0, n_frames, SAMPLE_EVERY):
                frame = b[fi * FRAME_SIZE : (fi + 1) * FRAME_SIZE]
                ids.append(int(doc_id))
                idxs.append(fi)
                sizes.append(len(frame))
                heads.append(frame[:4].decode("utf-8", "replace"))
        yield pd.DataFrame(
            {"doc_id": pd.Series(ids, dtype="int64"),
             "frame_idx": pd.Series(idxs, dtype="int32"),
             "frame_bytes": pd.Series(sizes, dtype="int32"),
             "frame_head": pd.Series(heads, dtype="object")}
        )


def _q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    return d.mapInPandas(sample_frames, FRAME_SCHEMA)


# ASCII-ONLY ORACLE ASSUMPTION (holds for the synthetic corpus, asserted
# below): sample_frames slices BYTES while this SQL slices CHARACTERS
# (substring(text, i*64+1, 4)) — they agree only when every char is one
# byte; likewise _SQL_META pins kind='application/octet-stream', valid
# because no doc text starts with a sniffable magic (e.g. 'RIFF').
# tests/test_operators.py::test_multimodal_oracle_ascii_assumption pins
# both corpus properties so a testdata change fails loudly instead of
# silently diverging from the oracle.
_SQL_FRAMES = rf"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(i AS INT) AS frame_idx,
       {FRAME_SIZE} AS frame_bytes,
       substring(text, CAST(i AS INT) * {FRAME_SIZE} + 1, 4) AS frame_head
FROM documents,
     UNNEST(range(0, octet_length(encode(text)) // {FRAME_SIZE})) AS u(i)
WHERE i % {SAMPLE_EVERY} = 0
"""


def _q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column pipeline over a deterministic blob derivation
    (utf-8 bytes of documents.text — no image data ships with the
    testdata, so the blob is synthesized, the plumbing is real)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    return d.mapInPandas(extract_binary_meta, META_SCHEMA)


_SQL_META = r"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(octet_length(encode(text)) AS INT) AS n_bytes,
       'application/octet-stream' AS kind,
       lower(hex(encode(substring(text, 1, 4)))) AS head_hex
FROM documents
"""


FEATURE_BINS = 16

FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", IntegerType()),
        StructField("feature_csv", StringType()),
    ]
)


def extract_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Deterministic feature extraction over the opaque binary payload:
    a 16-bin histogram of the byte high-nibbles (np.bincount, vectorized
    per payload). A content featurizer replaces the histogram body; the
    Arrow plumbing and schema stay. Emitted as CSV so the driver
    canonicalizer can hash it (list columns are unhashable there)."""
    import numpy as np

    for pdf in batches:
        feats, sizes = [], []
        for payload in pdf["payload"]:
            b = np.frombuffer(bytes(payload), dtype=np.uint8)
            hist = np.bincount(b >> 4, minlength=FEATURE_BINS)
            feats.append(",".join(str(int(x)) for x in hist))
            sizes.append(len(b))
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].astype("int64"),
                "n_bytes": pd.Series(sizes, dtype="int32", index=pdf.index),
                "feature_csv": pd.Series(feats, dtype="object", index=pdf.index),
            }
        )


def _q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    return d.mapInPandas(extract_features, FEATURE_SCHEMA)


# exact oracle: same high-nibble histogram in DuckDB list algebra (ASCII
# corpus — ord == byte; pinned by test_multimodal_oracle_ascii_assumption)
_SQL_FEATURES = rf"""
WITH chars AS (
  SELECT doc_id, octet_length(encode(text)) AS n_bytes,
         regexp_extract_all(text, '[\s\S]') AS cs
  FROM documents)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n_bytes AS INT) AS n_bytes,
       array_to_string(
         list_transform(range(0, {FEATURE_BINS}),
           b -> CAST(len(list_filter(cs, c -> ord(c) // 16 = b)) AS VARCHAR)),
         ',') AS feature_csv
FROM chars
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "multimodal_binary_meta": _q_multimodal_meta,
        "multimodal_frame_sample": _q_multimodal_frames,
        "multimodal_feature_extract": _q_multimodal_features,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "multimodal_binary_meta": _SQL_META,
        "multimodal_frame_sample": _SQL_FRAMES,
        "multimodal_feature_extract": _SQL_FEATURES,
    }
