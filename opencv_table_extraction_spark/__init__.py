"""opencv_table_extraction_spark — a from-scratch PySpark-native
main-content + table extraction engine.

Capability parity target: DeadEYE-CSprojects/OPENCV_table_extraction
(reference tree = README.md:1 title + test2.py:1-13 router/transcriber
prompt fragment; the OpenCV kernel named by the repo title is absent from
the reference tree and is re-derived here from the public OpenCV
morphological table-extraction algorithm — see SURVEY.md §0).

Layout:
  kernel/     Layer A — pure-NumPy extraction kernel (the engine's scalar
              function library), executed vectorized inside Arrow batches.
  plans/      Layer B — Spark DataFrame pipeline builders (scan → filter →
              salt → mapInArrow(kernel) → window → sort → sink → lineage).
  operators/  training-data operators: dedup (exact/minhash-LSH/simhash),
              similarity search, text analysis, multimodal plumbing.
  sources/    snapshot/commit catalog (Iceberg-semantics parquet fallback).
  streaming/  incremental (availableNow) driver reusing the batch body.
  fixtures/   deterministic transcript-table generator (seed=42).
  _worker.py  imported inside a Spark task, keeps the worker from
              re-reading every zip on sys.path at each task start.
"""

from . import _worker

__version__ = "0.1.0"

_worker.install()
