"""Training-data pipeline operators (task brief: dedup, similarity
search, text analysis, multimodal plumbing) — Spark-first: joins,
aggregations and windows use built-in pyspark.sql functions, and
per-row numeric work runs in Python only over Arrow batches — the
dedup mapInArrow kernels (minhash bands, pair verification, shingle
rows, simhash, SRP sketches), the textstats pandas UDFs (winnowing,
repetition stats) and the multimodal mapInPandas byte passes
(metadata, frame sampling, byte histograms)."""
