"""search_engine_spark — a PySpark-native inverted-index build + BM25
query engine, rebuilt from scratch with the capabilities of
ericlief/search-engine (reference at /root/reference, read-only).

Architecture (Spark-first, NOT a port):

- ``sources``   — transcripts table loaders/generators (Iceberg-shaped;
                  parquet locally), index/doc-stat sinks.
- ``functions`` — vectorized tokenizer (pandas UDF + pure-SQL twin),
                  portable md5-based hashing. Posting compression is
                  Parquet's (DELTA_BINARY_PACKED arrays, zstd), not
                  an engine codec.
- ``operators`` — index build (salted posting assembly, df/cf,
                  block-max metadata), BM25/SMART query engine (TAAT via
                  joins; exact BM25 served by ``wand.topk_auto``), dedup,
                  similarity search, text analysis, multimodal plumbing.
- ``plans``     — resumable checkpointed build driver + per-stage metrics.
- ``streaming`` — incremental index delta build (Structured Streaming).

Reference semantics are documented per-operator with file:line citations
into /root/reference (see SURVEY.md for the full inventory).
"""

__version__ = "0.1.0"
