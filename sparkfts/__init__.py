"""sparkfts — a PySpark-native full-text indexing + BM25 retrieval engine.

Re-implements, Spark-first, the search capabilities the reference repo
(remiBoudreau/ElasticsearchToNeo4jSynchronizer) delegates to Elasticsearch
through ``self.client.search`` (reference ElasticsearchHandler.py:69):
inverted-index construction, analysis/tokenization, boolean conjunction,
BM25 relevance scoring and top-k — plus the native dataflow the reference
implements itself (threshold filters, projections, micro-batched sinks;
reference ElasticsearchToNeo4jSync.py:252-271, Neo4jHandler.py:188-215).

Layering (see SURVEY.md §7):
  - :mod:`sparkfts.analysis`, :mod:`sparkfts.codec` — pure Python/numpy
    kernels, shared verbatim with the executable oracle in ``oracle/``.
  - :mod:`sparkfts.tokens`, :mod:`sparkfts.stats`, :mod:`sparkfts.index`,
    :mod:`sparkfts.query` — the Spark jobs (DataFrame plans + Arrow UDFs).
  - :mod:`sparkfts.storage`, :mod:`sparkfts.checkpoint` — table layer
    (Iceberg when the runtime jar is present, parquet+manifest fallback)
    and resumable per-partition checkpoints.
  - :mod:`sparkfts.ops` — large-scale training-data-pipeline operators
    (dedup, similarity search, text stats, multimodal plumbing).
"""

__version__ = "0.1.0"

BM25_K1 = 1.2
BM25_B = 0.75
