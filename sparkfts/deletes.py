"""Document deletion: tombstones now, physical reclaim at merge.

The Lucene/ES model: a delete does NOT rewrite posting lists — it
records the doc id in a tombstone set that every query path masks out
(before top-k selection, so results are exact over the live doc set);
``merge_segments`` later drops tombstoned postings/docmap rows
physically, recomputes corpus stats over the survivors, and clears the
tombstones.

Consistency model (matches ES/Lucene):
- results NEVER contain a deleted doc, from the moment of deletion;
- corpus statistics (N, avgdl, df) still include deleted docs until the
  next merge, so surviving docs keep their pre-delete scores — exactly
  Lucene's numDocs-vs-maxDoc drift, resolved by compaction.

Scale note: the tombstone set ships to kernels as a sorted int64 array
(8 bytes/deleted doc — Lucene's live-docs bitmap equivalent). Merge
bounds its size; a deployment deleting a large fraction of the corpus
should compact rather than accumulate.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import SparkSession

TOMBSTONE_DIR = "tombstones"


def delete_docs(
    spark: SparkSession, index_dir: str, doc_ids: list[int]
) -> int:
    """Tombstone ``doc_ids``. Returns the total tombstone count.

    Appends a parquet file per call (no read-modify-write races between
    concurrent deleters); duplicates across calls are harmless (the mask
    is a set).
    """
    ids = sorted({int(d) for d in doc_ids})
    if ids:
        df = spark.createDataFrame([(d,) for d in ids], "doc_id long")
        df.coalesce(1).write.mode("append").parquet(
            os.path.join(index_dir, TOMBSTONE_DIR)
        )
    t = load_tombstones(spark, index_dir)
    return 0 if t is None else int(t.size)


def delete_by_query(
    spark: SparkSession,
    index_dir: str,
    query: str,
    mode: str = "and",
) -> int:
    """ES ``_delete_by_query``: tombstone every doc matching the
    query. Returns the number of NEWLY deleted docs (already-deleted
    docs are masked out of the match set, so replays count 0 — ES's
    ``deleted`` semantics).

    Scale shape: the match set is written straight to the tombstone
    table as a distributed parquet append — matched ids are never
    collected to the driver; the only driver-side scalar is the
    map-side-aggregated count."""
    from sparkfts.aggs import match_docs_batch

    matched = match_docs_batch(
        spark, index_dir, [(0, query)], mode
    ).select("doc_id")
    matched = matched.cache()
    n = matched.count()
    if n:
        matched.write.mode("append").parquet(
            os.path.join(index_dir, TOMBSTONE_DIR)
        )
    matched.unpersist()
    return int(n)


def load_tombstones(
    spark: SparkSession, index_dir: str
) -> np.ndarray | None:
    """Sorted unique tombstoned doc ids, or None when there are none."""
    path = os.path.join(index_dir, TOMBSTONE_DIR)
    if not os.path.isdir(path):
        return None
    rows = spark.read.parquet(path).select("doc_id").distinct().collect()
    if not rows:
        return None
    return np.array(sorted(r["doc_id"] for r in rows), np.int64)


def clear_tombstones(index_dir: str) -> None:
    import shutil

    shutil.rmtree(os.path.join(index_dir, TOMBSTONE_DIR), ignore_errors=True)
