"""Resumable index builds: per-shard-batch checkpoints, lineage, metrics.

North-rule requirement: "resumable from checkpoint with per-partition
lineage + metrics". Protocol (SURVEY.md §4.2, §7.3):

  - Global corpus stats (N, avgdl) are computed ONCE and persisted to
    ``stats.json`` before any shard builds — every batch scores
    against the same normalization.
  - Work is partitioned by doc-space shard; each job builds a batch of
    shards into its own *segment* directory (idempotent overwrite).
  - A shard is committed by atomically renaming its checkpoint JSON into
    ``checkpoints/`` AFTER the segment write succeeds. A crash between
    write and commit re-runs the whole batch — an overwrite of the same
    segment, hence byte-identical output (FIXTURES.md §6).
  - Resume = anti-join of all shards against committed checkpoints.
  - Each checkpoint row carries lineage (input path, config, stats) and
    metrics (docs, postings, bytes in/out, docs/sec, postings/sec) — the
    north-star per-partition observability.

Parquet-fallback atomicity: temp-file + ``os.replace`` per checkpoint
(single-file rename is atomic on POSIX); with an Iceberg catalog the same
records would land in a checkpoint table inside the write's snapshot.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparkfts import BM25_B, BM25_K1
from sparkfts.index import META_FILE, build_index
from sparkfts.tokens import prepare_pages

STATS_FILE = "stats.json"


def _ckpt_dir(index_dir: str) -> str:
    return os.path.join(index_dir, "checkpoints")


def read_checkpoints(index_dir: str) -> dict[int, dict]:
    """Committed shard -> checkpoint record."""
    d = _ckpt_dir(index_dir)
    out: dict[int, dict] = {}
    if not os.path.isdir(d):
        return out
    for name in os.listdir(d):
        if name.startswith("shard_") and name.endswith(".json"):
            with open(os.path.join(d, name)) as f:
                rec = json.load(f)
            out[int(rec["partition_id"])] = rec
    return out


def write_checkpoint(index_dir: str, record: dict) -> None:
    """Atomic commit of one shard's checkpoint (temp + rename)."""
    d = _ckpt_dir(index_dir)
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"shard_{record['partition_id']}.json")
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(record, f, indent=2)
    os.replace(tmp, path)


def global_stats(
    pages: DataFrame, index_dir: str, validate_extraction: bool = False
) -> tuple[int, float]:
    """Compute-or-reuse pinned global (n_docs, avgdl)."""
    path = os.path.join(index_dir, STATS_FILE)
    if os.path.exists(path):
        with open(path) as f:
            s = json.load(f)
        return int(s["n_docs"]), float(s["avgdl"])
    # one cheap pass: vectorized regex COUNT per doc (sum(doclen) == total
    # tokens, so avgdl is bit-identical to tokenizing), not a full
    # tokenize+explode of the corpus
    prepared = prepare_pages(pages, validate_extraction=validate_extraction)
    from sparkfts.tokens import build_docmap

    row = build_docmap(prepared).agg(
        F.count("*").alias("n"), F.sum(F.col("doclen").cast("long")).alias("t")
    ).collect()[0]
    n_docs = int(row["n"])
    avgdl = (int(row["t"] or 0) / n_docs) if n_docs else 0.0
    os.makedirs(index_dir, exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"n_docs": n_docs, "avgdl": avgdl}, f)
    os.replace(tmp, path)
    return n_docs, avgdl


def resumable_build(
    pages: DataFrame,
    index_dir: str,
    n_shards: int = 8,
    n_tbuckets: int = 16,
    shards_per_job: int = 2,
    validate_extraction: bool = False,
    input_path: str | None = None,
    fault_injector=None,
) -> dict:
    """Build the index as a sequence of per-shard-batch jobs, resumably.

    ``fault_injector(completed_shards)`` is a test hook called after each
    batch commit; raising from it simulates a mid-build crash.

    At 10^12-doc scale each batch is an independent spark-submit run over
    a doc-space slice; locally it's a loop of Spark jobs on one session.
    """
    n_docs, avgdl = global_stats(pages, index_dir, validate_extraction)
    done = read_checkpoints(index_dir)
    todo = [s for s in range(n_shards) if s not in done]
    job_id = f"build_{n_shards}s"

    for i in range(0, len(todo), shards_per_job):
        batch = todo[i : i + shards_per_job]
        seg_name = "shards_" + "_".join(map(str, batch))
        t0 = time.time()
        build_index(
            pages,
            index_dir,
            n_shards=n_shards,
            n_tbuckets=n_tbuckets,
            shard_filter=batch,
            segment=seg_name,
            fixed_stats=(n_docs, avgdl),
            validate_extraction=False,  # done once in global_stats if asked
        )
        wall = time.time() - t0
        # per-shard metrics from the segment just written
        spark = pages.sparkSession
        seg = os.path.join(index_dir, "segments", seg_name)
        pm = (
            spark.read.parquet(os.path.join(seg, "postings"))
            .groupBy("shard")
            .agg(
                F.sum("df_shard").alias("postings"),
                F.sum(
                    F.length("doc_ids") + F.length("tfs") + F.length("doclens")
                ).alias("bytes_out"),
            )
            .collect()
        )
        dm = (
            spark.read.parquet(os.path.join(seg, "docmap"))
            .groupBy("shard")
            .agg(F.count("*").alias("docs"), F.sum("doclen").alias("tokens"))
            .collect()
        )
        pm_by = {r["shard"]: r for r in pm}
        dm_by = {r["shard"]: r for r in dm}
        for shard in batch:
            docs = int(dm_by[shard]["docs"]) if shard in dm_by else 0
            postings = int(pm_by[shard]["postings"]) if shard in pm_by else 0
            bytes_out = int(pm_by[shard]["bytes_out"]) if shard in pm_by else 0
            write_checkpoint(
                index_dir,
                {
                    "job_id": job_id,
                    "partition_id": shard,
                    "status": "done",
                    "segment": seg_name,
                    "docs": docs,
                    "postings": postings,
                    "bytes_in": int(dm_by[shard]["tokens"]) if shard in dm_by else 0,
                    "bytes_out": bytes_out,
                    "wall_sec": round(wall, 3),
                    "docs_per_sec": round(docs / wall, 1) if wall else None,
                    "postings_per_sec": round(postings / wall, 1) if wall else None,
                    "lineage": {
                        "input_path": input_path,
                        "n_shards": n_shards,
                        "n_tbuckets": n_tbuckets,
                        "n_docs_global": n_docs,
                        "avgdl_global": avgdl,
                    },
                },
            )
        if fault_injector is not None:
            fault_injector(sorted(set(done) | set(todo[: i + len(batch)])))

    meta = {
        "version": 1,
        "n_docs": n_docs,
        "avgdl": avgdl,
        "n_shards": n_shards,
        "n_tbuckets": n_tbuckets,
        "k1": BM25_K1,
        "b": BM25_B,
        "segments": sorted(
            os.listdir(os.path.join(index_dir, "segments"))
        )
        if os.path.isdir(os.path.join(index_dir, "segments"))
        else [],
    }
    tmp = os.path.join(index_dir, META_FILE + ".tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f, indent=2)
    os.replace(tmp, os.path.join(index_dir, META_FILE))
    return meta
