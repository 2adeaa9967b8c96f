"""Incremental ingest: Structured Streaming micro-batches -> index segments.

The reference is strictly batch (SURVEY.md §2.9) — its only nod to
incrementality is a scroll-loop TODO (reference ElasticsearchHandler.py:5).
This module is the engine-side growth path the north star implies
("index builds are resumable … segment merge is an idempotent sorted-merge
job"): a continuously-arriving page table (new crawl files landing in a
directory / an Iceberg table's new snapshots) is consumed with
``readStream``; every micro-batch becomes one immutable index segment via
``foreachBatch``, and compaction folds segments into the root.

Consistency model:
- Global BM25 stats (N, total tokens -> avgdl) are maintained as running
  sums in ``stream_stats.json`` and updated atomically per batch; the
  first append to an index made by ``build_index`` seeds them from its
  root meta. Every segment records the stats it was encoded under.
- Scoring is exact at any time: scores use the CURRENT meta avgdl, and
  postings store only stats-independent tf/doclen.
- Batch replay after a crash overwrites the same ``stream_{batch_id}``
  segment (idempotent); the streaming checkpoint dir gives exactly-once
  batch ids.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame

from sparkfts.index import META_FILE, build_index, read_meta

STATS_FILE = "stream_stats.json"


def _read_running(index_dir: str) -> dict:
    path = os.path.join(index_dir, STATS_FILE)
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    if os.path.exists(os.path.join(index_dir, META_FILE)):
        # first append to a built index: its docs count toward the stats
        meta = read_meta(index_dir)
        return {
            "n_docs": meta["n_docs"],
            "total_tokens": round(meta["n_docs"] * meta["avgdl"]),
            "batches": [],
        }
    return {"n_docs": 0, "total_tokens": 0, "batches": []}


def _write_json_atomic(path: str, obj: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=2)
    os.replace(tmp, path)


SEEN_DIR = "seen_hashes"


def _dedup_against_seen(
    batch_df: DataFrame, batch_id: int, index_dir: str
) -> DataFrame:
    """Streaming dedup-on-ingest: drop pages whose exact content was
    already indexed by an EARLIER batch, and within-batch duplicates
    (deterministic keep: smallest url per content hash).

    State is a parquet table of (content_md5, url) per ingest batch under
    ``<index>/seen_hashes/batch=<id>``; the anti-join reads only batches
    < the current id, so replaying a crashed batch sees exactly the state
    it saw the first time (idempotent with the segment overwrite). At
    scale this is one hash-keyed shuffle join per micro-batch against a
    16-bytes/doc table — the standard shape (a bloom filter in front
    would cut the probe volume; not needed at sandbox sizes).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    spark = batch_df.sparkSession
    hashed = batch_df.withColumn("content_md5", F.md5(F.col("text")))
    w = Window.partitionBy("content_md5").orderBy("url")
    hashed = (
        hashed.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    seen_root = os.path.join(index_dir, SEEN_DIR)
    earlier = [
        d
        for d in (os.listdir(seen_root) if os.path.isdir(seen_root) else [])
        if d.startswith("batch=") and int(d.split("=")[1]) < int(batch_id)
    ]
    if earlier:
        seen = spark.read.parquet(
            *[os.path.join(seen_root, d) for d in earlier]
        ).select("content_md5")
        hashed = hashed.join(seen, "content_md5", "left_anti")
    # commit this batch's hash set (overwrite => replay-idempotent)
    (
        hashed.select("content_md5", "url")
        .write.mode("overwrite")
        .parquet(os.path.join(seen_root, f"batch={int(batch_id)}"))
    )
    return hashed.drop("content_md5")


def ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_dir: str,
    n_shards: int = 8,
    n_tbuckets: int = 16,
    dedup: bool = False,
    positions: bool = False,
    stopwords: list[str] | None = None,
    stemmer: str | None = None,
    store_source: bool | None = None,
    routing_col: str | None = None,
    docvalue_cols: list[str] | None = None,
    expander: str | None = None,
) -> dict | None:
    """foreachBatch handler: one micro-batch -> one segment + stats update.

    Safe to call directly for a batch-incremental (non-streaming) append.
    ``dedup=True`` drops exact-content duplicates against everything an
    earlier batch indexed (see :func:`_dedup_against_seen`).
    ``positions=True`` also writes the segment's positions table, so
    phrase queries work over streamed indexes.
    ``stopwords``: defaults to the ROOT index's meta list when appending
    to an existing index, so streamed segments analyze identically to
    the base build (a silent analyzer mismatch would corrupt stats).
    """
    from pyspark.sql import functions as F

    from sparkfts.tokens import build_docmap, prepare_pages

    if os.path.exists(os.path.join(index_dir, META_FILE)):
        root_meta = read_meta(index_dir)
        if stopwords is None:
            stopwords = root_meta.get("stopwords") or None
        if stemmer is None:
            # streamed segments must analyze exactly like the base build
            stemmer = root_meta.get("stemmer") or None
        if store_source is None:
            # segments must store _source iff the base build does, or
            # reindex/merge would see a partial source table
            store_source = bool(root_meta.get("store_source", False))
        if routing_col is None:
            # routed indexes must shard streamed docs identically or a
            # doc's postings would straddle shards (breaking the
            # in-shard completeness invariant every kernel relies on)
            routing_col = root_meta.get("routing_col") or None
        if docvalue_cols is None:
            # segment docmaps must carry the same docvalue columns as
            # the base build or the cross-segment docmap union breaks
            docvalue_cols = root_meta.get("docvalue_cols") or None
        if expander is None:
            # streamed segments must expand tokens exactly like the
            # base build (edge_ngram/shingle indexes)
            expander = root_meta.get("expander") or None

    seg_name = f"stream_{int(batch_id):08d}"
    running = _read_running(index_dir)
    if seg_name in running["batches"]:
        return None  # replay of a committed batch: segment already final

    if dedup:
        batch_df = _dedup_against_seen(batch_df, batch_id, index_dir)
    keep = sorted(
        ({routing_col} | set(docvalue_cols or [])) - {None}
    ) if (routing_col or docvalue_cols) else None
    prepared = prepare_pages(batch_df, keep_cols=keep).cache()
    row = build_docmap(prepared, stopwords=stopwords,
                   stemmer=stemmer, expander=expander).agg(
        F.count("*").alias("n"),
        F.sum(F.col("doclen").cast("long")).alias("t"),
    ).collect()[0]
    b_docs, b_tokens = int(row["n"]), int(row["t"] or 0)
    if b_docs == 0:
        prepared.unpersist()
        return None

    new_docs = running["n_docs"] + b_docs
    new_tokens = running["total_tokens"] + b_tokens
    new_avgdl = new_tokens / new_docs

    meta = build_index(
        batch_df,
        index_dir,
        n_shards=n_shards,
        n_tbuckets=n_tbuckets,
        segment=seg_name,
        shard_filter=list(range(n_shards)),
        fixed_stats=(new_docs, new_avgdl),
        stopwords=stopwords,
        stemmer=stemmer,
        store_source=bool(store_source),
        routing_col=routing_col,
        docvalue_cols=list(docvalue_cols) if docvalue_cols else None,
        expander=expander,
    )
    if positions:
        # before the stats commit: a crash here replays the whole batch
        # (segment + positions are both idempotent overwrites)
        from sparkfts.phrase import build_positions

        build_positions(batch_df, index_dir, segment=seg_name)
    prepared.unpersist()

    # commit order: segment + positions (above) -> running stats -> root meta
    running["n_docs"] = new_docs
    running["total_tokens"] = new_tokens
    running["batches"].append(seg_name)
    _write_json_atomic(os.path.join(index_dir, STATS_FILE), running)

    root_meta_path = os.path.join(index_dir, META_FILE)
    if os.path.exists(root_meta_path):
        root = read_meta(index_dir)
    else:
        root = dict(meta)
    root.update(
        {
            "n_docs": new_docs,
            "avgdl": new_avgdl,
            "n_shards": n_shards,
            "n_tbuckets": n_tbuckets,
            "segment": None,
        }
    )
    _write_json_atomic(root_meta_path, root)
    return root


def windowed_event_counts(
    events_stream: DataFrame,
    window_dur: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    key_col: str = "event_type",
) -> DataFrame:
    """Watermarked tumbling-window counts over an event stream — the
    late-data shape (`withWatermark` + windowed agg, append mode): a
    window emits exactly once, after the watermark passes its end; events
    arriving later than the watermark are dropped by the engine. The
    batch equivalent is the ``tumbling_window`` driver entry.
    """
    from pyspark.sql import functions as F

    return (
        events_stream.withWatermark(ts_col, watermark)
        .groupBy(
            F.window(F.col(ts_col), window_dur).alias("w"),
            F.col(key_col),
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").cast("timestamp").cast("long").alias(
                "window_epoch"
            ),
            key_col,
            "n_events",
        )
    )


def start_incremental_index(
    spark,
    input_dir: str,
    index_dir: str,
    stream_checkpoint: str,
    n_shards: int = 8,
    n_tbuckets: int = 16,
    available_now: bool = True,
    dedup: bool = False,
    positions: bool = False,
):
    """Start the streaming ingest over a parquet directory source.

    ``available_now=True`` drains everything currently present then stops
    (the batch-incremental mode the tests use); ``False`` runs until
    killed, indexing new files as they land.
    """
    from sparkfts.synth import PAGE_SCHEMA

    stream = (
        spark.readStream.schema(PAGE_SCHEMA)
        .parquet(input_dir)
    )
    writer = (
        stream.writeStream.option("checkpointLocation", stream_checkpoint)
        .foreachBatch(
            lambda df, bid: ingest_batch(
                df,
                bid,
                index_dir,
                n_shards=n_shards,
                n_tbuckets=n_tbuckets,
                dedup=dedup,
                positions=positions,
            )
        )
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()
