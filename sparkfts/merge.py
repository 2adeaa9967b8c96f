"""Segment compaction: idempotent sorted merge of posting segments.

North rule: "segment merge is an idempotent sorted-merge job". Segments
accumulate from resumable shard-batch builds (disjoint doc spaces) and
from incremental corpus additions (overlapping shard spaces, possibly
re-crawled urls -> duplicate doc_ids). ``merge_segments`` compacts
everything into the root single-segment layout:

  - per (term, shard): decode every segment's sorted run, concatenate,
    stable-sort by (doc_id); on duplicate doc_ids the HIGHEST segment_id
    wins (newest crawl replaces oldest — FIXTURES.md §4);
  - global stats (n_docs, avgdl) are recomputed from the surviving docmap;
  - docmap rows are deduped the same way;
  - merge ∘ merge = merge: running on an already-compacted index decodes
    one run per (term, shard) and re-emits identical bytes.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from sparkfts.codec import decode_varint, delta_decode, delta_encode, encode_varint
from sparkfts.index import (
    POSTINGS_SCHEMA,
    load_docmap,
    load_postings,
    read_meta,
    segment_dirs,
    term_bucket,
)


def _merge_one_group(
    pdf: pd.DataFrame,
    n_tbuckets: int,
    tombstones: np.ndarray | None = None,
    superseded: tuple[np.ndarray, np.ndarray] | None = None,
) -> dict | None:
    """Merge one (term, shard) group's segment runs -> one postings row
    (or None when every posting was tombstoned away)."""
    segs = pdf["segment_id"].to_numpy()
    ids = np.concatenate(
        [delta_decode(decode_varint(b)) for b in pdf["doc_ids"]]
    ).astype(np.int64)
    tfs = np.concatenate([decode_varint(b) for b in pdf["tfs"]])
    dls = np.concatenate([decode_varint(b) for b in pdf["doclens"]])
    seg_of = np.repeat(segs, [len(decode_varint(b)) for b in pdf["tfs"]])
    if superseded is not None and superseded[0].size and ids.size:
        # a re-crawled doc's OLD version must lose ALL its postings, not
        # only the terms the new version shares: drop any entry whose doc
        # is superseded and whose segment is not the winning one
        sup_ids, sup_win = superseded
        pos = np.searchsorted(sup_ids, ids)
        pos_c = np.minimum(pos, sup_ids.size - 1)
        hit = sup_ids[pos_c] == ids
        drop = hit & (seg_of != sup_win[pos_c])
        if drop.any():
            keep = ~drop
            ids, tfs, dls, seg_of = (
                ids[keep], tfs[keep], dls[keep], seg_of[keep]
            )
    # sort by (doc_id, segment_id); stable keep-last -> newest segment wins
    order = np.lexsort((seg_of, ids))
    ids, tfs, dls = ids[order], tfs[order], dls[order]
    last = np.ones(ids.size, bool)
    last[:-1] = ids[1:] != ids[:-1]
    ids, tfs, dls = ids[last], tfs[last], dls[last]
    if tombstones is not None and tombstones.size and ids.size:
        from sparkfts.wand import exclude_mask

        keep = exclude_mask(ids, tombstones)
        ids, tfs, dls = ids[keep], tfs[keep], dls[keep]
    if ids.size == 0:
        return None
    term = pdf["term"].iloc[0]
    return {
        "term": term,
        "shard": int(pdf["shard"].iloc[0]),
        "df_shard": len(ids),
        "doc_ids": encode_varint(delta_encode(ids.astype(np.uint64))),
        "tfs": encode_varint(tfs),
        "doclens": encode_varint(dls),
        "tbucket": term_bucket(term, n_tbuckets),
    }


def _make_merge_stream(
    n_tbuckets: int,
    tombstones: np.ndarray | None = None,
    superseded: tuple[np.ndarray, np.ndarray] | None = None,
):
    """Streaming merge over (term, shard)-sorted postings rows.

    Same batched-group pattern as the build's encoder
    (sparkfts.index._make_postings_stream): one Arrow batch carries MANY
    groups, so per-group cost is the numpy merge itself, not a grouped-map
    UDF invocation per (term, shard) — the difference between ~|vocab| x
    n_shards UDF calls and ~n_partitions calls.
    """

    from collections.abc import Iterator

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pending: pd.DataFrame | None = None
        for pdf in batches:
            if pending is not None and len(pending):
                pdf = pd.concat([pending, pdf], ignore_index=True)
                pending = None
            if not len(pdf):
                continue
            terms = pdf["term"].to_numpy()
            shards = pdf["shard"].to_numpy()
            change = np.empty(len(pdf), bool)
            change[0] = True
            np.logical_or(
                terms[1:] != terms[:-1], shards[1:] != shards[:-1],
                out=change[1:],
            )
            starts = np.nonzero(change)[0]
            pending = pdf.iloc[starts[-1]:]
            if starts.size > 1:
                rows = [
                    r
                    for s, e in zip(starts[:-1], starts[1:])
                    if (r := _merge_one_group(
                        pdf.iloc[s:e], n_tbuckets, tombstones, superseded,
                    )) is not None
                ]
                if rows:
                    yield pd.DataFrame(rows)
        if pending is not None and len(pending):
            r = _merge_one_group(
                pending.reset_index(drop=True),
                n_tbuckets,
                tombstones,
                superseded,
            )
            if r is not None:
                yield pd.DataFrame([r])

    return gen


def merge_segments(
    spark: SparkSession,
    index_dir: str,
    stats: tuple[int, float] | None = None,
) -> dict:
    """Compact root + segments into the root layout. Returns final meta.

    ``stats``: override (n_docs, avgdl) when the corpus changed since the
    root meta was written; defaults to root ``meta.json``.
    """
    from sparkfts.deletes import clear_tombstones, load_tombstones

    meta = read_meta(index_dir)
    if stats is not None:
        meta["n_docs"], meta["avgdl"] = int(stats[0]), float(stats[1])
    tombstones = load_tombstones(spark, index_dir)
    dirs = segment_dirs(index_dir)
    if len(dirs) == 1 and dirs[0] == index_dir and tombstones is None:
        return meta  # already compact, nothing deleted

    docmap = load_docmap(spark, index_dir)
    # superseded docs: a doc_id present in >1 segment was re-crawled; its
    # OLD segments' postings/positions must vanish entirely (not just the
    # terms the new version shares). The set is small — re-crawls within
    # one merge window — so it ships to the kernels as sorted arrays.
    sup_rows = (
        docmap.groupBy("doc_id")
        .agg(
            F.countDistinct("segment_id").alias("nseg"),
            F.max("segment_id").alias("win"),
        )
        .where(F.col("nseg") > 1)
        .select("doc_id", "win")
        .collect()
    )
    superseded = None
    sup_df = None
    if sup_rows:
        pairs = sorted((int(r["doc_id"]), int(r["win"])) for r in sup_rows)
        superseded = (
            np.array([d for d, _ in pairs], np.int64),
            np.array([wn for _, wn in pairs], np.int64),
        )
        sup_df = spark.createDataFrame(pairs, "doc_id long, win int")
    w = Window.partitionBy("doc_id").orderBy(F.desc("segment_id"))
    docmap_merged = (
        docmap.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "segment_id")
    )
    if tombstones is not None:
        # physical reclaim: deleted docs leave the docmap
        tomb_df = spark.createDataFrame(
            [(int(d),) for d in tombstones], "doc_id long"
        )
        docmap_merged = docmap_merged.join(
            F.broadcast(tomb_df), "doc_id", "left_anti"
        )
    if stats is None:
        # final corpus stats from the surviving docmap. This also
        # corrects the running-stats drift a re-crawl introduces (the
        # ingest counter saw the doc twice).
        srow = docmap_merged.agg(
            F.count("*").alias("n"),
            F.sum(F.col("doclen").cast("long")).alias("t"),
        ).collect()[0]
        meta["n_docs"] = int(srow["n"])
        meta["avgdl"] = (
            int(srow["t"] or 0) / meta["n_docs"] if meta["n_docs"] else 0.0
        )

    postings = load_postings(spark, index_dir)  # carries segment_id
    n_parts = int(
        spark.conf.get("spark.sql.shuffle.partitions", "32")
    )
    merged = (
        postings.repartition(n_parts, "term", "shard")
        .sortWithinPartitions("term", "shard", "segment_id")
        .mapInPandas(
            _make_merge_stream(meta["n_tbuckets"], tombstones, superseded),
            POSTINGS_SCHEMA,
        )
    )
    tmp_postings = os.path.join(index_dir, "postings__merging")
    (
        merged.repartition(max(meta["n_tbuckets"] // 2, 1), "tbucket")
        .sortWithinPartitions("tbucket", "term")
        .write.mode("overwrite")
        .partitionBy("tbucket")
        .parquet(tmp_postings)
    )

    tmp_docmap = os.path.join(index_dir, "docmap__merging")
    (
        docmap_merged.repartition(meta["n_shards"], "shard")
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(tmp_docmap)
    )

    swaps = [("postings", tmp_postings), ("docmap", tmp_docmap)]

    # stored _source consolidates exactly like the docmap: newest
    # segment's text wins per doc_id, tombstoned docs reclaimed
    src_dirs = [d for d in dirs if os.path.isdir(os.path.join(d, "source"))]
    if src_dirs and len(src_dirs) < len(dirs):
        raise ValueError(
            "some segments store _source and some don't — a merge would "
            f"silently drop stored text (missing: "
            f"{[d for d in dirs if d not in src_dirs]})"
        )
    if src_dirs:
        from sparkfts.index import load_source

        src = load_source(spark, index_dir)
        src_merged = (
            src.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn", "segment_id")
        )
        if tombstones is not None:
            tomb_src = spark.createDataFrame(
                [(int(d),) for d in tombstones], "doc_id long"
            )
            src_merged = src_merged.join(
                F.broadcast(tomb_src), "doc_id", "left_anti"
            )
        tmp_source = os.path.join(index_dir, "source__merging")
        (
            src_merged.repartition(meta["n_shards"], "shard")
            .sortWithinPartitions("doc_id")
            .write.mode("overwrite")
            .partitionBy("shard")
            .parquet(tmp_source)
        )
        swaps.append(("source", tmp_source))

    # positions (phrase support) live per segment too — consolidate them
    # into the root BEFORE the segment dirs are deleted, deduping
    # re-crawled doc_ids newest-segment-wins like the docmap
    pos_dirs = [
        (i, d)
        for i, d in enumerate(dirs)
        if os.path.isdir(os.path.join(d, "positions"))
    ]
    if pos_dirs:
        from functools import reduce

        from sparkfts.phrase import POSITIONS_SCHEMA

        parts = [
            spark.read.schema(POSITIONS_SCHEMA)
            .parquet(os.path.join(d, "positions"))
            .withColumn("segment_id", F.lit(i))
            for i, d in pos_dirs
        ]
        pos_all = reduce(lambda a, b: a.unionByName(b), parts)
        wp = Window.partitionBy("doc_id", "term").orderBy(
            F.desc("segment_id")
        )
        if sup_df is not None:
            # drop the OLD versions' position rows entirely (old-only
            # terms included), keeping only the winning segment's rows
            pos_all = pos_all.join(
                F.broadcast(sup_df), "doc_id", "left"
            ).where(
                F.col("win").isNull()
                | (F.col("segment_id") == F.col("win"))
            ).drop("win")
        pos_merged = (
            pos_all.withColumn("_rn", F.row_number().over(wp))
            .where(F.col("_rn") == 1)
            .drop("_rn", "segment_id")
        )
        if tombstones is not None:
            tomb_df2 = spark.createDataFrame(
                [(int(d),) for d in tombstones], "doc_id long"
            )
            pos_merged = pos_merged.join(
                F.broadcast(tomb_df2), "doc_id", "left_anti"
            )
        tmp_positions = os.path.join(index_dir, "positions__merging")
        (
            pos_merged.repartition(meta["n_tbuckets"], "tbucket")
            .sortWithinPartitions("tbucket", "term", "shard", "doc_id")
            .write.mode("overwrite")
            .partitionBy("tbucket")
            .parquet(tmp_positions)
        )
        swaps.append(("positions", tmp_positions))

    # swap: new dirs in, old dirs + segments out (directory renames are not
    # atomic as a group — an Iceberg catalog would make this one snapshot
    # commit; the parquet fallback orders operations so a crash leaves
    # either the old layout readable or the new one complete)
    for sub, tmp in swaps:
        final = os.path.join(index_dir, sub)
        if os.path.isdir(final):
            shutil.rmtree(final)
        os.rename(tmp, final)
    segs = os.path.join(index_dir, "segments")
    if os.path.isdir(segs):
        shutil.rmtree(segs)
    clear_tombstones(index_dir)  # deletes are now physical
    meta["segments"] = []

    from sparkfts.index import _write_terms

    _write_terms(spark, index_dir, meta["n_tbuckets"])

    import json

    tmppath = os.path.join(index_dir, "meta.json.tmp")
    with open(tmppath, "w") as f:
        json.dump(meta, f, indent=2)
    os.replace(tmppath, os.path.join(index_dir, "meta.json"))
    return meta
