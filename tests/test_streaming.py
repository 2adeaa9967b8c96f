"""Incremental ingest: streaming micro-batches -> segments -> merged index.

Covers SURVEY.md §2.9's engine-side growth path: file-source readStream
with availableNow drain, per-batch segment commit + running global stats
(seeded from a built index's meta on the first append), idempotent batch
replay, and rank-identity against the oracle over the full accumulated
corpus, before and after the merge.
"""

from __future__ import annotations

import os

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F
import pytest

from oracle.bm25 import BM25Oracle
from sparkfts.index import read_meta
from sparkfts.merge import merge_segments
from sparkfts.query import bm25_index_batch
from sparkfts.streaming import ingest_batch, start_incremental_index
from sparkfts.synth import gen_corpus
from sparkfts.tokens import sha1_doc_id


@pytest.fixture(scope="module")
def two_waves(tmp_path_factory):
    d = tmp_path_factory.mktemp("stream_src")
    full = gen_corpus(200, seed=5)
    pq.write_table(full.slice(0, 120), os.path.join(str(d), "wave1.parquet"))
    return str(d), full


def _oracle_of(table):
    ids = sha1_doc_id(pd.Series(table.column("url").to_pylist()))
    return BM25Oracle(zip(ids.tolist(), table.column("text").to_pylist()))


def test_streaming_ingest_and_merge(spark, two_waves, tmp_path):
    src, full = two_waves
    idx = os.path.join(str(tmp_path), "idx")
    ckpt = os.path.join(str(tmp_path), "ckpt")

    # wave 1: drain what's present
    start_incremental_index(spark, src, idx, ckpt, n_shards=4, n_tbuckets=8)
    meta = read_meta(idx)
    assert meta["n_docs"] == 120

    # queries against the appended, unmerged index are exact
    oracle1 = _oracle_of(full.slice(0, 120))
    term = max(oracle1.postings, key=oracle1.df)
    got = bm25_index_batch(spark, idx, [(0, term, 10)], mode="or").collect()
    exp = oracle1.search(term, k=10, mode="or")
    assert [r["doc_id"] for r in got] == [d for d, _ in exp]

    # wave 2 lands; drain again (new streaming query, same checkpoint)
    pq.write_table(full.slice(120), os.path.join(src, "wave2.parquet"))
    start_incremental_index(spark, src, idx, ckpt, n_shards=4, n_tbuckets=8)
    meta = read_meta(idx)
    assert meta["n_docs"] == 200

    # compact; stats final
    merge_segments(spark, idx)
    meta = read_meta(idx)
    assert meta["segments"] == []

    # full-corpus rank-identity
    oracle = _oracle_of(full)
    for mode in ("and", "or"):
        got = bm25_index_batch(spark, idx, [(0, term, 10)], mode=mode).collect()
        exp = oracle.search(term, k=10, mode=mode)
        assert [r["doc_id"] for r in got] == [d for d, _ in exp], mode
        for r, (_, s) in zip(got, exp):
            assert r["score"] == pytest.approx(s, rel=1e-9)


def test_ingest_into_built_index_with_docvalues(spark, tmp_path):
    """Appending to an index built with doc-value columns and no routing
    column inherits the doc-value columns."""
    from sparkfts.index import build_index, load_docmap

    idx = os.path.join(str(tmp_path), "dv_idx")
    pdf = gen_corpus(40, seed=17).to_pandas()
    build_index(spark.createDataFrame(pdf.iloc[:30]), idx, n_shards=2,
                n_tbuckets=4, docvalue_cols=["lang"])
    meta = ingest_batch(spark.createDataFrame(pdf.iloc[30:]), 0, idx,
                        n_shards=2, n_tbuckets=4)
    assert meta["n_docs"] == 40 and meta["docvalue_cols"] == ["lang"]
    got = {r["url"]: r["lang"] for r in load_docmap(spark, idx).collect()}
    assert got == dict(zip(pdf["url"], pdf["lang"]))


def test_ingest_into_built_index_keeps_its_stats(spark, tmp_path):
    """Appending M docs to a built N-doc index: running stats start from
    the built index's meta, so the unmerged index scores like the oracle
    over all N+M docs (OR top-k over its segments, k=10 and k=1)."""
    from sparkfts.index import build_index

    idx = os.path.join(str(tmp_path), "built_then_append")
    full = gen_corpus(80, seed=23)
    build_index(spark.createDataFrame(full.slice(0, 60).to_pandas()), idx,
                n_shards=4, n_tbuckets=8)
    ingest_batch(spark.createDataFrame(full.slice(60).to_pandas()), 0, idx,
                 n_shards=4, n_tbuckets=8)
    meta = read_meta(idx)
    oracle = _oracle_of(full)
    assert meta["n_docs"] == 80 == oracle.n_docs
    assert meta["avgdl"] == pytest.approx(oracle.avgdl, rel=1e-12)
    terms = sorted(oracle.postings, key=oracle.df, reverse=True)
    queries = [" ".join(terms[:2]), " ".join(terms[5:8]), terms[-1]]
    pairs = [(q, k) for q in queries for k in (10, 1)]
    batch = [(i, q, k) for i, (q, k) in enumerate(pairs)]
    got = bm25_index_batch(spark, idx, batch, mode="or").collect()
    for qid, q, k in batch:
        rows = sorted((r for r in got if r["query_id"] == qid),
                      key=lambda r: r["rank"])
        exp = oracle.search(q, k=k, mode="or")
        assert [r["doc_id"] for r in rows] == [d for d, _ in exp], q
        for r, (_, sc) in zip(rows, exp):
            assert r["score"] == pytest.approx(sc, rel=1e-9)


def test_ingest_batch_replay_is_noop(spark, two_waves, tmp_path):
    src, full = two_waves
    idx = os.path.join(str(tmp_path), "idx2")
    batch = spark.createDataFrame(full.slice(0, 50).to_pandas())
    assert ingest_batch(batch, 0, idx, n_shards=2, n_tbuckets=4) is not None
    n1 = read_meta(idx)["n_docs"]
    # replay of the same committed batch id must not double-count
    assert ingest_batch(batch, 0, idx, n_shards=2, n_tbuckets=4) is None
    assert read_meta(idx)["n_docs"] == n1 == 50


def test_ingest_dedup_across_batches(spark, tmp_path):
    """dedup=True drops exact-content repeats across micro-batches and
    within a batch, with deterministic keep and replay idempotence."""
    idx = os.path.join(str(tmp_path), "dedup_idx")
    full = gen_corpus(60, seed=9)
    pdf = full.to_pandas()

    b1 = spark.createDataFrame(pdf.iloc[:40])
    r1 = ingest_batch(b1, 0, idx, n_shards=4, n_tbuckets=8, dedup=True)
    assert r1["n_docs"] == 40

    # batch 2: 20 new docs + 10 exact repeats of batch 1 under new urls
    rep = pdf.iloc[:10].copy()
    rep["url"] = ["https://mirror.example/" + str(i) for i in range(10)]
    b2 = spark.createDataFrame(
        pd.concat([pdf.iloc[40:], rep], ignore_index=True)
    )
    r2 = ingest_batch(b2, 1, idx, n_shards=4, n_tbuckets=8, dedup=True)
    assert r2["n_docs"] == 60  # repeats dropped, only 20 new docs added

    # the mirrored urls never got indexed
    from sparkfts.index import load_docmap

    urls = {r["url"] for r in load_docmap(spark, idx).collect()}
    assert not any(u.startswith("https://mirror.example/") for u in urls)

    # replay of a committed batch stays a no-op
    assert ingest_batch(b2, 1, idx, n_shards=4, n_tbuckets=8, dedup=True) is None
    assert read_meta(idx)["n_docs"] == 60


def test_ingest_dedup_within_batch(spark, tmp_path):
    idx = os.path.join(str(tmp_path), "dedup_idx2")
    full = gen_corpus(20, seed=13)
    pdf = full.to_pandas()
    dup = pdf.iloc[:5].copy()
    dup["url"] = ["https://dup.example/" + str(i) for i in range(5)]
    batch = spark.createDataFrame(pd.concat([pdf, dup], ignore_index=True))
    r = ingest_batch(batch, 0, idx, n_shards=4, n_tbuckets=8, dedup=True)
    assert r["n_docs"] == 20
    # deterministic keep: the lexicographically-smallest url survives
    from sparkfts.index import load_docmap

    kept = {r["url"] for r in load_docmap(spark, idx).collect()}
    for i in range(5):
        a, b = pdf.iloc[i]["url"], f"https://dup.example/{i}"
        assert min(a, b) in kept and max(a, b) not in kept


def test_windowed_counts_watermark_drops_late_events(spark, tmp_path):
    """Append-mode watermarked windows emit once, finalized, and exclude
    events later than the watermark."""
    from datetime import datetime

    import pyarrow as pa

    from sparkfts.streaming import windowed_event_counts

    src = os.path.join(str(tmp_path), "ev_src")
    ckpt = os.path.join(str(tmp_path), "ev_ckpt")
    os.makedirs(src)

    def write_wave(name, rows):
        pdf = pd.DataFrame(rows, columns=["event_id", "event_type", "ts"])
        pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
        pq.write_table(pa.Table.from_pandas(pdf), os.path.join(src, name))

    out_dir = os.path.join(str(tmp_path), "win_out")

    def drain():
        stream = spark.readStream.schema(
            "event_id long, event_type string, ts timestamp"
        ).parquet(src)
        q = (
            windowed_event_counts(stream)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # wave 1: two events in the 10:00 window; a 13:30 event pushes the
    # watermark to 11:30, past the 10:00 window's end
    write_wave("w1.parquet", [
        (1, "view", "2024-01-01 10:05:00"),
        (2, "view", "2024-01-01 10:20:00"),
        (3, "view", "2024-01-01 13:30:00"),
    ])
    drain()
    # wave 2: a LATE event for the closed 10:00 window (must be dropped)
    # and a fresh one that advances the watermark further
    write_wave("w2.parquet", [
        (4, "view", "2024-01-01 10:10:00"),   # later than watermark 11:30
        (5, "view", "2024-01-01 16:00:00"),
    ])
    drain()

    rows = spark.read.parquet(out_dir).collect()
    base = int(datetime(2024, 1, 1, 10).timestamp())
    by_win = {(r["window_epoch"], r["event_type"]): r["n_events"]
              for r in rows}
    # the 10:00 window emitted exactly once, with the ORIGINAL 2 events
    assert by_win.get((base, "view")) == 2
    assert sum(1 for r in rows if r["window_epoch"] == base) == 1


def test_recrawl_update_newest_wins_after_merge(spark, tmp_path):
    """Re-ingesting a url with changed text is the engine's document
    UPDATE: after merge, the newest version fully replaces the old one
    (ES index/upsert parity; overlapping segments are the documented
    pre-merge caveat)."""
    from sparkfts.merge import merge_segments
    from sparkfts.query import bm25_index_batch
    from sparkfts.streaming import ingest_batch
    from sparkfts.synth import gen_corpus
    from sparkfts.tokens import sha1_doc_id

    idx = os.path.join(str(tmp_path), "upsert_idx")
    full = gen_corpus(60, seed=31)
    pdf = full.to_pandas()
    ingest_batch(
        spark.createDataFrame(pdf.iloc[:50]), 0, idx, n_shards=4, n_tbuckets=8
    )
    # re-crawl doc 0's url with brand-new content + 10 genuinely new docs
    target_url = pdf.iloc[0]["url"]
    recrawl = pdf.iloc[[0]].copy()
    recrawl["text"] = "freshly recrawled exclusive zanzibar content words"
    recrawl["html"] = recrawl["text"]
    wave2 = pd.concat([pdf.iloc[50:], recrawl], ignore_index=True)
    ingest_batch(
        spark.createDataFrame(wave2), 1, idx, n_shards=4, n_tbuckets=8
    )
    merge_segments(spark, idx)

    doc_id = int(sha1_doc_id(pd.Series([target_url]))[0])
    # new-content term finds the doc …
    hits_new = bm25_index_batch(spark, idx, [(0, "zanzibar", 10)]).collect()
    assert [r["doc_id"] for r in hits_new] == [doc_id]
    # … and a term unique to the OLD text no longer matches it
    from sparkfts.analysis import tokenize

    old_terms = set(tokenize(pdf.iloc[0]["text"]))
    other_terms = {
        t for txt in pdf.iloc[1:50]["text"] for t in tokenize(txt)
    }
    uniq_old = sorted(old_terms - other_terms - set(tokenize(
        "freshly recrawled exclusive zanzibar content words")))
    if uniq_old:  # synthetic corpora usually have doc-unique tokens
        hits_old = bm25_index_batch(
            spark, idx, [(0, uniq_old[0], 10)]
        ).collect()
        assert doc_id not in {r["doc_id"] for r in hits_old}
    # docmap holds exactly one row for the doc, with the new doclen
    from sparkfts.index import load_docmap

    rows = load_docmap(spark, idx).where(F.col("doc_id") == doc_id).collect()
    assert len(rows) == 1
    assert rows[0]["doclen"] == 6
