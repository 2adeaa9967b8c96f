"""Index build + query-over-index: rank-identity, format, idempotence."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from oracle.bm25 import BM25Oracle
from sparkfts.codec import decode_postings, decode_varint
from sparkfts.index import build_index, load_postings, read_meta
from sparkfts.query import bm25_index, bm25_index_batch
from sparkfts.tokens import sha1_doc_id


@pytest.fixture(scope="module")
def index_dir(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx"))
    pages = spark.createDataFrame(corpus.to_pandas())
    meta = build_index(
        pages, d, n_shards=4, n_tbuckets=8,
        validate_extraction=True,
    )
    assert meta["n_docs"] == corpus.num_rows
    return d


@pytest.fixture(scope="module")
def oracle(corpus):
    urls = pd.Series(corpus.column("url").to_pylist())
    ids = sha1_doc_id(urls)
    return BM25Oracle(zip(ids.tolist(), corpus.column("text").to_pylist()))


def _group(rows):
    by_qid: dict[int, list] = {}
    for r in rows:
        by_qid.setdefault(r["query_id"], []).append(r)
    for v in by_qid.values():
        v.sort(key=lambda r: r["rank"])
    return by_qid


def _check(expected, got):
    assert [d for d, _ in expected] == [r["doc_id"] for r in got]
    for (_, se), r in zip(expected, got):
        assert r["score"] == pytest.approx(se, rel=1e-9, abs=1e-12)


def test_meta_and_format(spark, index_dir, oracle):
    meta = read_meta(index_dir)
    assert meta["avgdl"] == oracle.avgdl
    postings = load_postings(spark, index_dir)
    # one row per (term, shard); df_shard sums to oracle df
    row = postings.where(postings.term == "the").collect()
    assert sum(r["df_shard"] for r in row) == oracle.df("the")
    for r in row:
        ids = decode_postings(bytes(r["doc_ids"]))
        assert (np.diff(ids.astype(np.int64)) > 0).all()  # sorted, unique
        assert len(decode_varint(bytes(r["tfs"]))) == r["df_shard"]
        # every doc in this shard row belongs to the shard
        assert ((ids.astype(np.int64) % meta["n_shards"]) == r["shard"]).all()


def test_rank_identity_over_index(spark, index_dir, oracle, queries):
    res = bm25_index_batch(
        spark, index_dir,
        [(q["query_id"], q["query"], q["k"]) for q in queries],
    ).collect()
    by_qid = _group(res)
    for q in queries:
        expected = oracle.search(q["query"], k=q["k"])
        _check(expected, by_qid.get(q["query_id"], []))


def test_rank_identity_or(spark, index_dir, oracle, queries):
    """OR top-k at each query's own k and at k=1, plus every dictionary
    term alone at k=1 (single-term queries are where a k=1 winner is
    easiest to lose)."""
    qs = [(q["query"], q["k"]) for q in queries if q["query_id"] < 12]
    qs += [(text, 1) for text, _ in qs]
    qs += [(t, 1) for t in sorted(oracle.postings)]
    res = bm25_index_batch(
        spark, index_dir,
        [(qid, text, k) for qid, (text, k) in enumerate(qs)],
        mode="or",
    ).collect()
    by_qid = _group(res)
    for qid, (text, k) in enumerate(qs):
        expected = oracle.search(text, k=k, mode="or")
        _check(expected, by_qid.get(qid, []))


def test_single_query_with_urls(spark, index_dir, corpus):
    rows = bm25_index(spark, index_dir, "the", k=3, resolve_urls=True).collect()
    assert len(rows) == 3
    urls = set(corpus.column("url").to_pylist())
    for r in rows:
        assert r["url"] in urls


def test_index_build_deterministic(spark, corpus, index_dir, tmp_path_factory):
    """Re-building from scratch yields identical postings content."""
    d2 = str(tmp_path_factory.mktemp("idx2"))
    pages = spark.createDataFrame(corpus.to_pandas())
    build_index(pages, d2, n_shards=4, n_tbuckets=8)
    a = {
        (r["term"], r["shard"]): (bytes(r["doc_ids"]), bytes(r["tfs"]))
        for r in load_postings(spark, index_dir).collect()
    }
    b = {
        (r["term"], r["shard"]): (bytes(r["doc_ids"]), bytes(r["tfs"]))
        for r in load_postings(spark, d2).collect()
    }
    assert a == b


def test_index_stats(spark, tmp_path, corpus):
    from sparkfts.index import build_index, index_stats
    from sparkfts.deletes import delete_docs
    from sparkfts.query import bm25_index_batch

    idx = str(tmp_path / "stats_idx")
    build_index(spark.createDataFrame(corpus.to_pandas()), idx,
                n_shards=4, n_tbuckets=8)
    s = index_stats(spark, idx)
    assert s["n_docs"] == 400 and s["segments"][0]["docs"] == 400
    assert s["total_postings"] > 0 and s["total_bytes"] > 0
    assert s["tombstones"] == 0
    from sparkfts.index import load_terms
    from pyspark.sql import functions as F

    term = (
        load_terms(spark, idx).orderBy(F.desc("df"), "term").limit(1)
        .collect()[0]["term"]
    )
    victim = bm25_index_batch(spark, idx, [(0, term, 1)],
                              mode="or").collect()[0]["doc_id"]
    delete_docs(spark, idx, [victim])
    assert index_stats(spark, idx)["tombstones"] == 1
