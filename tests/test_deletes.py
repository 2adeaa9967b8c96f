"""Document deletion: tombstones at query time, physical reclaim at merge."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from oracle.bm25 import BM25Oracle
from sparkfts.deletes import delete_docs, load_tombstones
from sparkfts.index import build_index, read_meta
from sparkfts.merge import merge_segments
from sparkfts.query import bm25_index_batch
from sparkfts.synth import gen_corpus
from sparkfts.tokens import sha1_doc_id


@pytest.fixture(scope="module")
def corpus_small():
    return gen_corpus(150, seed=29)


@pytest.fixture()
def del_index(spark, corpus_small, tmp_path):
    d = str(tmp_path / "del_idx")
    pages = spark.createDataFrame(corpus_small.to_pandas())
    build_index(pages, d, n_shards=4, n_tbuckets=8)
    from sparkfts.phrase import build_positions

    build_positions(pages, d)
    return d


def _ids_texts(corpus):
    ids = sha1_doc_id(
        pd.Series(corpus.column("url").to_pylist())
    ).tolist()
    return ids, corpus.column("text").to_pylist()


def test_deleted_docs_vanish_everywhere(spark, corpus_small, del_index):
    """After delete: every query path excludes the docs, survivors keep
    their pre-delete scores (ES/Lucene stats-drift semantics), ranks
    renumber."""
    ids, texts = _ids_texts(corpus_small)
    oracle = BM25Oracle(zip(ids, texts))
    term = max(oracle.postings, key=oracle.df)

    before = bm25_index_batch(spark, del_index, [(0, term, 400)],
                              mode="or").collect()
    assert len(before) >= 6
    victims = [r["doc_id"] for r in before[:3:2]] + [before[4]["doc_id"]]
    n = delete_docs(spark, del_index, victims)
    assert n == 3

    for mode in ("and", "or"):
        after = bm25_index_batch(spark, del_index, [(0, term, 400)],
                                 mode=mode).collect()
        got_ids = [r["doc_id"] for r in after]
        assert not (set(got_ids) & set(victims)), mode
    # survivors keep EXACT pre-delete scores; ranks renumber
    after_or = bm25_index_batch(spark, del_index, [(0, term, 400)],
                                mode="or").collect()
    exp_surv = [(r["doc_id"], r["score"]) for r in before
                if r["doc_id"] not in victims]
    assert [(r["doc_id"], r["score"]) for r in after_or] == exp_surv
    assert [r["rank"] for r in after_or] == list(range(1, len(exp_surv) + 1))

    # fuzzy path
    from sparkfts.query import bm25_index_fuzzy_batch

    typo = term[:-1] + ("x" if term[-1] != "x" else "y")
    fz = bm25_index_fuzzy_batch(spark, del_index, [(0, typo, 400)]).collect()
    assert not ({r["doc_id"] for r in fz} & set(victims))

    # facet / match set
    from sparkfts.aggs import match_docs_batch

    m = {r["doc_id"] for r in
         match_docs_batch(spark, del_index, [(0, term)], "or").collect()}
    assert not (m & set(victims))

    # phrase path: delete a doc containing a known phrase
    from sparkfts.analysis import tokenize
    from sparkfts.phrase import match_phrase_batch

    phrase_docs = None
    for t in texts:
        toks = tokenize(t)
        p = " ".join(toks[2:4])
        hits = match_phrase_batch(spark, del_index, [(0, p, 400)]).collect()
        if hits:
            phrase_docs = (p, hits)
            break
    assert phrase_docs is not None
    p, hits = phrase_docs
    delete_docs(spark, del_index, [hits[0]["doc_id"]])
    after_p = match_phrase_batch(spark, del_index, [(0, p, 400)]).collect()
    assert hits[0]["doc_id"] not in {r["doc_id"] for r in after_p}

    # warm Searcher (constructed after the deletes) on both paths
    from sparkfts.searcher import Searcher

    s = Searcher(spark, del_index)
    try:
        rows = s.search_rows([(0, term, 400)], mode="or")
        assert not ({r[2] for r in rows} & set(victims))
        s.local_threshold = 0
        rows2 = s.search_rows([(0, term, 400)], mode="or")
        assert [r[2] for r in rows2] == [r[2] for r in rows]
    finally:
        s.close()


def test_merge_reclaims_deletes_and_recomputes_stats(
    spark, corpus_small, del_index
):
    """After merge: tombstones gone, n_docs reduced, results equal a
    fresh oracle over the surviving corpus (exact recomputed stats)."""
    ids, texts = _ids_texts(corpus_small)
    oracle_full = BM25Oracle(zip(ids, texts))
    term = max(oracle_full.postings, key=oracle_full.df)
    before = bm25_index_batch(spark, del_index, [(0, term, 10)]).collect()
    victims = {r["doc_id"] for r in before[:2]}
    delete_docs(spark, del_index, list(victims))

    meta = merge_segments(spark, del_index)
    assert load_tombstones(spark, del_index) is None
    assert not os.path.isdir(os.path.join(del_index, "tombstones"))
    assert meta["n_docs"] == len(ids) - 2

    survivors = [(i, t) for i, t in zip(ids, texts) if i not in victims]
    oracle_live = BM25Oracle(survivors)
    for mode in ("and", "or"):
        got = bm25_index_batch(spark, del_index, [(0, term, 10)],
                               mode=mode).collect()
        exp = oracle_live.search(term, k=10, mode=mode)
        assert [r["doc_id"] for r in got] == [d for d, _ in exp], mode
        for r, (_, sc) in zip(got, exp):
            assert r["score"] == pytest.approx(sc, rel=1e-9)

    # merge is still idempotent afterwards
    meta2 = merge_segments(spark, del_index)
    assert meta2["n_docs"] == meta["n_docs"]
    got2 = bm25_index_batch(spark, del_index, [(0, term, 10)]).collect()
    exp2 = oracle_live.search(term, k=10)
    assert [r["doc_id"] for r in got2] == [d for d, _ in exp2]


def test_delete_or_query_exact(spark, corpus_small, del_index):
    """OR top-k with tombstones equals the oracle over the live docs
    (scores keep the pre-delete stats), at k=30 and at k=1 with the
    k=1 winner deleted."""
    ids, texts = _ids_texts(corpus_small)
    oracle = BM25Oracle(zip(ids, texts))
    terms = sorted(oracle.postings, key=oracle.df, reverse=True)[:3]
    q = " ".join(terms)
    full = oracle.search(q, k=len(ids), mode="or")
    victims = {full[0][0], full[5][0]}
    delete_docs(spark, del_index, list(victims))
    live = [(d, sc) for d, sc in full if d not in victims]
    for k in (30, 1):
        got = bm25_index_batch(spark, del_index, [(0, q, k)],
                               mode="or").collect()
        assert [r["doc_id"] for r in got] == [d for d, _ in live[:k]], k
        for r, (_, sc) in zip(got, live):
            assert r["score"] == pytest.approx(sc, rel=1e-9)
