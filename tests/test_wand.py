"""Kernel unit tests: intersection, top-k tie-safety, msm grammar."""

import numpy as np

from sparkfts.wand import _topk, score_conjunctive, score_disjunctive


def _mk(ids, tfs, dl=50):
    ids = np.asarray(ids, np.int64)
    return (
        ids,
        np.asarray(tfs, np.uint64),
        np.full(ids.size, dl, np.int64),
    )


def test_topk_tie_safety():
    # 500 docs with identical scores: top-10 must be the 10 smallest ids
    ids = np.arange(500, 0, -1, dtype=np.int64)  # descending ids
    scores = np.full(500, 1.5, np.float64)
    got_ids, got_scores = _topk(ids, scores, 10)
    assert got_ids.tolist() == list(range(1, 11))
    assert (got_scores == 1.5).all()


def test_conjunctive_empty_and_intersection():
    a = _mk([1, 5, 9], [1, 2, 3])
    b = _mk([5, 9, 30], [1, 1, 1])
    c = _mk([], [])
    idfs = np.array([1.0, 1.0])
    ids, _ = score_conjunctive([a, b], idfs, 50.0, 10)
    assert set(ids.tolist()) == {5, 9}
    ids, _ = score_conjunctive([a, c], idfs, 50.0, 10)
    assert ids.size == 0
    ids, _ = score_conjunctive([_mk([1], [1]), _mk([2], [1])], idfs, 50.0, 10)
    assert ids.size == 0


def test_conjunctive_matches_disjunctive_on_same_candidates():
    a = _mk([2, 4, 6], [3, 1, 2])
    b = _mk([2, 4, 6], [1, 1, 5])
    idfs = np.array([0.7, 1.3])
    ia, sa = score_conjunctive([a, b], idfs, 50.0, 10)
    io, so = score_disjunctive([a, b], idfs, 50.0, 10)
    assert ia.tolist() == io.tolist()
    assert sa.tolist() == so.tolist()  # bitwise: same summation order


def test_parse_minimum_should_match():
    """ES documented-table pins for the msm value grammar (r5)."""
    from sparkfts.wand import parse_minimum_should_match as p

    assert p(3, 5) == 3
    assert p(3, 2) == 3          # above n_terms: unsatisfiable -> empty
    # result set (Lucene BooleanQuery), pinned end-to-end in
    # test_edge_round2.test_min_should_match_above_term_count_empty
    assert p(-1, 4) == 3         # one clause may miss
    assert p("-25%", 4) == 3     # floor(25% of 4)=1 may miss
    assert p("75%", 4) == 3
    assert p("75%", 5) == 3      # floor(3.75)
    assert p("-2", 5) == 3
    assert p("100%", 3) == 3
    assert p("0%", 3) == 1       # clamped up to 1 (ES: acts like 1)
    # conditional: <= gate -> all required; above -> spec applies
    assert p("3<90%", 2) == 2
    assert p("3<90%", 3) == 3
    assert p("3<90%", 10) == 9
    assert p("2<-1", 5) == 4
    import pytest as _p

    for bad in ("2<-25% 9<-3", "x%", "1<2<3", "a<3"):
        with _p.raises(ValueError):
            p(bad, 5)


def test_msm_grammar_end_to_end(spark, tmp_path):
    """'P%' / conditional specs resolve per query on both the index and
    scan paths, equal to the pre-resolved int."""
    from sparkfts.index import build_index
    from sparkfts.query import bm25_index_batch, bm25_scan_batch
    from sparkfts.stats import avgdl_of
    from sparkfts.synth import gen_corpus
    from sparkfts.tokens import prepare_pages, tokenize_docs
    from sparkfts.wand import parse_minimum_should_match

    pages = spark.createDataFrame(gen_corpus(300, seed=9).to_pandas())
    idx = str(tmp_path / "msmidx")
    build_index(pages, idx, n_shards=4, n_tbuckets=8)
    qs = [(0, "the of and to", 10), (1, "a in it", 10)]
    for spec in ("75%", "-25%", "2<-25%"):
        got = bm25_index_batch(spark, idx, qs, mode="or",
                               min_should_match=spec).collect()
        parts = []
        for qid, q, k in qs:
            n = len(set(q.split()))
            parts += bm25_index_batch(
                spark, idx, [(qid, q, k)], mode="or",
                min_should_match=parse_minimum_should_match(spec, n),
            ).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, parts)), spec
    # scan path agrees with the index path under the same spec
    prepared = prepare_pages(pages)
    toks = tokenize_docs(prepared)
    n_docs = prepared.count()
    avgdl = avgdl_of(toks, n_docs)
    a = bm25_scan_batch(toks, qs, n_docs, avgdl, mode="or",
                        min_should_match="75%").collect()
    b = bm25_index_batch(spark, idx, qs, mode="or",
                         min_should_match="75%").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
