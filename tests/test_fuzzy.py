"""Fuzzy (AUTO) BM25: oracle unit tests + Spark rank-identity.

Pins the reference's ``fuzziness: "AUTO"`` request (reference
ElasticsearchToNeo4jSync.py:97) to the executable semantics of
``oracle/fuzzy.py`` and asserts the Spark engine matches rank-identically
(SURVEY.md §2.7).
"""

from __future__ import annotations

import pytest

from oracle.bm25 import BM25Oracle
from oracle.fuzzy import expand, fuzzy_search, levenshtein
from sparkfts.analysis import auto_fuzz
from sparkfts.fuzzy import bm25_fuzzy_scan_batch
from sparkfts.stats import avgdl_of
from sparkfts.tokens import prepare_pages, sha1_doc_id, tokenize_docs


def test_auto_fuzz_bands():
    assert auto_fuzz("") == 0
    assert auto_fuzz("ab") == 0
    assert auto_fuzz("abc") == 1
    assert auto_fuzz("abcde") == 1
    assert auto_fuzz("abcdef") == 2
    assert auto_fuzz("abcdefghij") == 2


def test_levenshtein_matches_known_values():
    assert levenshtein("", "") == 0
    assert levenshtein("abc", "abc") == 0
    assert levenshtein("abc", "") == 3
    assert levenshtein("kitten", "sitting") == 3
    assert levenshtein("flaw", "lawn") == 2
    assert levenshtein("spark", "spork") == 1


def test_expand_respects_auto_distance():
    d = ["spark", "spork", "sparkle", "stark", "xy", "x"]
    got = expand("spark", d)  # len 5 -> maxd 1
    assert ("spark", 0) in got and ("spork", 1) in got and ("stark", 1) in got
    assert all(t != "sparkle" for t, _ in got)  # dist 2 > 1
    # short terms get distance 0 (exact only)
    assert expand("xy", d) == [("xy", 0)]


def test_fuzzy_exact_terms_supersets_plain_search():
    docs = [
        (1, "the quick brown fox"),
        (2, "the quik brown fox"),  # typo'd quick
        (3, "wholly unrelated text"),
    ]
    oracle = BM25Oracle(docs)
    plain = oracle.search("quick brown", k=10)
    fuzzy = fuzzy_search(oracle, "quick brown", k=10)
    # plain only matches doc 1; fuzzy matches the typo'd doc 2 as well
    assert [d for d, _ in plain] == [1]
    assert {d for d, _ in fuzzy} == {1, 2}
    # exact-match doc outranks the typo'd one (boost 1.0 vs 0.8)
    assert fuzzy[0][0] in (1, 2) and len(fuzzy) == 2


def test_fuzzy_empty_query():
    oracle = BM25Oracle([(1, "a b c")])
    assert fuzzy_search(oracle, "", k=10) == []


@pytest.fixture(scope="module")
def engine(spark, corpus):
    pages = spark.createDataFrame(corpus.to_pandas())
    prepared = prepare_pages(pages)
    tokens = tokenize_docs(prepared).cache()
    n_docs = corpus.num_rows
    avgdl = avgdl_of(tokens, n_docs)
    return tokens, n_docs, avgdl


@pytest.fixture(scope="module")
def oracle(corpus):
    import pandas as pd

    urls = pd.Series(corpus.column("url").to_pylist())
    ids = sha1_doc_id(urls)
    texts = corpus.column("text").to_pylist()
    return BM25Oracle(zip(ids.tolist(), texts))


@pytest.mark.parametrize("mode", ["and", "or"])
def test_spark_fuzzy_rank_identical(engine, oracle, queries, mode):
    tokens, n_docs, avgdl = engine
    batch = [(q["query_id"], q["query"], 10) for q in queries[:12]]
    got = bm25_fuzzy_scan_batch(tokens, batch, n_docs, avgdl, mode=mode)
    by_qid: dict[int, list] = {}
    for r in got.collect():
        by_qid.setdefault(r["query_id"], []).append(r)
    for qid, text, k in batch:
        exp = fuzzy_search(oracle, text, k=k, mode=mode)
        rows = sorted(by_qid.get(qid, []), key=lambda r: r["rank"])
        assert [r["doc_id"] for r in rows] == [d for d, _ in exp], (
            f"doc order mismatch q{qid} mode={mode}"
        )
        for r, (_, s) in zip(rows, exp):
            assert r["score"] == pytest.approx(s, rel=1e-9)


def test_spark_fuzzy_typo_query_recovers_docs(engine, oracle):
    """A deliberately typo'd query still retrieves via expansion."""
    tokens, n_docs, avgdl = engine
    # pick a real corpus term and typo it
    term = max(oracle.postings, key=lambda t: (len(t) >= 6, oracle.df(t)))
    typo = term[:-1] + ("x" if term[-1] != "x" else "y")
    got = bm25_fuzzy_scan_batch(tokens, [(0, typo, 10)], n_docs, avgdl)
    exp = fuzzy_search(oracle, typo, k=10)
    assert [r["doc_id"] for r in got.collect()] == [d for d, _ in exp]
    assert exp, "typo expansion found no docs — fixture term choice broken"


@pytest.fixture(scope="module")
def fuzzy_index(spark, corpus, tmp_path_factory):
    from sparkfts.index import build_index

    d = str(tmp_path_factory.mktemp("fuzzy_idx"))
    pages = spark.createDataFrame(corpus.to_pandas())
    build_index(pages, d, n_shards=4, n_tbuckets=8)
    return d


@pytest.mark.parametrize("mode", ["and", "or"])
def test_index_fuzzy_rank_identical(spark, fuzzy_index, oracle, queries, mode):
    from sparkfts.query import bm25_index_fuzzy_batch

    batch = [(q["query_id"], q["query"], 10) for q in queries[:8]]
    got = bm25_index_fuzzy_batch(spark, fuzzy_index, batch, mode=mode)
    by_qid: dict[int, list] = {}
    for r in got.collect():
        by_qid.setdefault(r["query_id"], []).append(r)
    for qid, text, k in batch:
        exp = fuzzy_search(oracle, text, k=k, mode=mode)
        rows = sorted(by_qid.get(qid, []), key=lambda r: r["rank"])
        assert [r["doc_id"] for r in rows] == [d for d, _ in exp], (
            f"doc order mismatch q{qid} mode={mode}"
        )
        for r, (_, s) in zip(rows, exp):
            assert r["score"] == pytest.approx(s, rel=1e-9)


def test_index_fuzzy_typo_query(spark, fuzzy_index, oracle):
    from sparkfts.query import bm25_index_fuzzy_batch

    term = max(oracle.postings, key=lambda t: (len(t) >= 6, oracle.df(t)))
    typo = term[:-1] + ("x" if term[-1] != "x" else "y")
    got = bm25_index_fuzzy_batch(spark, fuzzy_index, [(0, typo, 10)]).collect()
    exp = fuzzy_search(oracle, typo, k=10)
    assert exp, "fixture term choice produced no fuzzy hits"
    assert [r["doc_id"] for r in got] == [d for d, _ in exp]


def test_searcher_fuzzy_rows_rank_identical(spark, fuzzy_index, oracle, queries):
    """Fuzzy serving path (driver dictionary + cached postings) matches
    the oracle and the distributed fuzzy plan, and is fast when warm."""
    import time

    from sparkfts.searcher import Searcher

    s = Searcher(spark, fuzzy_index)
    try:
        batch = [(q["query_id"], q["query"], 10) for q in queries[:6]]
        got = s.fuzzy_search_rows(batch)
        by_qid: dict[int, list] = {}
        for r in got:
            by_qid.setdefault(r[0], []).append(r)
        for qid, text, k in batch:
            exp = fuzzy_search(oracle, text, k=k)
            rows = by_qid.get(qid, [])
            assert [r[2] for r in rows] == [d for d, _ in exp], f"q{qid}"
            for r, (_, sc) in zip(rows, exp):
                assert r[3] == pytest.approx(sc, rel=1e-9)
        # typo'd query via serving path
        term = max(oracle.postings, key=lambda t: (len(t) >= 6, oracle.df(t)))
        typo = term[:-1] + ("x" if term[-1] != "x" else "y")
        got = s.fuzzy_search_rows([(0, typo, 10)])
        exp = fuzzy_search(oracle, typo, k=10)
        assert [r[2] for r in got] == [d for d, _ in exp]
        # warm repeats skip Spark entirely
        t0 = time.time()
        for _ in range(5):
            s.fuzzy_search_rows([(0, typo, 10)])
        per = (time.time() - t0) / 5
        assert per < 0.4, f"warm fuzzy took {per:.4f}s"
    finally:
        s.close()


def test_fuzzy_offset_consistent_across_paths(spark, fuzzy_index, queries):
    """offset pages identically on the distributed fuzzy plan and both
    Searcher serving paths (ADVICE r1: fallbacks ignored offset)."""
    from sparkfts.query import bm25_index_fuzzy_batch
    from sparkfts.searcher import Searcher

    q = [(0, queries[0]["query"], 4)]
    full = bm25_index_fuzzy_batch(spark, fuzzy_index, [(0, q[0][1], 8)]).collect()
    page2 = bm25_index_fuzzy_batch(spark, fuzzy_index, q, offset=4).collect()
    assert [r["rank"] for r in page2] == [5, 6, 7, 8][: len(page2)]
    assert [(r["rank"], r["doc_id"]) for r in page2] == [
        (r["rank"], r["doc_id"]) for r in full[4:8]
    ]

    s = Searcher(spark, fuzzy_index, fuzzy_max_expansions=None)
    try:
        # driver-local path
        local = s.fuzzy_search_rows(q, offset=4)
        assert [(r[1], r[2]) for r in local] == [
            (r["rank"], r["doc_id"]) for r in full[4:8]
        ]
        # distributed fallback path (df gate forced off)
        s.local_threshold = 0
        dist = s.fuzzy_search_rows(q, offset=4)
        assert [(r[1], r[2]) for r in dist] == [
            (r["rank"], r["doc_id"]) for r in full[4:8]
        ]
    finally:
        s.close()


def test_searcher_fuzzy_expansion_cap(spark, fuzzy_index, oracle):
    """fuzzy_max_expansions bounds per-term expansion on the serving path
    while the default-capped results stay sane (a subset of exhaustive)."""
    from sparkfts.searcher import Searcher

    term = max(oracle.postings, key=lambda t: (len(t) >= 6, oracle.df(t)))
    typo = term[:-1] + ("x" if term[-1] != "x" else "y")

    s = Searcher(spark, fuzzy_index, fuzzy_max_expansions=1)
    try:
        got = s.fuzzy_search_rows([(0, typo, 10)])
        # cap enforced: at most 1 expansion cached per query term
        assert all(len(v) <= 1 for v in s._exp_cache.values())
        exp_docs = {d for d, _ in fuzzy_search(oracle, typo, k=400)}
        assert {r[2] for r in got} <= exp_docs
    finally:
        s.close()


def test_term_suggester_pinned_order(spark, tmp_path):
    """Term suggester: corrections within AUTO distance, ordered
    (dist asc, df desc, term asc), input term itself excluded."""
    from sparkfts.index import build_index
    from sparkfts.suggest import suggest_terms
    from sparkfts.synth import gen_corpus
    from sparkfts.analysis import auto_fuzz, tokenize

    idx = str(tmp_path / "suggest_idx")
    corpus = gen_corpus(150, seed=23)
    build_index(spark.createDataFrame(corpus.to_pandas()), idx,
                n_shards=2, n_tbuckets=4)
    # pick a real vocab term and typo it
    from collections import Counter

    df = Counter()
    toks_by_doc = [tokenize(t) for t in corpus.column("text").to_pylist()]
    for tk in toks_by_doc:
        df.update(set(tk))
    term = next(t for t, _ in df.most_common() if len(t) >= 5)
    typo = term[:-1] + ("x" if term[-1] != "x" else "y")
    rows = suggest_terms(spark, idx, typo, size=5).collect()
    assert rows, (term, typo)
    sugg = [r["suggestion"] for r in rows]
    assert term in sugg  # the original term is recoverable
    assert typo not in sugg  # never echo the input
    # pinned order
    keys = [(r["dist"], -r["df"], r["suggestion"]) for r in rows]
    assert keys == sorted(keys)
    # every suggestion is within the AUTO ladder
    maxd = auto_fuzz(typo)
    for r in rows:
        assert r["dist"] <= maxd
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))


# ---- ES fuzzy prefix_length (exact first-N-chars anchor) ----


def test_expand_prefix_length_oracle():
    d = ["spark", "spork", "stark", "shark", "park"]
    # AUTO fuzz for 'spark' = 1; 'park' is one deletion away
    assert [t for t, _ in expand("spark", d)] == [
        "park", "shark", "spark", "spork", "stark",
    ]
    assert [t for t, _ in expand("spark", d, prefix_length=1)] == [
        "shark", "spark", "spork", "stark",
    ]
    assert [t for t, _ in expand("spark", d, prefix_length=2)] == [
        "spark", "spork",
    ]
    assert [t for t, _ in expand("spark", d, prefix_length=3)] == ["spark"]


def test_index_fuzzy_prefix_length_rank_identical(spark, fuzzy_index,
                                                  oracle, queries):
    from sparkfts.query import bm25_index_fuzzy_batch

    typo_q = queries[0]["query"]
    for pl in (0, 1, 2):
        got = bm25_index_fuzzy_batch(
            spark, fuzzy_index, [(0, typo_q, 10)], mode="or",
            prefix_length=pl,
        ).collect()
        exp = fuzzy_search(oracle, typo_q, k=10, mode="or",
                           prefix_length=pl)
        assert [r["doc_id"] for r in got] == [d for d, _ in exp], pl
        for r, (_, s) in zip(got, exp):
            assert r["score"] == pytest.approx(s, rel=1e-9)
    # pl=0 is exactly the pre-existing default path
    base = bm25_index_fuzzy_batch(
        spark, fuzzy_index, [(0, typo_q, 10)], mode="or"
    ).collect()
    pl0 = bm25_index_fuzzy_batch(
        spark, fuzzy_index, [(0, typo_q, 10)], mode="or", prefix_length=0
    ).collect()
    assert [tuple(r) for r in base] == [tuple(r) for r in pl0]


def test_expand_index_prefix_length_prunes(spark, fuzzy_index, oracle):
    from sparkfts.analysis import tokenize_query
    from sparkfts.query import fuzzy_expand_index

    term = max(oracle.postings, key=lambda t: (len(t) >= 6, oracle.df(t)))
    typo = term[0] + ("x" if term[1] != "x" else "y") + term[2:]
    analyzed = [(0, tokenize_query(typo), 10)]
    exps = fuzzy_expand_index(
        spark, fuzzy_index, analyzed, oracle.n_docs, 8, prefix_length=1
    )
    got = {t for t, _ in exps.get((0, typo), [])}
    dictionary = list(oracle.postings.keys())
    exp = {t for t, _ in expand(typo, dictionary, prefix_length=1)}
    assert got == exp
    assert all(t.startswith(typo[0]) for t in got)
