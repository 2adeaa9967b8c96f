"""ES bool.filter (structured-predicate-filtered BM25 top-k) and
bool.must_not (query-level exclusion) — exactness vs brute force.

Brute force = the unfiltered kernel at k=n_docs (already oracle-pinned
by test_oracle/test_index), restricted in pandas by the predicate /
exclusion set, re-topped with the pinned (-score, doc_id) order. The
filtered paths must reproduce it row-for-row INCLUDING scores (ES
semantics: filters don't touch scoring stats). The plain filter and
must_not cases are also checked against ``oracle/bm25.py`` directly.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from sparkfts.analysis import tokenize
from sparkfts.index import build_index, load_docmap
from sparkfts.query import bm25_index_batch
from sparkfts.synth import gen_corpus


@pytest.fixture(scope="module")
def fcorpus():
    return gen_corpus(250, seed=91)


@pytest.fixture(scope="module")
def fidx(spark, fcorpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("filter") / "idx")
    build_index(
        spark.createDataFrame(fcorpus.to_pandas()),
        d,
        n_shards=4,
        n_tbuckets=8,
        docvalue_cols=["lang"],
    )
    return d


def _common_terms(fcorpus, n=2):
    from collections import Counter

    c: Counter = Counter()
    for t in fcorpus.column("text").to_pylist():
        c.update(set(tokenize(t)))
    return [t for t, _ in c.most_common(n)]


def _brute(spark, fidx, query, mode, k, allowed=None, excluded=None):
    full = bm25_index_batch(
        spark, fidx, [(0, query, 10_000)], mode=mode
    ).collect()
    rows = [
        (r["doc_id"], r["score"])
        for r in full
        if (allowed is None or r["doc_id"] in allowed)
        and (excluded is None or r["doc_id"] not in excluded)
    ]
    rows.sort(key=lambda x: (-x[1], x[0]))
    return rows[:k]


def _oracle_topk(fcorpus, query, mode, k, allowed=None, excluded=None):
    """``oracle/bm25.py`` over the whole corpus (filters leave scoring
    stats alone), restricted to the allowed / non-excluded docs."""
    import pandas as pd

    from oracle.bm25 import BM25Oracle
    from sparkfts.tokens import sha1_doc_id

    ids = sha1_doc_id(pd.Series(fcorpus.column("url").to_pylist()))
    oracle = BM25Oracle(zip(ids.tolist(), fcorpus.column("text").to_pylist()))
    rows = [
        (d, s)
        for d, s in oracle.search(query, k=oracle.n_docs, mode=mode)
        if (allowed is None or d in allowed)
        and (excluded is None or d not in excluded)
    ]
    return rows[:k]


def _assert_oracle(got, exp):
    assert [r["doc_id"] for r in got] == [d for d, _ in exp]
    for r, (_, s) in zip(got, exp):
        assert r["score"] == pytest.approx(s, rel=1e-9)


def test_filtered_topk_exact(spark, fcorpus, fidx):
    q = " ".join(_common_terms(fcorpus))
    allowed = {
        r["doc_id"]
        for r in load_docmap(spark, fidx)
        .where("lang = 'en'")
        .select("doc_id")
        .collect()
    }
    assert allowed  # fixture sanity
    for mode in ("and", "or"):
        got = bm25_index_batch(
            spark, fidx, [(0, q, 10)], mode=mode, filter_expr="lang = 'en'"
        ).collect()
        exp = _brute(spark, fidx, q, mode, 10, allowed=allowed)
        assert [(r["doc_id"], r["score"]) for r in got] == exp, mode
        assert [r["rank"] for r in got] == list(range(1, len(exp) + 1))
        assert all(r["doc_id"] in allowed for r in got)
        _assert_oracle(got, _oracle_topk(fcorpus, q, mode, 10, allowed))
    # OR at k=1: the single allowed winner
    got = bm25_index_batch(
        spark, fidx, [(0, q, 1)], mode="or", filter_expr="lang = 'en'"
    ).collect()
    _assert_oracle(got, _oracle_topk(fcorpus, q, "or", 1, allowed))


def test_filter_nothing_allowed(spark, fcorpus, fidx):
    got = bm25_index_batch(
        spark, fidx, [(0, _common_terms(fcorpus)[0], 10)],
        mode="or", filter_expr="lang = 'no_such_lang'",
    ).collect()
    assert got == []


def test_filter_range_predicate(spark, fcorpus, fidx):
    """Any docmap-column predicate works (range on doclen here — the
    warc_ts-range shape from the VERDICT item)."""
    q = " ".join(_common_terms(fcorpus))
    allowed = {
        r["doc_id"]
        for r in load_docmap(spark, fidx)
        .where("doclen BETWEEN 50 AND 200")
        .select("doc_id")
        .collect()
    }
    got = bm25_index_batch(
        spark, fidx, [(0, q, 10)], mode="or",
        filter_expr="doclen BETWEEN 50 AND 200",
    ).collect()
    exp = _brute(spark, fidx, q, "or", 10, allowed=allowed)
    assert [(r["doc_id"], r["score"]) for r in got] == exp


def test_must_not_excludes_and_keeps_scores(spark, fcorpus, fidx):
    """must_not = set-minus BEFORE top-k; survivors keep exact scores;
    no scoring contribution from the negated terms."""
    texts = fcorpus.column("text").to_pylist()
    terms = _common_terms(fcorpus, 3)
    q, neg = " ".join(terms[:2]), terms[2]
    from sparkfts.tokens import sha1_doc_id
    import pandas as pd

    ids = sha1_doc_id(pd.Series(fcorpus.column("url").to_pylist()))
    excluded = {
        int(ids[i]) for i, t in enumerate(texts) if neg in set(tokenize(t))
    }
    assert excluded  # fixture sanity — the negated term does match docs
    for mode in ("and", "or"):
        got = bm25_index_batch(
            spark, fidx, [(0, q, 10)], mode=mode, must_not={0: neg}
        ).collect()
        exp = _brute(spark, fidx, q, mode, 10, excluded=excluded)
        assert [(r["doc_id"], r["score"]) for r in got] == exp, mode
        _assert_oracle(
            got, _oracle_topk(fcorpus, q, mode, 10, excluded=excluded)
        )
    got = bm25_index_batch(
        spark, fidx, [(0, q, 1)], mode="or", must_not={0: neg}
    ).collect()
    _assert_oracle(got, _oracle_topk(fcorpus, q, "or", 1, excluded=excluded))


def test_must_not_with_filter_combined(spark, fcorpus, fidx):
    terms = _common_terms(fcorpus, 3)
    q, neg = " ".join(terms[:2]), terms[2]
    texts = fcorpus.column("text").to_pylist()
    from sparkfts.tokens import sha1_doc_id
    import pandas as pd

    ids = sha1_doc_id(pd.Series(fcorpus.column("url").to_pylist()))
    excluded = {
        int(ids[i]) for i, t in enumerate(texts) if neg in set(tokenize(t))
    }
    allowed = {
        r["doc_id"]
        for r in load_docmap(spark, fidx)
        .where("lang = 'en'")
        .select("doc_id")
        .collect()
    }
    got = bm25_index_batch(
        spark, fidx, [(0, q, 10)], mode="or",
        filter_expr="lang = 'en'", must_not={0: neg},
    ).collect()
    exp = _brute(spark, fidx, q, "or", 10, allowed=allowed, excluded=excluded)
    assert [(r["doc_id"], r["score"]) for r in got] == exp


def test_must_not_tombstone_interaction(spark, fcorpus, fidx, tmp_path):
    """must_not unions with tombstones (both exclusion mechanisms at once)."""
    import shutil

    from sparkfts.deletes import delete_docs

    idx2 = str(tmp_path / "mn_del_idx")
    shutil.copytree(fidx, idx2)
    terms = _common_terms(fcorpus, 3)
    q, neg = " ".join(terms[:2]), terms[2]
    base = bm25_index_batch(spark, idx2, [(0, q, 50)], mode="or",
                            must_not={0: neg}).collect()
    victims = [base[0]["doc_id"], base[2]["doc_id"]]
    delete_docs(spark, idx2, victims)
    got = bm25_index_batch(spark, idx2, [(0, q, 50)], mode="or",
                           must_not={0: neg}).collect()
    got_ids = [r["doc_id"] for r in got]
    assert not (set(victims) & set(got_ids))
    exp = [(r["doc_id"], r["score"]) for r in base
           if r["doc_id"] not in victims][:50]
    assert [(r["doc_id"], r["score"]) for r in got] == exp


def test_searcher_filter_and_must_not_parity(spark, fcorpus, fidx):
    """Warm Searcher results == distributed batch results for
    bool.filter and bool.must_not (same kernels, warm inputs)."""
    from sparkfts.searcher import Searcher

    terms = _common_terms(fcorpus, 3)
    q, neg = " ".join(terms[:2]), terms[2]
    s = Searcher(spark, fidx)
    for kw in (
        {"filter_expr": "lang = 'en'"},
        {"must_not": {0: neg}},
        {"filter_expr": "lang = 'en'", "must_not": {0: neg}},
    ):
        warm = s.search_batch([(0, q, 10)], mode="or", **kw).collect()
        cold = bm25_index_batch(spark, fidx, [(0, q, 10)], mode="or",
                                **kw).collect()
        assert [(r["doc_id"], r["score"]) for r in warm] == [
            (r["doc_id"], r["score"]) for r in cold
        ], kw
        assert warm  # non-degenerate
    s.close()


def test_searchrequest_filter_must_not(spark, fcorpus, fidx):
    """IR-level bool.filter/must_not: indexed execution matches the
    brute-force restriction of the unfiltered request."""
    from sparkfts.querybuilder import (
        Clause,
        SearchRequest,
        run_search_request_indexed,
    )

    terms = _common_terms(fcorpus, 3)
    base = SearchRequest(
        clauses=(Clause(query=terms[0]),), k=10_000
    )
    full = run_search_request_indexed(spark, fidx, base).collect()
    allowed = {
        r["doc_id"]
        for r in load_docmap(spark, fidx)
        .where("lang = 'en'")
        .select("doc_id")
        .collect()
    }
    texts = fcorpus.column("text").to_pylist()
    from sparkfts.tokens import sha1_doc_id
    import pandas as pd

    ids = sha1_doc_id(pd.Series(fcorpus.column("url").to_pylist()))
    mn_docs = {
        int(ids[i]) for i, t in enumerate(texts)
        if terms[2] in set(tokenize(t))
    }
    req = SearchRequest(
        clauses=(Clause(query=terms[0]),),
        k=10,
        filter_expr="lang = 'en'",
        must_not=(terms[2],),
    )
    got = run_search_request_indexed(spark, fidx, req).collect()
    exp = [
        (r["doc_id"], r["score"]) for r in full
        if r["doc_id"] in allowed and r["doc_id"] not in mn_docs
    ]
    exp.sort(key=lambda x: (-x[1], x[0]))
    assert [(r["doc_id"], r["score"]) for r in got] == exp[:10]


def test_match_all_with_filter(spark, fcorpus, fidx):
    from sparkfts.querybuilder import SearchRequest, run_search_request_indexed

    req = SearchRequest(clauses=(), k=5, filter_expr="lang = 'de'")
    got = run_search_request_indexed(spark, fidx, req).collect()
    allowed = sorted(
        r["doc_id"]
        for r in load_docmap(spark, fidx)
        .where("lang = 'de'")
        .select("doc_id")
        .collect()
    )
    assert [r["doc_id"] for r in got] == allowed[:5]


def test_cli_filter_flag(spark, fcorpus, fidx, capsys):
    from sparkfts.cli import main

    q = _common_terms(fcorpus)[0]
    main(["query", "--index", fidx, "--query", q, "--mode", "or", "--k", "5",
          "--filter", "lang = 'en'", "--cores", "4"])
    import json as _json

    out = [
        _json.loads(line)
        for line in capsys.readouterr().out.strip().splitlines()
    ]
    assert out and all("doc_id" in r for r in out)
    allowed = {
        r["doc_id"]
        for r in load_docmap(spark, fidx)
        .where("lang = 'en'")
        .select("doc_id")
        .collect()
    }
    assert all(r["doc_id"] in allowed for r in out)
    # --filter is now supported on the fuzzy path; --must-not is not
    with pytest.raises(SystemExit, match="must-not"):
        main(["query", "--index", fidx, "--query", q, "--fuzzy",
              "--must-not", "spam"])


def test_filter_docmap_scan_pruned_and_pushed(spark, fcorpus, fidx):
    """Plan assertion: the bool.filter docmap scan is column-pruned to
    (doc_id, lang, shard) and the predicate reaches the parquet scan as
    a data filter — the 100-TB shape (never a full docmap read)."""
    plan = (
        bm25_index_batch(
            spark, fidx, [(0, _common_terms(fcorpus)[0], 10)],
            mode="or", filter_expr="lang = 'en'",
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    docmap_scans = [
        ln for ln in plan.splitlines()
        if "FileScan parquet" in ln and "docmap" in ln
    ]
    assert docmap_scans, plan
    scan = docmap_scans[0]
    assert "lang" in scan and "= en" in scan  # pushed predicate
    assert "doclen" not in scan.split("DataFilters")[0]  # pruned column


@pytest.fixture(scope="module")
def fidx_full(spark, fcorpus, tmp_path_factory):
    """Filter fixture with positions + a multifield sibling."""
    from sparkfts.index import build_index
    from sparkfts.phrase import build_positions

    d = str(tmp_path_factory.mktemp("filter_full") / "idx")
    pages = spark.createDataFrame(fcorpus.to_pandas())
    build_index(pages, d, n_shards=4, n_tbuckets=8, docvalue_cols=["lang"])
    build_positions(pages, d)
    return d


def _allowed_en(spark, idx):
    return {
        r["doc_id"]
        for r in load_docmap(spark, idx)
        .where("lang = 'en'")
        .select("doc_id")
        .collect()
    }


def test_fuzzy_filtered(spark, fcorpus, fidx_full):
    """Fuzzy path bool.filter: filtered result == unfiltered restricted
    + re-topped (scores unchanged — stats stay corpus-global)."""
    from sparkfts.query import bm25_index_fuzzy_batch

    # need a term long enough for fuzziness:AUTO to allow an edit
    term = next(t for t in _common_terms(fcorpus, 2000) if len(t) >= 5)
    typo = term[:-1] + ("x" if term[-1] != "x" else "y")
    allowed = _allowed_en(spark, fidx_full)
    full = bm25_index_fuzzy_batch(
        spark, fidx_full, [(0, typo, 10_000)], mode="or"
    ).collect()
    got = bm25_index_fuzzy_batch(
        spark, fidx_full, [(0, typo, 10)], mode="or",
        filter_expr="lang = 'en'",
    ).collect()
    exp = sorted(
        ((r["doc_id"], r["score"]) for r in full if r["doc_id"] in allowed),
        key=lambda x: (-x[1], x[0]),
    )[:10]
    assert [(r["doc_id"], r["score"]) for r in got] == exp
    assert got


def test_phrase_filtered(spark, fcorpus, fidx_full):
    from sparkfts.analysis import tokenize
    from sparkfts.phrase import match_phrase_batch

    toks = tokenize(fcorpus.to_pandas().iloc[0]["text"])
    phrase = " ".join(toks[:2])
    allowed = _allowed_en(spark, fidx_full)
    full = match_phrase_batch(
        spark, fidx_full, [(0, phrase, 10_000)]
    ).collect()
    got = match_phrase_batch(
        spark, fidx_full, [(0, phrase, 10)], filter_expr="lang = 'en'"
    ).collect()
    exp = sorted(
        ((r["doc_id"], r["score"]) for r in full if r["doc_id"] in allowed),
        key=lambda x: (-x[1], x[0]),
    )[:10]
    assert [(r["doc_id"], r["score"]) for r in got] == exp


def test_prefix_and_wildcard_filtered(spark, fcorpus, fidx_full):
    from sparkfts.prefix import prefix_topk_batch, wildcard_topk_batch

    pre = _common_terms(fcorpus)[0][:2]
    allowed = _allowed_en(spark, fidx_full)
    for fn, q in ((prefix_topk_batch, pre), (wildcard_topk_batch, pre + "*")):
        full = fn(spark, fidx_full, [(0, q, 10_000)]).collect()
        got = fn(
            spark, fidx_full, [(0, q, 10)], filter_expr="lang = 'en'"
        ).collect()
        exp = sorted(
            ((r["doc_id"], r["score"]) for r in full
             if r["doc_id"] in allowed),
            key=lambda x: (-x[1], x[0]),
        )[:10]
        assert [(r["doc_id"], r["score"]) for r in got] == exp, q
        assert got, q


def test_multifield_filtered(spark, fcorpus, tmp_path):
    from sparkfts.analysis import tokenize
    from sparkfts.multifield import bm25_multifield_batch, build_multifield_index

    pdf = fcorpus.to_pandas()
    pdf["title"] = [" ".join(tokenize(t)[:4]) for t in pdf["text"]]
    d = str(tmp_path / "mf_filter")
    build_multifield_index(
        spark.createDataFrame(pdf), d, fields=("title", "text"),
        n_shards=4, n_tbuckets=8, docvalue_cols=["lang"],
    )
    from sparkfts.multifield import field_dir

    allowed = {
        r["doc_id"]
        for r in load_docmap(spark, field_dir(d, "text"))
        .where("lang = 'en'")
        .select("doc_id")
        .collect()
    }
    q = _common_terms(fcorpus)[0]
    full = bm25_multifield_batch(
        spark, d, [(0, q, 10_000)], fields=["title^2", "text"], mode="or"
    ).collect()
    got = bm25_multifield_batch(
        spark, d, [(0, q, 10)], fields=["title^2", "text"], mode="or",
        filter_expr="lang = 'en'",
    ).collect()
    exp = sorted(
        ((r["doc_id"], r["score"]) for r in full if r["doc_id"] in allowed),
        key=lambda x: (-x[1], x[0]),
    )[:10]
    assert [(r["doc_id"], r["score"]) for r in got] == exp
    assert got
