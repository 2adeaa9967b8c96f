"""ES query-DSL JSON parser (sparkfts.esdsl): parse parity, filter
lowering, wrapper decoding, fail-loud subset edges, and end-to-end
parity with hand-built IR through the bool-tree kernel."""

from __future__ import annotations

import base64
import json

import pytest

from sparkfts.esdsl import (
    EsDslError,
    filter_sql,
    parse_query,
    parse_request,
    parse_request_json,
)
from sparkfts.querybuilder import Bool, Clause, DisMax, SearchRequest


# ---- parsing ----------------------------------------------------------------


def test_reference_emitted_shape():
    """The exact body shape elasticsearchQueryBuilder emits (reference
    ElasticsearchToNeo4jSync.py:89-102): bool.must of fuzzy AUTO
    conjunctive multi_match clauses."""
    body = {
        "query": {"bool": {"must": [
            {"multi_match": {"query": "alpha beta",
                             "fields": ["text", "title"],
                             "operator": "and", "fuzziness": "AUTO"}},
        ]}},
        "size": 10,
    }
    req = parse_request(body)
    assert req == SearchRequest(
        clauses=(Bool(must=(Clause(
            query="alpha beta", fields=("text", "title"),
            operator="and", fuzziness="AUTO"),)),),
        k=10,
    )


def test_match_defaults_are_es_defaults():
    # ES match: operator=or, no fuzziness
    c = parse_query({"match": {"text": "hello world"}})
    assert c == Clause(query="hello world", fields=("text",),
                       operator="or", fuzziness="0")
    # fixed edit distances execute natively since round 5 (before that
    # fuzziness 1/2 silently lowered to an EXACT clause)
    c = parse_query({"match": {"text": {"query": "x", "fuzziness": 1}}})
    assert c.fuzziness == "1"
    c = parse_query({"match": {"text": {"query": "x", "fuzziness": "2"}}})
    assert c.fuzziness == "2"
    c = parse_query({"match": {"text": {"query": "x", "fuzziness": 0}}})
    assert c.fuzziness == "0"


def test_multi_match_boosts_and_tie_breaker():
    c = parse_query({"multi_match": {
        "query": "q", "fields": ["title^2", "text"],
        "tie_breaker": 0.3}})
    assert c.fields == ("title^2", "text")
    assert c.tie_breaker == 0.3
    assert c.operator == "or"


def test_dis_max_and_nested_bool():
    n = parse_query({"dis_max": {"tie_breaker": 0.5, "queries": [
        {"match": {"text": "a"}},
        {"bool": {"must": [{"match": {"text": "b"}}],
                  "must_not": [{"match": {"text": "c"}}]}},
    ]}})
    assert isinstance(n, DisMax) and n.tie_breaker == 0.5
    assert isinstance(n.queries[1], Bool)
    assert n.queries[1].must_not[0].query == "c"


def test_match_all_and_size():
    req = parse_request({"query": {"match_all": {}}, "size": 7})
    assert req.is_match_all and req.k == 7
    assert parse_request({}).is_match_all


def test_wrapper_decodes():
    inner = {"match": {"text": "wrapped query"}}
    b64 = base64.b64encode(json.dumps(inner).encode()).decode()
    req = parse_request({"query": {"wrapper": {"query": b64}}})
    assert req.clauses[0].query == "wrapped query"
    with pytest.raises(EsDslError, match="decode"):
        parse_query({"wrapper": {"query": "!!not-base64-json!!"}})


def test_parse_request_json():
    req = parse_request_json('{"query": {"match": {"text": "x"}}}')
    assert req.clauses[0].query == "x"
    with pytest.raises(EsDslError, match="not valid JSON"):
        parse_request_json("{nope")


# ---- filter context ---------------------------------------------------------


def test_filter_lowering():
    assert filter_sql({"term": {"lang": "en"}}) == "lang = 'en'"
    assert filter_sql({"term": {"lang": {"value": "d'e"}}}) == (
        "lang = 'd''e'"
    )
    assert filter_sql({"terms": {"lang": ["en", "de"]}}) == (
        "lang IN ('en', 'de')"
    )
    assert filter_sql({"range": {"n_chars": {"gte": 10, "lt": 99}}}) == (
        "(n_chars >= 10 AND n_chars < 99)"  # bounds in sorted-key order
    )
    assert filter_sql({"exists": {"field": "lang"}}) == (
        "lang IS NOT NULL"
    )
    got = filter_sql({"bool": {"filter": [
        {"term": {"lang": "en"}}, {"range": {"n_chars": {"gt": 5}}},
    ]}})
    assert got == "(lang = 'en' AND (n_chars > 5))"


def test_root_bool_filter_becomes_filter_expr():
    req = parse_request({"query": {"bool": {
        "must": [{"match": {"text": "x"}}],
        "filter": [{"term": {"lang": "en"}},
                   {"range": {"n_chars": {"gte": 100}}}],
    }}})
    assert req.filter_expr == "lang = 'en' AND (n_chars >= 100)"


# ---- fail-loud edges --------------------------------------------------------


def test_fail_loud():
    with pytest.raises(EsDslError, match="sparkfts.phrase"):
        parse_query({"match_phrase": {"text": "a b"}})
    with pytest.raises(EsDslError, match="unsupported query type"):
        parse_query({"frobnicate": {}})
    with pytest.raises(EsDslError, match="unsupported options"):
        parse_query({"match": {"text": {"query": "x", "analyzer": "std"}}})
    # bool.minimum_should_match is SUPPORTED since round 5
    # (test_msm.py); only a bad TYPE rejects
    with pytest.raises(EsDslError, match="minimum_should_match"):
        parse_request({"query": {"bool": {
            "should": [{"match": {"text": "x"}}],
            "minimum_should_match": 1.5}}})
    # nested bool.filter is SUPPORTED since round 5 (docset nodes) —
    # it lowers into Bool.filter predicates
    n = parse_query({"bool": {"must": [
        {"bool": {"must": [{"match": {"text": "x"}}],
                  "filter": [{"term": {"lang": "en"}}]}},
    ]}})
    assert n.must[0].filter == ("lang = 'en'",)
    with pytest.raises(EsDslError, match="scoring clause"):
        parse_request({"query": {"bool": {
            "must_not": [{"match": {"text": "x"}}]}}})
    with pytest.raises(EsDslError, match="invalid field"):
        parse_query({"match": {"bad-field; drop": "x"}})
    with pytest.raises(EsDslError, match="invalid field"):
        filter_sql({"term": {"x; DROP TABLE docs": 1}})
    with pytest.raises(EsDslError, match="fuzziness"):
        parse_query({"match": {"text": {"query": "x", "fuzziness": 3}}})
    with pytest.raises(EsDslError, match="most_fields"):
        parse_query({"multi_match": {"query": "x",
                                     "type": "most_fields"}})
    with pytest.raises(EsDslError, match="unsupported options"):
        parse_request({"query": {"match_all": {}}, "from": 5})
    with pytest.raises(EsDslError, match="unsupported in filter"):
        filter_sql({"match": {"text": "x"}})


# ---- end-to-end parity ------------------------------------------------------


@pytest.fixture(scope="module")
def dsl_index(spark, pages_df, tmp_path_factory):
    from sparkfts.index import build_index

    d = str(tmp_path_factory.mktemp("esdsl_idx"))
    build_index(
        pages_df, d, n_shards=4, n_tbuckets=8, docvalue_cols=("lang",)
    )
    return d


def test_dsl_executes_like_hand_built_ir(
    spark, dsl_index, queries
):
    from sparkfts.booltree import bool_topk_batch

    q = queries[0]["query"]
    body = {
        "size": 10,
        "query": {"bool": {
            "must": [{"multi_match": {
                "query": q, "fields": ["text"],
                "operator": "and", "fuzziness": "AUTO"}}],
            "should": [{"match": {"text": {
                "query": "the", "operator": "and",
                "fuzziness": "AUTO"}}}],
            "filter": [{"exists": {"field": "lang"}}],
        }},
    }
    hand = SearchRequest(
        clauses=(Bool(
            must=(Clause(query=q, fields=("text",)),),
            should=(Clause(query="the", fields=("text",)),),
        ),),
        k=10,
        filter_expr="lang IS NOT NULL",
    )
    got = bool_topk_batch(spark, dsl_index, [parse_request(body)]).collect()
    exp = bool_topk_batch(spark, dsl_index, [hand]).collect()
    assert got, "fixture too sparse"
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (r["doc_id"], r["score"]) for r in exp
    ]


# ---- CLI --------------------------------------------------------------------


def _out_lines(capsys):
    return [
        json.loads(line)
        for line in capsys.readouterr().out.strip().splitlines()
        if line
    ]


def test_cli_search_dsl(spark, dsl_index, queries, capsys):
    from sparkfts.booltree import bool_topk_batch
    from sparkfts.cli import main

    q = queries[0]["query"]
    body = json.dumps({
        "size": 5,
        "query": {"bool": {
            "must": [{"multi_match": {
                "query": q, "fields": ["text"],
                "operator": "and", "fuzziness": "AUTO"}}],
            "filter": [{"exists": {"field": "lang"}}],
        }},
    })
    main(["search-dsl", "--index", dsl_index, "--body", body,
          "--cores", "4"])
    rows = _out_lines(capsys)
    want = bool_topk_batch(
        spark, dsl_index, [parse_request(json.loads(body))]
    ).collect()
    assert rows and [(r["rank"], r["doc_id"]) for r in rows] == [
        (r["rank"], r["doc_id"]) for r in want
    ]
    # fail-loud matrix
    with pytest.raises(SystemExit, match="exactly one"):
        main(["search-dsl", "--index", dsl_index])
    with pytest.raises(SystemExit, match="match_all"):
        main(["search-dsl", "--index", dsl_index, "--body",
              '{"query": {"match_all": {}}}'])
    with pytest.raises(SystemExit, match="search-dsl"):
        main(["search-dsl", "--index", dsl_index, "--body",
              '{"query": {"match_phrase": {"text": "a b"}}}'])


def test_prefix_lowering_and_execution(spark, dsl_index):
    """prefix query -> Prefix bool-tree leaf; end-to-end == the
    standalone prefix query (round-5 widening)."""
    from sparkfts.booltree import bool_topk_batch
    from sparkfts.prefix import prefix_topk_batch
    from sparkfts.querybuilder import Prefix

    node = parse_query({"prefix": {"text": {"value": "Th"}}})
    assert node == Prefix(prefix="th", fields=("text",))
    assert parse_query({"prefix": {"text": "th"}}) == node  # shorthand

    req = parse_request(
        {"query": {"prefix": {"text": "th"}}, "size": 15}
    )
    got = bool_topk_batch(spark, dsl_index, [req]).collect()
    want = prefix_topk_batch(spark, dsl_index, [(0, "th", 15)]).collect()
    assert [tuple(r)[1:] for r in got] == [tuple(r)[1:] for r in want]
    assert got

    with pytest.raises(EsDslError, match="value"):
        parse_query({"prefix": {"text": {}}})
    with pytest.raises(EsDslError, match="empty"):
        parse_query({"prefix": {"text": "  "}})
    with pytest.raises(EsDslError, match="unsupported options"):
        parse_query({"prefix": {"text": {"value": "a", "rewrite": "x"}}})


def test_query_string_lowering(spark, dsl_index, queries):
    """query_string body == querystring.query_string_topk_batch."""
    from sparkfts.booltree import bool_topk_batch
    from sparkfts.querystring import query_string_topk_batch

    q = "the AND NOT of"
    req = parse_request(
        {"query": {"query_string": {"query": q}}, "size": 10}
    )
    got = bool_topk_batch(spark, dsl_index, [req]).collect()
    want = query_string_topk_batch(spark, dsl_index, [(0, q, 10)]).collect()
    assert [tuple(r)[1:] for r in got] == [tuple(r)[1:] for r in want]

    # parse errors rewrap as EsDslError (still fail-loud)
    with pytest.raises(EsDslError, match="query.query_string"):
        parse_query({"query_string": {"query": '"quoted"'}})
    with pytest.raises(EsDslError, match="unsupported options"):
        parse_query({"query_string": {"query": "a", "boost": 2}})


def test_simple_query_string_lowering(spark, dsl_index, queries):
    """Phrase-free simple_query_string == its executor's fast path;
    phrase-bearing / no-positive fail loud with pointers."""
    from sparkfts.booltree import bool_topk_batch
    from sparkfts.simpleqs import simple_query_string_topk_batch

    q = "the + wo* | -zzzqx of"
    req = parse_request(
        {"query": {"simple_query_string": {
            "query": q, "flags": "AND|OR|NOT|PREFIX"}}, "size": 10}
    )
    got = bool_topk_batch(spark, dsl_index, [req]).collect()
    want = simple_query_string_topk_batch(
        spark, dsl_index, [(0, q, 10)], flags=["AND", "OR", "NOT", "PREFIX"]
    ).collect()
    assert [tuple(r)[1:] for r in got] == [tuple(r)[1:] for r in want]
    assert got

    with pytest.raises(EsDslError, match="positions kernel"):
        parse_query({"simple_query_string": {"query": '"a b"'}})
    with pytest.raises(EsDslError, match="NOTHING"):
        parse_query({"simple_query_string": {"query": "-only -negative"}})
    with pytest.raises(EsDslError, match="flag"):
        parse_query({"simple_query_string": {"query": "a", "flags": "BOGUS"}})


def test_termlevel_leaves_lowering_and_parity(spark, dsl_index):
    """wildcard / regexp / fuzzy DSL queries -> bool-tree leaves;
    end-to-end == their standalone dedicated surfaces."""
    from sparkfts.booltree import bool_topk_batch
    from sparkfts.prefix import regexp_topk_batch, wildcard_topk_batch
    from sparkfts.querybuilder import FuzzyTerm, Regexp, Wildcard

    node = parse_query({"wildcard": {"text": {"value": "Th*e"}}})
    assert node == Wildcard(pattern="th*e", fields=("text",))
    req = parse_request({"query": {"wildcard": {"text": "th*"}}, "size": 12})
    got = bool_topk_batch(spark, dsl_index, [req]).collect()
    want = wildcard_topk_batch(spark, dsl_index, [(0, "th*", 12)]).collect()
    assert [tuple(r)[1:] for r in got] == [tuple(r)[1:] for r in want]
    assert got

    node = parse_query({"regexp": {"text": {"value": "th(e|at)"}}})
    assert node == Regexp(pattern="th(e|at)", fields=("text",))
    req = parse_request(
        {"query": {"regexp": {"text": "th(e|at)"}}, "size": 12}
    )
    got = bool_topk_batch(spark, dsl_index, [req]).collect()
    want = regexp_topk_batch(
        spark, dsl_index, [(0, "th(e|at)", 12)]
    ).collect()
    assert [tuple(r)[1:] for r in got] == [tuple(r)[1:] for r in want]
    assert got

    node = parse_query(
        {"fuzzy": {"text": {"value": "worde", "fuzziness": 1}}}
    )
    assert node == FuzzyTerm(term="worde", fuzziness="1", fields=("text",))
    # fuzzy == a fuzzy match Clause when the analyzer is identity on
    # the term (single standard-analyzer token)
    from sparkfts.querybuilder import Clause, SearchRequest

    a = bool_topk_batch(
        spark, dsl_index,
        [SearchRequest(clauses=(node,), k=10)],
    ).collect()
    b = bool_topk_batch(
        spark, dsl_index,
        [SearchRequest(clauses=(Clause(query="worde", fuzziness="1"),),
                       k=10)],
    ).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    assert a

    # fail-loud: invalid regexp / empty values / stray options
    with pytest.raises(EsDslError):
        parse_query({"regexp": {"text": {"value": "(a"}}})
    with pytest.raises(EsDslError, match="empty"):
        parse_query({"wildcard": {"text": "  "}})
    with pytest.raises(EsDslError, match="literal"):
        parse_query({"wildcard": {"text": "**"}})
    with pytest.raises(EsDslError, match="unsupported options"):
        parse_query({"wildcard": {"text": {"value": "a*",
                                           "rewrite": "top_terms_10"}}})
    with pytest.raises(EsDslError, match="fuzziness"):
        parse_query({"fuzzy": {"text": {"value": "x", "fuzziness": 5}}})


def test_termlevel_leaves_compose_in_bool(spark, dsl_index):
    """A bool mixing wildcard + fuzzy leaves with must_not — one
    single-pass kernel plan; match set == intersection minus exclusion
    computed from the standalone surfaces."""
    from sparkfts.booltree import bool_matches_batch, bool_topk_batch
    from sparkfts.prefix import wildcard_topk_batch

    body = {"query": {"bool": {
        "must": [{"wildcard": {"text": "th*"}},
                 {"fuzzy": {"text": {"value": "worde"}}}],
        "must_not": [{"match": {"text": "zzzneverzzz"}}],
    }}, "size": 500}
    req = parse_request(body)
    got = {
        r["doc_id"]
        for r in bool_matches_batch(spark, dsl_index, [req]).collect()
    }
    wild = {
        r["doc_id"]
        for r in wildcard_topk_batch(
            spark, dsl_index, [(0, "th*", 10_000)]
        ).collect()
    }
    from sparkfts.querybuilder import FuzzyTerm, SearchRequest

    fz = {
        r["doc_id"]
        for r in bool_matches_batch(
            spark, dsl_index,
            [SearchRequest(clauses=(FuzzyTerm(term="worde"),), k=1)],
        ).collect()
    }
    assert got == (wild & fz)
    assert got


def test_run_request_aggs(spark, corpus, dsl_index, pages_df):
    """query + aggs in ONE request body: aggs run over the COMPLETE
    match set (not the hits page); each agg == its SQL mirror."""
    from pyspark.sql import functions as F

    from sparkfts.booltree import bool_matches_batch
    from sparkfts.esdsl import run_request
    from sparkfts.tokens import prepare_pages

    prepared = prepare_pages(pages_df)
    dv = prepared.select(
        "doc_id", "lang", F.length("text").alias("n_chars")
    )
    body = {
        "size": 3,
        "query": {"match": {"text": {"query": "the", "operator": "and",
                                     "fuzziness": 0}}},
        "aggs": {
            "by_lang": {"terms": {"field": "lang", "size": 3}},
            "chars": {"stats": {"field": "n_chars"}},
            "n_langs": {"cardinality": {"field": "lang"}},
            "hist": {"histogram": {"field": "n_chars",
                                   "interval": 2000}},
            "p50": {"percentiles": {"field": "n_chars",
                                    "percents": [50]}},
        },
    }
    out = run_request(spark, dsl_index, body, doc_values=dv)
    hits = out["hits"].collect()
    assert len(hits) == 3  # the page is bounded by size...

    req_body = {k: v for k, v in body.items() if k != "aggs"}
    from sparkfts.esdsl import parse_request

    match = {
        r["doc_id"]
        for r in bool_matches_batch(
            spark, dsl_index, [parse_request(req_body)]
        ).collect()
    }
    assert len(match) > 3  # ...but aggs see the full match set
    dv_rows = {
        r["doc_id"]: (r["lang"], r["n_chars"]) for r in dv.collect()
    }
    langs = [dv_rows[d][0] for d in match]
    chars = [dv_rows[d][1] for d in match]

    terms = [
        (r["key"], r["doc_count"])
        for r in out["aggregations"]["by_lang"].collect()
    ]
    from collections import Counter

    want = sorted(
        Counter(langs).items(), key=lambda kv: (-kv[1], kv[0])
    )[:3]
    assert terms == want

    st = out["aggregations"]["chars"].collect()[0]
    assert st["count"] == len(chars)
    assert st["min"] == min(chars) and st["max"] == max(chars)
    assert st["sum"] == float(sum(chars))

    assert out["aggregations"]["n_langs"].collect()[0]["value"] == len(
        set(langs)
    )
    hist = {
        r["bucket"]: r["doc_count"]
        for r in out["aggregations"]["hist"].collect()
    }
    want_h = Counter((c // 2000) * 2000 for c in chars)
    assert hist == {float(k): v for k, v in want_h.items()}

    import numpy as np

    p50 = out["aggregations"]["p50"].collect()[0]
    assert p50["value"] == pytest.approx(
        float(np.percentile(sorted(chars), 50)), abs=1e-9
    )


def test_run_request_match_all_and_guards(spark, corpus, dsl_index,
                                          pages_df):
    from pyspark.sql import functions as F

    from sparkfts.esdsl import run_request
    from sparkfts.tokens import prepare_pages

    dv = prepare_pages(pages_df).select("doc_id", "lang")
    out = run_request(
        spark, dsl_index,
        {"query": {"match_all": {}}, "size": 5,
         "aggs": {"l": {"value_count": {"field": "lang"}}}},
        doc_values=dv,
    )
    assert len(out["hits"].collect()) == 5
    assert out["aggregations"]["l"].collect()[0]["value"] == dv.count()
    # guards
    with pytest.raises(EsDslError, match="doc_values"):
        run_request(spark, dsl_index,
                    {"query": {"match_all": {}},
                     "aggs": {"x": {"avg": {"field": "lang"}}}})
    with pytest.raises(EsDslError, match="not in doc_values"):
        run_request(spark, dsl_index,
                    {"query": {"match_all": {}},
                     "aggs": {"x": {"avg": {"field": "nope"}}}},
                    doc_values=dv)
    # terms + metric sub-aggs are SUPPORTED now (round 5) — an unknown
    # sub-agg FIELD is what rejects
    with pytest.raises(EsDslError, match="not in doc_values"):
        run_request(spark, dsl_index,
                    {"query": {"match_all": {}},
                     "aggs": {"x": {"terms": {"field": "lang"},
                                    "aggs": {"y": {"avg":
                                                   {"field": "z"}}}}}},
                    doc_values=dv)
    with pytest.raises(EsDslError, match="dedicated surface"):
        run_request(spark, dsl_index,
                    {"query": {"match_all": {}},
                     "aggs": {"x": {"date_histogram": {"field": "lang"}}}},
                    doc_values=dv)
    with pytest.raises(EsDslError, match="unsupported agg type"):
        run_request(spark, dsl_index,
                    {"query": {"match_all": {}},
                     "aggs": {"x": {"frobnicate": {"field": "lang"}}}},
                    doc_values=dv)


def test_cli_search_dsl_aggs(spark, dsl_index, capsys):
    """CLI: an aggs-bearing body routes through run_request over the
    index's docvalue columns (lang rides the docmap)."""
    from sparkfts.cli import main

    body = json.dumps({
        "size": 3,
        "query": {"match": {"text": {"query": "the", "operator": "and",
                                     "fuzziness": 0}}},
        "aggs": {"by_lang": {"terms": {"field": "lang", "size": 3}}},
    })
    main(["search-dsl", "--index", dsl_index, "--body", body,
          "--cores", "4"])
    lines = [
        json.loads(x)
        for x in capsys.readouterr().out.strip().splitlines() if x
    ]
    hits = [x for x in lines if "rank" in x]
    aggs = [x for x in lines if x.get("agg") == "by_lang"]
    assert len(hits) == 3 and len(aggs) == 1
    assert aggs[0]["buckets"] and all(
        "key" in b and "doc_count" in b for b in aggs[0]["buckets"]
    )
    with pytest.raises(SystemExit, match="search-dsl"):
        main(["search-dsl", "--index", dsl_index, "--body",
              '{"query": {"match_all": {}}, '
              '"aggs": {"x": {"avg": {"field": "nope"}}}}',
              "--cores", "4"])


def test_cli_search_dsl_sort_prints_sort_value(spark, dsl_index, capsys):
    """CLI: a sorted body (alone, and with aggs) prints each hit's
    ``sort_value``; a sorted page carries no score column."""
    from sparkfts.cli import main
    from sparkfts.index import load_docmap

    qpart = {"match": {"text": {"query": "the", "operator": "and",
                                "fuzziness": 0}}}
    sort = [{"doclen": {"order": "desc"}}]
    doclen = {r["doc_id"]: r["doclen"]
              for r in load_docmap(spark, dsl_index).collect()}
    for extra in ({}, {"aggs": {"by_lang": {"terms": {"field": "lang"}}}}):
        body = json.dumps({"size": 4, "query": qpart, "sort": sort,
                           **extra})
        main(["search-dsl", "--index", dsl_index, "--body", body,
              "--cores", "4"])
        hits = [x for x in _out_lines(capsys) if "rank" in x]
        assert len(hits) == 4 and all("score" not in h for h in hits)
        assert [h["sort_value"] for h in hits] == [
            doclen[h["doc_id"]] for h in hits
        ]
        keys = [(-h["sort_value"], h["doc_id"]) for h in hits]
        assert keys == sorted(keys)


def test_match_all_skips_tombstoned_docs(spark, dsl_index, tmp_path):
    """match_all ranks, counts and sorts only live docs."""
    import shutil

    from sparkfts.deletes import delete_docs
    from sparkfts.esdsl import run_request
    from sparkfts.index import load_docmap

    idx = str(tmp_path / "ma_del_idx")
    shutil.copytree(dsl_index, idx)
    dm = {r["doc_id"]: r["doclen"]
          for r in load_docmap(spark, idx).collect()}
    ids = sorted(dm)
    by_len = sorted(dm, key=lambda d: (-dm[d], d))
    victims = {ids[0], ids[2], by_len[0]}
    delete_docs(spark, idx, list(victims))
    live = [d for d in ids if d not in victims]

    out = run_request(spark, idx, {"query": {"match_all": {}}, "size": 5,
                                   "track_total_hits": True})
    assert [(r["rank"], r["doc_id"]) for r in out["hits"].collect()] == [
        (i + 1, d) for i, d in enumerate(live[:5])
    ]
    assert out["total"] == len(live)

    out = run_request(
        spark, idx,
        {"query": {"match_all": {}}, "size": 3,
         "sort": [{"doclen": {"order": "desc"}}],
         "aggs": {"n": {"value_count": {"field": "doclen"}}}},
        doc_values=load_docmap(spark, idx),
    )
    want = [d for d in by_len if d not in victims][:3]
    assert [r["doc_id"] for r in out["hits"].collect()] == want
    assert out["aggregations"]["n"].collect()[0][0] == len(live)


def test_run_request_sort_from_source_total(spark, dsl_index, pages_df):
    """sort / from / _source / track_total_hits in the one-call body."""
    from pyspark.sql import functions as F

    from sparkfts.booltree import bool_matches_batch
    from sparkfts.esdsl import run_request
    from sparkfts.tokens import prepare_pages

    dv = prepare_pages(pages_df).select(
        "doc_id", "lang", F.length("text").alias("n_chars")
    )
    qpart = {"query": {"match": {"text": {"query": "the",
                                          "operator": "and",
                                          "fuzziness": 0}}}}
    match = {
        r["doc_id"]
        for r in bool_matches_batch(
            spark, dsl_index, [parse_request(qpart)]
        ).collect()
    }
    dv_rows = {r["doc_id"]: r["n_chars"] for r in dv.collect()}

    # sorted page replaces relevance ranking (ES), doc_id tiebreak
    out = run_request(
        spark, dsl_index,
        {**qpart, "size": 5, "sort": [{"n_chars": {"order": "desc"}}],
         "track_total_hits": True},
        doc_values=dv,
    )
    got = [(r["rank"], r["doc_id"], r["sort_value"])
           for r in out["hits"].collect()]
    want = sorted(match, key=lambda d: (-dv_rows[d], d))[:5]
    assert got == [(i + 1, d, dv_rows[d]) for i, d in enumerate(want)]
    assert out["total"] == len(match)

    # from: page 2 of the sorted order
    out2 = run_request(
        spark, dsl_index,
        {**qpart, "size": 5, "from": 5,
         "sort": [{"n_chars": {"order": "desc"}}]},
        doc_values=dv,
    )
    want2 = sorted(match, key=lambda d: (-dv_rows[d], d))[5:10]
    assert [(r["rank"], r["doc_id"]) for r in out2["hits"].collect()] \
        == [(i + 1, d) for i, d in enumerate(want2)]

    # from on the RELEVANCE path: page 2 == ranks 4..6 of the full page
    full = run_request(spark, dsl_index, {**qpart, "size": 6},
                       doc_values=dv)["hits"].collect()
    paged = run_request(spark, dsl_index,
                        {**qpart, "size": 3, "from": 3},
                        doc_values=dv)["hits"].collect()
    assert [(r["doc_id"], r["score"]) for r in paged] == [
        (r["doc_id"], r["score"]) for r in full[3:6]
    ]

    # _source joins doc-value columns into the page
    out3 = run_request(
        spark, dsl_index,
        {**qpart, "size": 4, "_source": ["lang", "n_chars"]},
        doc_values=dv,
    )
    rows = out3["hits"].collect()
    assert {"lang", "n_chars"} <= set(rows[0].asDict())
    assert all(r["n_chars"] == dv_rows[r["doc_id"]] for r in rows)

    # guards
    with pytest.raises(EsDslError, match="ONE sort key"):
        run_request(spark, dsl_index,
                    {**qpart, "sort": [{"a": "asc"}, {"b": "desc"}]},
                    doc_values=dv)
    with pytest.raises(EsDslError, match="asc/desc"):
        run_request(spark, dsl_index,
                    {**qpart, "sort": [{"n_chars": "down"}]},
                    doc_values=dv)
    with pytest.raises(EsDslError, match="unsupported options"):
        run_request(spark, dsl_index, {**qpart, "min_score": 2},
                    doc_values=dv)
    with pytest.raises(EsDslError, match="doc_values"):
        run_request(spark, dsl_index, {**qpart, "sort": ["n_chars"]})


def test_nested_bool_filter_kernel(spark, dsl_index, pages_df):
    """Nested bool.filter (round 5): zero-scoring docset constraint on
    ITS node only — mirror from single-leaf frames + lang docvalues.
    Query: must=[the] should=[bool{must:[word-ish term], filter:[lang]}]
    — every 'the' doc matches; the bonus arm only fires for docs in the
    filtered lang."""
    from pyspark.sql import functions as F

    from sparkfts.booltree import bool_matches_batch
    from sparkfts.querybuilder import Bool, Clause, SearchRequest
    from sparkfts.tokens import prepare_pages

    prepared = prepare_pages(pages_df).select("doc_id", "lang").collect()
    lang_of = {r["doc_id"]: r["lang"] for r in prepared}
    from collections import Counter

    top_lang = Counter(lang_of.values()).most_common(1)[0][0]

    def leaf(t):
        return {
            r["doc_id"]: r["score"]
            for r in bool_matches_batch(
                spark, dsl_index,
                [SearchRequest(
                    clauses=(Clause(query=t, fuzziness="0"),), k=1
                )],
            ).collect()
        }

    a, b = "the", "of"
    la, lb = leaf(a), leaf(b)
    tree = Bool(
        must=(Clause(query=a, fuzziness="0"),),
        should=(Bool(
            must=(Clause(query=b, fuzziness="0"),),
            filter=(f"lang = '{top_lang}'",),
        ),),
    )
    got = {
        r["doc_id"]: r["score"]
        for r in bool_matches_batch(
            spark, dsl_index, [SearchRequest(clauses=(tree,), k=1)]
        ).collect()
    }
    want = {}
    for d, sa in la.items():
        bonus = (
            lb[d] if d in lb and lang_of[d] == top_lang else 0.0
        )
        want[d] = sa + bonus
    assert got.keys() == want.keys()
    for d in got:
        assert got[d] == pytest.approx(want[d], abs=1e-12)
    # the filter actually bit: some doc matched b but in another lang
    assert any(
        d in lb and lang_of[d] != top_lang for d in la
    ), "fixture too uniform"

    # filter in MUST position constrains the whole node
    tree2 = Bool(
        must=(Clause(query=a, fuzziness="0"),),
        filter=(f"lang = '{top_lang}'",),
    )
    got2 = {
        r["doc_id"]
        for r in bool_matches_batch(
            spark, dsl_index, [SearchRequest(clauses=(tree2,), k=1)]
        ).collect()
    }
    assert got2 == {d for d in la if lang_of[d] == top_lang}


def test_nested_bool_filter_dsl_end_to_end(spark, dsl_index):
    """DSL body with a nested filtered bool == the hand-built IR."""
    from sparkfts.booltree import bool_topk_batch
    from sparkfts.querybuilder import Bool, Clause, SearchRequest

    body = {"query": {"bool": {
        "must": [{"match": {"text": {"query": "the", "operator": "and",
                                     "fuzziness": 0}}}],
        "should": [{"bool": {
            "must": [{"match": {"text": {"query": "of",
                                         "operator": "and",
                                         "fuzziness": 0}}}],
            "filter": [{"term": {"lang": "en"}}],
        }}],
    }}, "size": 15}
    got = bool_topk_batch(
        spark, dsl_index, [parse_request(body)]
    ).collect()
    hand = SearchRequest(clauses=(Bool(
        must=(Clause(query="the", operator="and", fuzziness="0"),),
        should=(Bool(
            must=(Clause(query="of", operator="and", fuzziness="0"),),
            filter=("lang = 'en'",),
        ),),
    ),), k=15)
    want = bool_topk_batch(spark, dsl_index, [hand]).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert got


def test_constant_score_filter_leaf(spark, dsl_index, pages_df):
    """constant_score(filter) -> ConstFilter docset leaf: every
    predicate-matching doc scores exactly boost; composes in bool."""
    from sparkfts.booltree import bool_matches_batch
    from sparkfts.querybuilder import (
        Bool,
        Clause,
        ConstFilter,
        SearchRequest,
    )
    from sparkfts.tokens import prepare_pages

    node = parse_query(
        {"constant_score": {"filter": {"term": {"lang": "en"}},
                            "boost": 1.5}}
    )
    assert node == ConstFilter(predicate="lang = 'en'", boost=1.5)

    lang_of = {
        r["doc_id"]: r["lang"]
        for r in prepare_pages(pages_df).select("doc_id", "lang").collect()
    }
    # standalone-in-bool: must=[the], should=[constant_score(lang=en)]
    leaf = {
        r["doc_id"]: r["score"]
        for r in bool_matches_batch(
            spark, dsl_index,
            [SearchRequest(
                clauses=(Clause(query="the", fuzziness="0"),), k=1
            )],
        ).collect()
    }
    tree = Bool(
        must=(Clause(query="the", fuzziness="0"),),
        should=(node,),
    )
    got = {
        r["doc_id"]: r["score"]
        for r in bool_matches_batch(
            spark, dsl_index, [SearchRequest(clauses=(tree,), k=1)]
        ).collect()
    }
    assert got.keys() == leaf.keys()
    for d in got:
        bonus = 1.5 if lang_of[d] == "en" else 0.0
        assert got[d] == pytest.approx(leaf[d] + bonus, abs=1e-12)
    assert any(lang_of[d] == "en" for d in leaf)
    assert any(lang_of[d] != "en" for d in leaf)

    # text-query filter points at the dedicated surface
    with pytest.raises(EsDslError, match="constant_score_topk"):
        parse_query(
            {"constant_score": {"filter": {"match": {"text": "x"}}}}
        )


def test_ids_filter_dismax_boost_search_after(spark, dsl_index,
                                              pages_df):
    """Round-5 closures: ids filter context, dis_max boost,
    search_after on the sorted DSL path."""
    from pyspark.sql import functions as F

    from sparkfts.booltree import bool_topk_batch
    from sparkfts.esdsl import run_request
    from sparkfts.tokens import prepare_pages

    # ids filter
    assert filter_sql({"ids": {"values": [3, 1, 2]}}) == (
        "doc_id IN (1, 2, 3)"
    )
    with pytest.raises(EsDslError, match="integers"):
        filter_sql({"ids": {"values": ["abc"]}})
    with pytest.raises(EsDslError, match="non-empty"):
        filter_sql({"ids": {"values": []}})

    # dis_max boost: scores exactly base * boost
    base_q = {"dis_max": {"queries": [
        {"match": {"text": {"query": "the", "operator": "and",
                            "fuzziness": 0}}},
        {"match": {"text": {"query": "of", "operator": "and",
                            "fuzziness": 0}}},
    ], "tie_breaker": 0.3}}
    boosted_q = {"dis_max": {**base_q["dis_max"], "boost": 2.0}}
    a = bool_topk_batch(
        spark, dsl_index,
        [parse_request({"query": base_q, "size": 10})],
    ).collect()
    b = bool_topk_batch(
        spark, dsl_index,
        [parse_request({"query": boosted_q, "size": 10})],
    ).collect()
    assert [r["doc_id"] for r in a] == [r["doc_id"] for r in b]
    assert all(y["score"] == x["score"] * 2.0 for x, y in zip(a, b))
    assert a

    # search_after on the sorted path: page 2 == rank 6..10 of page 1
    dv = prepare_pages(pages_df).select(
        "doc_id", F.length("text").alias("n_chars")
    )
    qpart = {"query": {"match": {"text": {"query": "the",
                                          "operator": "and",
                                          "fuzziness": 0}}}}
    p1 = run_request(
        spark, dsl_index,
        {**qpart, "size": 10, "sort": [{"n_chars": "desc"}]},
        doc_values=dv,
    )["hits"].collect()
    last = p1[4]
    p2 = run_request(
        spark, dsl_index,
        {**qpart, "size": 5, "sort": [{"n_chars": "desc"}],
         "search_after": [last["sort_value"], last["doc_id"]]},
        doc_values=dv,
    )["hits"].collect()
    assert [r["doc_id"] for r in p2] == [r["doc_id"] for r in p1[5:10]]
    # guards
    with pytest.raises(EsDslError, match="requires sort"):
        run_request(spark, dsl_index,
                    {**qpart, "search_after": [1, 2]}, doc_values=dv)
    with pytest.raises(EsDslError, match="mutually"):
        run_request(spark, dsl_index,
                    {**qpart, "from": 3, "sort": ["n_chars"],
                     "search_after": [1, 2]}, doc_values=dv)


def test_terms_sub_aggs_in_runner(spark, dsl_index, pages_df):
    """terms + metric sub-aggs in one request body: per-bucket metrics
    computed in the SAME groupBy; mirror from the match set."""
    from collections import Counter

    from pyspark.sql import functions as F

    from sparkfts.booltree import bool_matches_batch
    from sparkfts.esdsl import run_request
    from sparkfts.tokens import prepare_pages

    dv = prepare_pages(pages_df).select(
        "doc_id", "lang", F.length("text").alias("n_chars")
    )
    qpart = {"query": {"match": {"text": {"query": "the",
                                          "operator": "and",
                                          "fuzziness": 0}}}}
    out = run_request(
        spark, dsl_index,
        {**qpart, "size": 1, "aggs": {"by_lang": {
            "terms": {"field": "lang", "size": 5},
            "aggs": {"avg_chars": {"avg": {"field": "n_chars"}},
                     "max_chars": {"max": {"field": "n_chars"}}},
        }}},
        doc_values=dv,
    )
    rows = out["aggregations"]["by_lang"].collect()
    match = {
        r["doc_id"]
        for r in bool_matches_batch(
            spark, dsl_index, [parse_request({**qpart, "size": 1})]
        ).collect()
    }
    dvr = {r["doc_id"]: (r["lang"], r["n_chars"]) for r in dv.collect()}
    per_lang: dict = {}
    for d in match:
        lang, n = dvr[d]
        per_lang.setdefault(lang, []).append(n)
    want = sorted(
        ((k, len(v)) for k, v in per_lang.items()),
        key=lambda kv: (-kv[1], kv[0]),
    )[:5]
    assert [(r["key"], r["doc_count"]) for r in rows] == want
    for r in rows:
        vals = per_lang[r["key"]]
        assert r["avg_chars"] == pytest.approx(
            sum(vals) / len(vals), abs=1e-9
        )
        assert r["max_chars"] == max(vals)

    # guards: sub-aggs only under terms; only one level; metric kinds
    with pytest.raises(EsDslError, match="terms"):
        run_request(spark, dsl_index,
                    {**qpart, "aggs": {"x": {
                        "stats": {"field": "n_chars"},
                        "aggs": {"y": {"avg": {"field": "n_chars"}}}}}},
                    doc_values=dv)
    with pytest.raises(EsDslError, match="ONE sub-agg level"):
        run_request(spark, dsl_index,
                    {**qpart, "aggs": {"x": {
                        "terms": {"field": "lang"},
                        "aggs": {"y": {"terms": {"field": "lang"},
                                       "aggs": {"z": {"avg":
                                                      {"field": "n"}}}}}}}},
                    doc_values=dv)
    with pytest.raises(EsDslError, match="metric sub-aggs only"):
        run_request(spark, dsl_index,
                    {**qpart, "aggs": {"x": {
                        "terms": {"field": "lang"},
                        "aggs": {"y": {"terms": {"field": "lang"}}}}}},
                    doc_values=dv)


def test_match_bool_prefix_lowering_parity(spark, dsl_index):
    """match_bool_prefix in the DSL == the dedicated surface (default
    analyzer chain), both operators; bit-identical ranks and scores."""
    from sparkfts.booltree import bool_topk_batch
    from sparkfts.prefix import match_bool_prefix_batch

    q = "the wo"
    for op, mode in (("or", "or"), ("and", "and")):
        req = parse_request({
            "query": {"match_bool_prefix": {"text": {
                "query": q, "operator": op}}},
            "size": 12,
        })
        got = bool_topk_batch(spark, dsl_index, [req]).collect()
        want = match_bool_prefix_batch(
            spark, dsl_index, [(0, q, 12)], mode=mode
        ).collect()
        assert [tuple(r)[1:] for r in got] == [
            tuple(r)[1:] for r in want
        ], op
        assert got, op
    # shorthand + guards
    n = parse_query({"match_bool_prefix": {"text": "a b"}})
    assert n.should and len(n.should) == 2
    with pytest.raises(EsDslError, match="no terms"):
        parse_query({"match_bool_prefix": {"text": "!!!"}})


def test_term_level_query_context_constant_score(spark, dsl_index):
    """term/terms/range/exists/ids in QUERY context lower to
    ConstantScore leaves (score = boost), per-kind boost placement."""
    from sparkfts.querybuilder import ConstFilter

    assert parse_query({"term": {"lang": "en"}}) == ConstFilter(
        predicate="lang = 'en'", boost=1.0
    )
    assert parse_query(
        {"term": {"lang": {"value": "en", "boost": 2.5}}}
    ) == ConstFilter(predicate="lang = 'en'", boost=2.5)
    assert parse_query(
        {"terms": {"lang": ["en", "fr"], "boost": 0.5}}
    ) == ConstFilter(predicate="lang IN ('en', 'fr')", boost=0.5)
    n = parse_query({"range": {"doclen": {"gte": 10, "boost": 3.0}}})
    assert n == ConstFilter(predicate="(doclen >= 10)", boost=3.0)
    assert parse_query({"exists": {"field": "lang"}}) == ConstFilter(
        predicate="lang IS NOT NULL", boost=1.0
    )
    assert parse_query(
        {"ids": {"values": [7, 3], "boost": 2.0}}
    ) == ConstFilter(predicate="doc_id IN (3, 7)", boost=2.0)

    # execution parity: query-context term == constant_score(term)
    from sparkfts.booltree import bool_topk_batch

    def run(body):
        return [
            tuple(r)[1:]
            for r in bool_topk_batch(
                spark, dsl_index,
                [parse_request({"query": body, "size": 20})],
            ).collect()
        ]

    direct = run({"bool": {
        "must": [{"match": {"text": "the"}}],
        "should": [{"term": {"lang": {"value": "en", "boost": 1.5}}}],
    }})
    via_cs = run({"bool": {
        "must": [{"match": {"text": "the"}}],
        "should": [{"constant_score": {
            "filter": {"term": {"lang": "en"}}, "boost": 1.5}}],
    }})
    assert direct == via_cs and direct

    # guards: malformed bodies still fail loud
    with pytest.raises(EsDslError, match="non-empty list"):
        parse_query({"terms": {"lang": []}})
    with pytest.raises(EsDslError, match="object body"):
        parse_query({"term": "lang"})
