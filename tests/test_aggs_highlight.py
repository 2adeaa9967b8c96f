"""ES terms aggregation (facets over the full match set) + highlighting."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from oracle.bm25 import BM25Oracle
from sparkfts.aggs import match_docs_batch, terms_facet
from sparkfts.analysis import tokenize, tokenize_query
from sparkfts.highlight import highlight


@pytest.fixture(scope="module")
def agg_index(spark, pages_df, tmp_path_factory):
    from sparkfts.index import build_index

    d = str(tmp_path_factory.mktemp("agg_idx"))
    build_index(pages_df, d, n_shards=4, n_tbuckets=8)
    return d


@pytest.fixture(scope="module")
def py_oracle(corpus):
    import pandas as pd

    from sparkfts.tokens import sha1_doc_id

    ids = sha1_doc_id(pd.Series(corpus.column("url").to_pylist()))
    return BM25Oracle(zip(ids.tolist(), corpus.column("text").to_pylist()))


@pytest.mark.parametrize("mode", ["and", "or"])
def test_match_docs_full_set(spark, agg_index, py_oracle, queries, mode):
    batch = [(q["query_id"], q["query"]) for q in queries[:6]]
    got = match_docs_batch(spark, agg_index, batch, mode=mode)
    by_qid: dict[int, set] = {}
    for r in got.collect():
        by_qid.setdefault(r["query_id"], set()).add(r["doc_id"])
    for qid, text in batch:
        exp = {d for d, _ in py_oracle.search(text, k=py_oracle.n_docs,
                                              mode=mode)}
        assert by_qid.get(qid, set()) == exp, f"q{qid} mode={mode}"


def test_match_kernel_reads_only_doc_ids(spark, agg_index, queries):
    got = match_docs_batch(spark, agg_index, [(0, queries[0]["query"])])
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "doc_ids" in plan
    # column pruning must drop the unused posting payloads from the scan
    assert "doclens" not in plan, plan


def test_terms_facet_counts(spark, agg_index, pages_df, py_oracle, queries):
    q = queries[0]["query"]
    from sparkfts.tokens import prepare_pages

    dv = prepare_pages(pages_df).select("doc_id", "url").join(
        pages_df.select("url", "lang"), "url"
    )
    got = terms_facet(spark, agg_index, q, dv, "lang", mode="or").collect()
    # python expectation
    import pandas as pd

    from sparkfts.tokens import sha1_doc_id

    urls = pages_df.select("url", "lang").collect()
    lang_of = {
        int(sha1_doc_id(pd.Series([r["url"]]))[0]): r["lang"] for r in urls
    }
    matched = {d for d, _ in py_oracle.search(q, k=py_oracle.n_docs, mode="or")}
    exp: dict[str, int] = {}
    for d in matched:
        exp[lang_of[d]] = exp.get(lang_of[d], 0) + 1
    exp_rows = sorted(exp.items(), key=lambda e: (-e[1], e[0]))[:10]
    assert [(r["value"], r["doc_count"]) for r in got] == exp_rows


def test_highlight_fragment_and_spans(spark):
    docs = spark.createDataFrame(
        [
            (1, "The Quick brown fox jumps over the quick dog"),
            (2, "nothing relevant here at all"),
            (3, "x " * 50 + "quick win " + "y " * 50),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in highlight(docs, "quick").collect()}
    # doc 1: first hit is token 1 ('quick'), two hits, casing preserved
    assert got[1]["first_tok_pos"] == 1
    assert got[1]["n_hit_tokens"] == 2
    assert "<em>Quick</em>" in got[1]["fragment"]
    # doc 2: no hits -> null spans
    assert got[2]["first_tok_pos"] is None and got[2]["fragment"] is None
    # doc 3: deep-in-text hit gets ellipses on both sides
    frag = got[3]["fragment"]
    assert frag.startswith("...") and frag.endswith("...")
    assert "<em>quick</em>" in frag
    assert len(frag) < 120


def test_highlight_first_pos_matches_tokenizer(spark, corpus, queries):
    docs = spark.createDataFrame(corpus.to_pandas()).limit(40)
    docs = docs.select(
        F.monotonically_increasing_id().alias("doc_id"), "text"
    )
    q = queries[0]["query"]
    terms = set(tokenize_query(q))
    got = highlight(docs, q).collect()
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    for r in got:
        toks = tokenize(texts[r["doc_id"]])
        hits = [i for i, t in enumerate(toks) if t in terms]
        if hits:
            assert r["first_tok_pos"] == hits[0]
            assert r["n_hit_tokens"] == len(hits)
        else:
            assert r["first_tok_pos"] is None


def test_terms_facet_from_index_docvalues(spark, pages_df, tmp_path, queries):
    """A facet field stored as a doc value at build time needs no side
    table at query time, and matches the explicit-table facet."""
    from sparkfts.aggs import terms_facet_from_index
    from sparkfts.index import build_index, load_docmap, read_meta

    d = str(tmp_path / "dv_idx")
    build_index(pages_df, d, n_shards=4, n_tbuckets=8, docvalue_cols=["lang"])
    assert read_meta(d)["docvalue_cols"] == ["lang"]
    assert "lang" in load_docmap(spark, d).columns

    q = queries[0]["query"]
    got = terms_facet_from_index(spark, d, q, "lang", mode="or").collect()
    dv = load_docmap(spark, d).select("doc_id", "lang")
    exp = terms_facet(spark, d, q, dv, "lang", mode="or").collect()
    assert [(r["value"], r["doc_count"]) for r in got] == [
        (r["value"], r["doc_count"]) for r in exp
    ]
    assert got, "facet unexpectedly empty"

    import pytest as _pytest

    with _pytest.raises(ValueError, match="doc value"):
        terms_facet_from_index(spark, d, q, "warc_ts")


def test_facet_approx_equals_exact_when_untruncated(spark, corpus, tmp_path):
    """shard_size >= distinct values -> zero error bound, exact counts."""
    from sparkfts.aggs import terms_facet, terms_facet_approx
    from sparkfts.index import build_index

    idx = str(tmp_path / "facet_apx_idx")
    pdf = corpus.to_pandas()
    pages = spark.createDataFrame(pdf)
    build_index(pages, idx, n_shards=4, n_tbuckets=8)
    from sparkfts.tokens import sha1_doc_id
    import pandas as pd

    dv = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": sha1_doc_id(pdf["url"]),
                "lang": pdf["lang"],
            }
        )
    )
    from sparkfts.analysis import tokenize

    q = tokenize(pdf.iloc[0]["text"])[0]
    exact = terms_facet(spark, idx, q, dv, "lang", mode="or", size=10).collect()
    apx = terms_facet_approx(
        spark, idx, q, dv, "lang", mode="or", size=10, shard_size=1000
    ).collect()
    assert [(r["value"], r["doc_count"]) for r in apx] == [
        (r["value"], r["doc_count"]) for r in exact
    ]
    assert all(r["doc_count_error_upper_bound"] == 0 for r in apx)
    assert exact  # fixture sanity


def test_facet_approx_truncation_bounds(spark, corpus, tmp_path):
    """Truncated shards: counts are lower bounds within the reported
    error bound of the exact counts; top value survives."""
    from sparkfts.aggs import terms_facet, terms_facet_approx
    from sparkfts.index import build_index

    idx = str(tmp_path / "facet_apx2_idx")
    pdf = corpus.to_pandas()
    pages = spark.createDataFrame(pdf)
    build_index(pages, idx, n_shards=4, n_tbuckets=8)
    from sparkfts.tokens import sha1_doc_id
    import pandas as pd

    # high-cardinality synthetic value: doc_id mod 23 as a string
    ids = sha1_doc_id(pdf["url"])
    dv = spark.createDataFrame(
        pd.DataFrame({"doc_id": ids, "grp": (ids % 23).astype(str)})
    )
    from sparkfts.analysis import tokenize
    from collections import Counter

    c = Counter()
    for t in pdf["text"]:
        c.update(set(tokenize(t)))
    q = c.most_common(1)[0][0]
    exact = {
        r["value"]: r["doc_count"]
        for r in terms_facet(
            spark, idx, q, dv, "grp", mode="or", size=23
        ).collect()
    }
    apx = terms_facet_approx(
        spark, idx, q, dv, "grp", mode="or", size=5, shard_size=5
    ).collect()
    assert apx
    for r in apx:
        ex = exact[r["value"]]
        assert r["doc_count"] <= ex
        assert ex <= r["doc_count"] + r["doc_count_error_upper_bound"]


def test_stats_and_histogram_aggs(spark, corpus, tmp_path):
    """ES stats / histogram aggregations vs pandas ground truth over the
    exact match set."""
    from sparkfts.aggs import histogram_facet, match_docs_batch, stats_agg
    from sparkfts.index import build_index
    from sparkfts.tokens import sha1_doc_id
    import pandas as pd

    idx = str(tmp_path / "stats_idx")
    pdf = corpus.to_pandas()
    build_index(spark.createDataFrame(pdf), idx, n_shards=4, n_tbuckets=8)
    from sparkfts.analysis import tokenize

    q = tokenize(pdf.iloc[0]["text"])[0]
    dvpdf = pd.DataFrame(
        {"doc_id": sha1_doc_id(pdf["url"]),
         "nchars": pdf["text"].str.len().astype("int64")}
    )
    dv = spark.createDataFrame(dvpdf)
    matched = {
        r["doc_id"]
        for r in match_docs_batch(spark, idx, [(0, q)], "or").collect()
    }
    sub = dvpdf[dvpdf["doc_id"].isin(matched)]
    row = stats_agg(spark, idx, q, dv, "nchars", mode="or").collect()[0]
    assert row["count"] == len(sub)
    assert row["min"] == float(sub["nchars"].min())
    assert row["max"] == float(sub["nchars"].max())
    assert row["sum"] == float(sub["nchars"].sum())
    assert row["avg"] == pytest.approx(sub["nchars"].mean(), rel=1e-12)

    hist = histogram_facet(
        spark, idx, q, dv, "nchars", interval=100.0, mode="or"
    ).collect()
    import math

    exp = (
        sub["nchars"].map(lambda v: math.floor(v / 100.0) * 100.0)
        .value_counts()
        .sort_index()
    )
    assert [(r["bucket"], r["doc_count"]) for r in hist] == [
        (b, int(c)) for b, c in exp.items()
    ]
    assert hist  # fixture sanity


def test_histogram_rejects_bad_interval(spark, corpus, tmp_path):
    from sparkfts.aggs import histogram_facet

    with pytest.raises(ValueError):
        histogram_facet(spark, "/nonexistent", "q", None, "f", interval=0)


def test_cardinality_and_percentiles(spark, corpus, tmp_path):
    from sparkfts.aggs import (
        cardinality_agg,
        match_docs_batch,
        percentiles_agg,
    )
    from sparkfts.index import build_index
    from sparkfts.tokens import sha1_doc_id
    import numpy as np
    import pandas as pd

    idx = str(tmp_path / "card_idx")
    pdf = corpus.to_pandas()
    build_index(spark.createDataFrame(pdf), idx, n_shards=4, n_tbuckets=8)
    from sparkfts.analysis import tokenize

    q = tokenize(pdf.iloc[0]["text"])[0]
    dvpdf = pd.DataFrame(
        {"doc_id": sha1_doc_id(pdf["url"]), "lang": pdf["lang"],
         "nchars": pdf["text"].str.len().astype("int64")}
    )
    dv = spark.createDataFrame(dvpdf)
    matched = {
        r["doc_id"]
        for r in match_docs_batch(spark, idx, [(0, q)], "or").collect()
    }
    sub = dvpdf[dvpdf["doc_id"].isin(matched)]
    card = cardinality_agg(
        spark, idx, q, dv.select("doc_id", "lang"), "lang", mode="or"
    ).collect()[0]["cardinality"]
    assert card == sub["lang"].nunique() > 0

    pr = percentiles_agg(
        spark, idx, q, dv.select("doc_id", "nchars"), "nchars",
        percentiles=[50.0, 90.0], mode="or",
    ).collect()
    exp = np.percentile(
        sub["nchars"].to_numpy(dtype=float), [50, 90], method="linear"
    )
    assert [r["pct"] for r in pr] == [50.0, 90.0]
    for r, e in zip(pr, exp):
        assert r["value"] == pytest.approx(e, rel=1e-12)


def test_significant_terms_jlh(spark, corpus, tmp_path):
    """significant_terms: JLH scores vs pure-Python ground truth."""
    import math
    from collections import Counter

    from sparkfts.aggs import match_docs_batch, significant_terms
    from sparkfts.analysis import tokenize
    from sparkfts.index import build_index
    from sparkfts.tokens import sha1_doc_id
    import pandas as pd

    idx = str(tmp_path / "sig_idx")
    pdf = corpus.to_pandas()
    build_index(spark.createDataFrame(pdf), idx, n_shards=4, n_tbuckets=8)
    q = tokenize(pdf.iloc[0]["text"])[0]
    got = significant_terms(spark, idx, q, mode="or", size=10,
                            min_doc_count=2).collect()
    assert got
    matched = {
        r["doc_id"]
        for r in match_docs_batch(spark, idx, [(0, q)], "or").collect()
    }
    ids = sha1_doc_id(pdf["url"]).tolist()
    toks = [set(tokenize(t)) for t in pdf["text"]]
    n_docs, n_m = len(pdf), len(matched)
    fg, bg = Counter(), Counter()
    for d, tk in zip(ids, toks):
        bg.update(tk)
        if int(d) in matched:
            fg.update(tk)
    exp = []
    for t, c in fg.items():
        if c >= 2:
            fgr, bgr = c / n_m, bg[t] / n_docs
            s = (fgr - bgr) * (fgr / bgr)
            if s > 0:
                exp.append((t, s))
    exp.sort(key=lambda x: (-x[1], x[0]))
    assert [(r["term"]) for r in got] == [t for t, _ in exp[:10]]
    for r, (_, s) in zip(got, exp):
        assert r["score_jlh"] == pytest.approx(s, rel=1e-12)
    # the query's own terms dominate (sanity: they are 100% foreground)
    assert got[0]["term"] == q or q in {r["term"] for r in got}


def test_more_like_this_excludes_source(spark, corpus, tmp_path):
    from sparkfts.index import build_index
    from sparkfts.mlt import mlt_query_terms, more_like_this
    from sparkfts.tokens import sha1_doc_id, prepare_pages

    idx = str(tmp_path / "mlt_idx")
    pdf = corpus.to_pandas()
    build_index(spark.createDataFrame(pdf), idx, n_shards=4, n_tbuckets=8)
    pages = prepare_pages(spark.createDataFrame(pdf))
    src = int(sha1_doc_id(pdf["url"])[0])
    terms = mlt_query_terms(spark, idx, pages, src, max_query_terms=5)
    assert 0 < len(terms) <= 5
    from sparkfts.analysis import tokenize

    assert set(terms) <= set(tokenize(pdf.iloc[0]["text"]))
    res = more_like_this(spark, idx, pages, src, k=10,
                         max_query_terms=5).collect()
    assert res and src not in {r["doc_id"] for r in res}
    assert [r["rank"] for r in res] == list(range(1, len(res) + 1))


def test_terms_stats_nested_sub_agg(spark, corpus, tmp_path):
    """terms bucket + nested stats per bucket vs pandas ground truth;
    ES ordering (count desc, key asc) and bucket truncation."""
    import pandas as pd

    from sparkfts.aggs import match_docs_batch, terms_stats_nested
    from sparkfts.analysis import tokenize
    from sparkfts.index import build_index
    from sparkfts.tokens import sha1_doc_id

    idx = str(tmp_path / "nested_idx")
    pdf = corpus.to_pandas()
    build_index(spark.createDataFrame(pdf), idx, n_shards=4, n_tbuckets=8)
    q = tokenize(pdf.iloc[0]["text"])[0]
    dvpdf = pd.DataFrame(
        {
            "doc_id": sha1_doc_id(pdf["url"]),
            "lang": pdf["lang"],
            "nchars": pdf["text"].str.len().astype("int64"),
        }
    )
    dv = spark.createDataFrame(dvpdf)
    matched = {
        r["doc_id"]
        for r in match_docs_batch(spark, idx, [(0, q)], "or").collect()
    }
    sub = dvpdf[dvpdf["doc_id"].isin(matched)]
    exp = (
        sub.groupby("lang")["nchars"]
        .agg(["count", "min", "max", "sum", "mean"])
        .reset_index()
        .sort_values(["count", "lang"], ascending=[False, True])
    )
    got = terms_stats_nested(
        spark, idx, q, dv, "lang", "nchars", mode="or", size=2
    ).collect()
    assert len(got) == min(2, len(exp))  # size truncates buckets
    for r, (_, e) in zip(got, exp.iterrows()):
        assert r["value"] == e["lang"]
        assert r["doc_count"] == int(e["count"])
        assert r["min"] == float(e["min"])
        assert r["max"] == float(e["max"])
        assert r["sum"] == float(e["sum"])
        assert r["avg"] == pytest.approx(float(e["mean"]), rel=1e-12)


def test_date_histogram_calendar_buckets(spark, corpus, tmp_path):
    """date_histogram: UTC calendar truncation (month + week), empty
    buckets omitted, bad interval rejected."""
    import pandas as pd

    from sparkfts.aggs import date_histogram, match_docs_batch
    from sparkfts.analysis import tokenize
    from sparkfts.index import build_index
    from sparkfts.tokens import sha1_doc_id

    idx = str(tmp_path / "dh_idx")
    pdf = corpus.to_pandas()
    build_index(spark.createDataFrame(pdf), idx, n_shards=4, n_tbuckets=8)
    q = tokenize(pdf.iloc[0]["text"])[0]
    ids = sha1_doc_id(pdf["url"])
    ts = pd.Timestamp("2024-01-01") + pd.to_timedelta(
        (ids % 97).astype("int64"), unit="D"
    )
    dvpdf = pd.DataFrame({"doc_id": ids, "ts": ts})
    dv = spark.createDataFrame(dvpdf)
    matched = {
        r["doc_id"]
        for r in match_docs_batch(spark, idx, [(0, q)], "or").collect()
    }
    sub = dvpdf[dvpdf["doc_id"].isin(matched)]
    for interval, trunc in [("month", "MS"), ("week", "W-MON")]:
        got = date_histogram(
            spark, idx, q, dv, "ts", calendar_interval=interval, mode="or"
        ).collect()
        if interval == "month":
            exp = sub["ts"].dt.to_period("M").dt.start_time
        else:
            # ISO weeks start Monday (ES + Spark + DuckDB agree)
            exp = sub["ts"] - pd.to_timedelta(
                sub["ts"].dt.weekday, unit="D"
            )
        counts = exp.value_counts().sort_index()
        assert [(r["bucket"], r["doc_count"]) for r in got] == [
            (b.to_pydatetime(), int(c)) for b, c in counts.items()
        ]
        assert all(r["doc_count"] >= 1 for r in got)  # min_doc_count=1
    with pytest.raises(ValueError):
        date_histogram(spark, idx, q, dv, "ts", calendar_interval="fortnight")


def test_significant_terms_sampled(spark, corpus, tmp_path):
    """sampler-bounded significant_terms: sample >= match set ==
    exact; small samples are deterministic, bounded, and keep
    df_fg <= exact df_fg per term."""
    from sparkfts.aggs import match_docs_batch, significant_terms
    from sparkfts.analysis import tokenize
    from sparkfts.index import build_index

    idx = str(tmp_path / "sigsamp_idx")
    pdf = corpus.to_pandas()
    build_index(spark.createDataFrame(pdf), idx, n_shards=4, n_tbuckets=8)
    from collections import Counter

    df_counts = Counter(
        t for text in pdf["text"] for t in set(tokenize(text))
    )
    q = df_counts.most_common(1)[0][0]  # head term -> big match set
    n_matched = match_docs_batch(spark, idx, [(0, q)], "or").count()
    assert n_matched > 12, "test premise"

    exact = significant_terms(
        spark, idx, q, mode="or", size=10, min_doc_count=2
    ).collect()
    big = significant_terms(
        spark, idx, q, mode="or", size=10, min_doc_count=2,
        sample_size=n_matched * 2,
    ).collect()
    assert [tuple(r) for r in big] == [tuple(r) for r in exact]

    small_a = significant_terms(
        spark, idx, q, mode="or", size=10, min_doc_count=2, sample_size=8
    ).collect()
    small_b = significant_terms(
        spark, idx, q, mode="or", size=10, min_doc_count=2, sample_size=8
    ).collect()
    assert [tuple(r) for r in small_a] == [tuple(r) for r in small_b]
    exact_fg = {r["term"]: r["df_fg"] for r in exact}
    for r in small_a:
        # sampled foreground counts never exceed the exhaustive ones
        assert r["df_fg"] <= exact_fg.get(r["term"], n_matched)
        assert r["df_fg"] >= 2  # min_doc_count respected


def test_percentiles_approx_rank_bound(spark, corpus, tmp_path):
    """r5: the approximate variant's rank error stays within the GK
    n/accuracy contract vs the exact variant (the terms_facet_approx
    evidence pattern — no cross-engine oracle by construction)."""
    import pandas as pd

    from sparkfts.aggs import (
        match_docs_batch,
        percentiles_agg,
        percentiles_approx_agg,
    )
    from sparkfts.analysis import tokenize
    from sparkfts.index import build_index
    from sparkfts.tokens import sha1_doc_id

    idx = str(tmp_path / "papx_idx")
    pdf = corpus.to_pandas()
    build_index(spark.createDataFrame(pdf), idx, n_shards=4, n_tbuckets=8)
    q = "the"  # ubiquitous: a big match set exercises the sketch
    dvpdf = pd.DataFrame(
        {"doc_id": sha1_doc_id(pdf["url"]),
         "nchars": pdf["text"].str.len().astype("int64")}
    )
    dv = spark.createDataFrame(dvpdf)
    pcts = [25.0, 50.0, 75.0, 95.0]
    exact = {r["pct"]: r["value"]
             for r in percentiles_agg(spark, idx, q, dv, "nchars",
                                      pcts, mode="or").collect()}
    approx = {r["pct"]: r["value"]
              for r in percentiles_approx_agg(spark, idx, q, dv, "nchars",
                                              pcts, mode="or",
                                              accuracy=10_000).collect()}
    assert set(approx) == set(pcts)
    matched = {
        r["doc_id"]
        for r in match_docs_batch(spark, idx, [(0, q)], "or").collect()
    }
    vals = sorted(dvpdf[dvpdf["doc_id"].isin(matched)]["nchars"])
    n = len(vals)
    assert n > 20, "fixture too sparse"
    import bisect

    for p in pcts:
        # GK bound: |rank(approx) - p/100 * n| <= n/accuracy (+1 for
        # the discrete grid)
        r_lo = bisect.bisect_left(vals, approx[p])
        r_hi = bisect.bisect_right(vals, approx[p])
        target = p / 100.0 * n
        slack = n / 10_000 + 1
        assert r_lo - slack <= target <= r_hi + slack, (
            p, approx[p], exact[p], r_lo, r_hi, target,
        )
        # approx value is an ACTUAL dataset value (sketch property)
        assert approx[p] in vals
