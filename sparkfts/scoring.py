"""Score-shaping ES queries: ``rank_feature``, ``function_score``
decay functions (gauss/exp/linear), ``boosting`` and
``constant_score``, plus the ``min_score`` post-filter.

The reference delegates all scoring to Elasticsearch through one
``client.search`` call (reference ElasticsearchHandler.py:69); these
are the next score-shaping features of that backend a relevance
engineer reaches for after plain BM25 / function_score:

- ``rank_feature`` (in ``bool.should``): adds ``boost * f(value)`` to
  the BM25 score, ``f`` one of ES's pinned monotone functions —
  ``saturation`` ``v/(v+pivot)``, ``log`` ``ln(scaling + v)``,
  ``sigmoid`` ``v^e/(v^e+pivot^e)``. Docs whose feature is missing or
  non-positive contribute 0 (ES requires strictly positive features).
- decay ``function_score`` (``gauss``/``exp``/``linear``): the
  recency/geo boost. ``d = max(0, |v - origin| - offset)``;
  gauss ``exp(-d^2/(2*sigma^2))`` with ``sigma^2 = -scale^2 /
  (2 ln decay)``; exp ``exp(ln(decay)/scale * d)``; linear
  ``max(0, (s - d)/s)`` with ``s = scale/(1 - decay)``. Docs missing
  the field get factor 1.0 (ES-pinned). ``boost_mode=multiply``.
- ``boosting``: positive query scored normally; docs also matching the
  ``negative`` query have their score multiplied by
  ``negative_boost`` — the standard "demote but don't exclude" tool.
- ``constant_score``: filter context — every matching doc scores
  exactly ``boost``; top-k ties break doc_id asc, so the page is the
  k smallest matching doc_ids.
- ``min_score``: drop hits below a score floor. With score-descending
  ranking this commutes with top-k, so it is an exact zero-cost
  post-filter on the ranked page.

Execution shape (same two-stage contract as sparkfts.docvalues):
term-pushed, tbucket-pruned postings scan; for value-dependent scores
the scan cogroups BY SHARD with the docmap's value column; the kernel
reduces to a bounded per-shard top-k; a query-partitioned global
window merges ``<= n_shards * k`` rows. Like ES itself, value-shaped
scores are computed exhaustively in-shard — ES's own cost model for
these queries. ``boosting`` and ``constant_score`` need no doc
values and stay postings-only.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparkfts.analysis import analysis_opts, tokenize_query
from sparkfts.query import _postings_reader, idf_fn
from sparkfts.session import session_cores as _session_cores


# ---------------------------------------------------------------------------
# pinned score functions

def rank_feature_fn(
    function: str, *, pivot: float = 1.0, exponent: float = 1.0,
    scaling: float = 1.0,
):
    """ES rank_feature score functions over a positive feature array."""
    if function == "saturation":
        return lambda v: v / (v + pivot)
    if function == "log":
        return lambda v: np.log(scaling + v)
    if function == "sigmoid":
        return lambda v: v ** exponent / (
            v ** exponent + pivot ** exponent
        )
    raise ValueError(f"unknown rank_feature function {function!r}")


def decay_fn(function: str, *, scale: float, decay: float = 0.5,
             offset: float = 0.0):
    """ES decay functions over ``|v - origin|`` distance arrays."""
    if not (0.0 < decay < 1.0):
        raise ValueError("decay must be in (0, 1)")
    if function == "gauss":
        sigma2 = -(scale * scale) / (2.0 * math.log(decay))

        return lambda dist: np.exp(
            -np.maximum(dist - offset, 0.0) ** 2 / (2.0 * sigma2)
        )
    if function == "exp":
        lam = math.log(decay) / scale

        return lambda dist: np.exp(lam * np.maximum(dist - offset, 0.0))
    if function == "linear":
        s = scale / (1.0 - decay)

        return lambda dist: np.maximum(
            (s - np.maximum(dist - offset, 0.0)) / s, 0.0
        )
    raise ValueError(f"unknown decay function {function!r}")


# ---------------------------------------------------------------------------
# kernels

def _score_all(pdf_postings, analyzed, mode, n_docs, avgdl, df_map,
               exclude=None):
    """Yield (qid, k, ids, scores) — the full in-shard match set per
    query (exhaustive; value-shaped ordering defeats score bounds)."""
    from sparkfts.wand import score_conjunctive, score_disjunctive

    rows_by_term, postings_of = _postings_reader(pdf_postings)
    idf_map = {t: idf_fn(n_docs, df_map.get(t, 0)) for t in rows_by_term}
    for qid, terms, k in analyzed:
        if mode == "and" and not all(t in rows_by_term for t in terms):
            continue
        tp = [postings_of(t) for t in terms]
        idfs = np.array([idf_map.get(t, 0.0) for t in terms], np.float64)
        score = score_conjunctive if mode == "and" else score_disjunctive
        ids, scores = score(tp, idfs, avgdl, n_docs, exclude=exclude)
        if ids.size:
            yield qid, k, ids, scores


def _aligned_values(pdf_vals):
    """Sorted (doc_ids, float values, valid-mask) from a shard's
    docmap rows (unique per doc within an index generation)."""
    vids = pdf_vals["doc_id"].to_numpy(np.int64)
    vvals = pd.to_numeric(pdf_vals["value"], errors="coerce").to_numpy(
        np.float64
    )
    order = np.argsort(vids, kind="stable")
    return vids[order], vvals[order]


def _lookup(vids, vvals, ids):
    """Per-id value + found-and-finite mask via searchsorted."""
    pos = np.searchsorted(vids, ids)
    pos_c = np.minimum(pos, max(vids.size - 1, 0))
    ok = (vids.size > 0) & (vids[pos_c] == ids)
    vals = np.where(ok, vvals[pos_c], np.nan)
    return vals, ok & np.isfinite(vals)


def _topk_frame(qid, ids, scores, k):
    order = np.lexsort((ids, -scores))[:k]
    return pd.DataFrame(
        {
            "query_id": np.full(order.size, qid, np.int32),
            "doc_id": ids[order],
            "score": scores[order],
        }
    )


def _make_rank_feature_kernel(analyzed, n_docs, avgdl, mode, df_map,
                              fn, boost, exclude=None):
    def kernel(pdf_postings, pdf_vals):
        out = []
        if len(pdf_postings):
            if len(pdf_vals):
                vids, vvals = _aligned_values(pdf_vals)
            else:
                vids = np.empty(0, np.int64)
                vvals = np.empty(0, np.float64)
            for qid, k, ids, scores in _score_all(
                pdf_postings, analyzed, mode, n_docs, avgdl, df_map,
                exclude,
            ):
                vals, ok = _lookup(vids, vvals, ids)
                ok &= vals > 0.0  # ES: features are strictly positive
                contrib = np.zeros(ids.size, np.float64)
                if ok.any():
                    contrib[ok] = boost * fn(vals[ok])
                out.append(_topk_frame(qid, ids, scores + contrib, k))
        return (
            pd.concat(out, ignore_index=True)
            if out
            else pd.DataFrame(
                {
                    "query_id": pd.Series([], dtype="int32"),
                    "doc_id": pd.Series([], dtype="int64"),
                    "score": pd.Series([], dtype="float64"),
                }
            )
        )

    return kernel


def _make_decay_kernel(analyzed, n_docs, avgdl, mode, df_map, fn,
                       origin, exclude=None):
    def kernel(pdf_postings, pdf_vals):
        out = []
        if len(pdf_postings):
            if len(pdf_vals):
                vids, vvals = _aligned_values(pdf_vals)
            else:
                vids = np.empty(0, np.int64)
                vvals = np.empty(0, np.float64)
            for qid, k, ids, scores in _score_all(
                pdf_postings, analyzed, mode, n_docs, avgdl, df_map,
                exclude,
            ):
                vals, ok = _lookup(vids, vvals, ids)
                factor = np.ones(ids.size, np.float64)  # missing -> 1.0
                if ok.any():
                    factor[ok] = fn(np.abs(vals[ok] - origin))
                out.append(_topk_frame(qid, ids, scores * factor, k))
        return (
            pd.concat(out, ignore_index=True)
            if out
            else pd.DataFrame(
                {
                    "query_id": pd.Series([], dtype="int32"),
                    "doc_id": pd.Series([], dtype="int64"),
                    "score": pd.Series([], dtype="float64"),
                }
            )
        )

    return kernel


# ---------------------------------------------------------------------------
# shared plumbing

def _analyze(queries, meta):
    sw, stem = analysis_opts(meta)
    analyzed = [
        (qid, sorted(set(tokenize_query(text, sw, stem))), k)
        for qid, text, k in queries
    ]
    return [(qid, t, k) for qid, t, k in analyzed if t]


def _pruned_postings(spark, index_dir, all_terms, meta):
    from sparkfts.index import in_list, load_postings, term_bucket

    buckets = sorted(
        {term_bucket(t, meta["n_tbuckets"]) for t in all_terms}
    )
    return (
        load_postings(spark, index_dir)
        .where(in_list("tbucket", buckets) & in_list("term", all_terms))
        .coalesce(_session_cores(spark))
    )


def _value_shaped_run(
    spark, index_dir, queries, field, mode, kernel_factory,
):
    """Postings ⨝(cogroup by shard) docmap value column → kernel →
    query-partitioned global top-k window (same contract as
    sparkfts.docvalues)."""
    from sparkfts.deletes import load_tombstones
    from sparkfts.index import df_map_for, load_docmap, read_meta

    meta = read_meta(index_dir)
    analyzed = _analyze(queries, meta)
    out_schema = "query_id int, rank int, doc_id long, score double"
    if not analyzed or meta["n_docs"] == 0:
        return spark.createDataFrame([], out_schema)
    all_terms = sorted({t for _, terms, _ in analyzed for t in terms})
    postings = _pruned_postings(spark, index_dir, all_terms, meta)
    kernel = kernel_factory(
        analyzed,
        meta["n_docs"],
        meta["avgdl"],
        mode,
        df_map_for(spark, index_dir, all_terms),
        exclude=load_tombstones(spark, index_dir),
    )
    vals = (
        load_docmap(spark, index_dir)
        .select("shard", "doc_id", F.col(field).alias("value"))
        .coalesce(_session_cores(spark))
    )
    local = (
        postings.groupby("shard")
        .cogroup(vals.groupby("shard"))
        .applyInPandas(
            lambda lp, rp: kernel(lp, rp),
            "query_id int, doc_id long, score double",
        )
        .repartition(_session_cores(spark), "query_id")
    )
    from sparkfts.index import lit_map

    km = lit_map([(qid, k) for qid, _t, k in analyzed])
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        local.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= F.element_at(km, F.col("query_id")))
        .select("query_id", F.col("rank").cast("int"), "doc_id", "score")
        .coalesce(1)
        .sortWithinPartitions("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# public API

def rank_feature_batch(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str, int]],
    field: str,
    function: str = "saturation",
    *,
    pivot: float = 1.0,
    exponent: float = 1.0,
    scaling: float = 1.0,
    boost: float = 1.0,
    mode: str = "and",
) -> DataFrame:
    """ES ``bool.should: [{match}, {rank_feature}]``: BM25 + boost *
    f(feature). Returns ``(query_id, rank, doc_id, score)``."""
    fn = rank_feature_fn(
        function, pivot=pivot, exponent=exponent, scaling=scaling
    )

    def factory(analyzed, n_docs, avgdl, mode_, df_map, exclude=None):
        return _make_rank_feature_kernel(
            analyzed, n_docs, avgdl, mode_, df_map, fn, boost, exclude
        )

    return _value_shaped_run(
        spark, index_dir, queries, field, mode, factory
    )


def decay_score_batch(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str, int]],
    field: str,
    function: str = "gauss",
    *,
    origin: float,
    scale: float,
    offset: float = 0.0,
    decay: float = 0.5,
    mode: str = "and",
) -> DataFrame:
    """ES ``function_score`` decay (boost_mode multiply): BM25 *
    gauss/exp/linear(|v - origin|). Missing field -> factor 1.0
    (ES-pinned). Returns ``(query_id, rank, doc_id, score)``."""
    fn = decay_fn(function, scale=scale, decay=decay, offset=offset)

    def factory(analyzed, n_docs, avgdl, mode_, df_map, exclude=None):
        return _make_decay_kernel(
            analyzed, n_docs, avgdl, mode_, df_map, fn, origin, exclude
        )

    return _value_shaped_run(
        spark, index_dir, queries, field, mode, factory
    )


def boosting_batch(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str, str, int]],
    negative_boost: float = 0.5,
    mode: str = "and",
    negative_mode: str = "or",
) -> DataFrame:
    """ES ``boosting`` query: ``(query_id, positive, negative, k)`` →
    BM25(positive), multiplied by ``negative_boost`` for docs that also
    match the negative query. Postings-only: positive and negative
    terms ride ONE pruned scan; the kernel intersects in-shard (a doc's
    postings live in one shard, so the negative match set is complete
    per shard). Returns ``(query_id, rank, doc_id, score)``."""
    from sparkfts.deletes import load_tombstones
    from sparkfts.index import df_map_for, lit_map, read_meta

    meta = read_meta(index_dir)
    sw, stem = analysis_opts(meta)
    analyzed = []
    for qid, pos, neg, k in queries:
        pt = sorted(set(tokenize_query(pos, sw, stem)))
        nt = sorted(set(tokenize_query(neg, sw, stem)))
        if pt:
            analyzed.append((qid, pt, nt, k))
    out_schema = "query_id int, rank int, doc_id long, score double"
    if not analyzed or meta["n_docs"] == 0:
        return spark.createDataFrame([], out_schema)
    all_terms = sorted(
        {t for _, pt, nt, _ in analyzed for t in pt + nt}
    )
    postings = _pruned_postings(spark, index_dir, all_terms, meta)
    df_map = df_map_for(spark, index_dir, all_terms)
    tomb = load_tombstones(spark, index_dir)
    n_docs, avgdl = meta["n_docs"], meta["avgdl"]

    def kernel(pdf_postings: pd.DataFrame):
        from sparkfts.wand import score_conjunctive, score_disjunctive

        out = []
        if len(pdf_postings):
            rows_by_term, postings_of = _postings_reader(pdf_postings)
            idf_map = {
                t: idf_fn(n_docs, df_map.get(t, 0)) for t in rows_by_term
            }
            for qid, pt, nt, k in analyzed:
                if mode == "and" and not all(
                    t in rows_by_term for t in pt
                ):
                    continue
                tp = [postings_of(t) for t in pt]
                idfs = np.array(
                    [idf_map.get(t, 0.0) for t in pt], np.float64
                )
                score = (
                    score_conjunctive if mode == "and"
                    else score_disjunctive
                )
                ids, scores = score(
                    tp, idfs, avgdl, n_docs, exclude=tomb
                )
                if not ids.size:
                    continue
                nts = [t for t in nt if t in rows_by_term]
                neg_ids = np.empty(0, np.int64)
                if nts and (
                    negative_mode == "or" or len(nts) == len(nt)
                ):
                    nscore = (
                        score_conjunctive
                        if negative_mode == "and"
                        else score_disjunctive
                    )
                    neg_ids = nscore(
                        [postings_of(t) for t in nts],
                        np.ones(len(nts)), avgdl, n_docs,
                    )[0]
                if neg_ids.size:
                    hit = np.isin(ids, neg_ids)
                    scores = np.where(
                        hit, scores * negative_boost, scores
                    )
                out.append(_topk_frame(qid, ids, scores, k))
        return (
            pd.concat(out, ignore_index=True)
            if out
            else pd.DataFrame(
                {
                    "query_id": pd.Series([], dtype="int32"),
                    "doc_id": pd.Series([], dtype="int64"),
                    "score": pd.Series([], dtype="float64"),
                }
            )
        )

    local = (
        postings.groupby("shard")
        .applyInPandas(
            lambda pdf: kernel(pdf),
            "query_id int, doc_id long, score double",
        )
        .repartition(_session_cores(spark), "query_id")
    )
    km = lit_map([(qid, k) for qid, _p, _n, k in analyzed])
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        local.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= F.element_at(km, F.col("query_id")))
        .select("query_id", F.col("rank").cast("int"), "doc_id", "score")
        .coalesce(1)
        .sortWithinPartitions("query_id", "rank")
    )


def constant_score_batch(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str, int]],
    boost: float = 1.0,
    mode: str = "and",
) -> DataFrame:
    """ES ``constant_score``: every matching doc scores ``boost``;
    ties doc_id asc, so page = the k smallest matching doc_ids. The
    kernel truncates per shard (k smallest ids), the global window
    merges ``<= n_shards * k`` rows. Returns
    ``(query_id, rank, doc_id, score)``."""
    from sparkfts.aggs import _make_match_kernel
    from sparkfts.deletes import load_tombstones
    from sparkfts.index import lit_map, read_meta

    meta = read_meta(index_dir)
    sw, stem = analysis_opts(meta)
    analyzed = [
        (qid, tokenize_query(text, sw, stem)) for qid, text, _k in queries
    ]
    analyzed = [(qid, t) for qid, t in analyzed if t]
    out_schema = "query_id int, rank int, doc_id long, score double"
    if not analyzed or meta["n_docs"] == 0:
        return spark.createDataFrame([], out_schema)
    all_terms = sorted({t for _, terms in analyzed for t in terms})
    postings = _pruned_postings(
        spark, index_dir, all_terms, meta
    ).select("term", "shard", "doc_ids")
    match_kernel = _make_match_kernel(
        analyzed, mode, exclude=load_tombstones(spark, index_dir)
    )
    kmap = {qid: k for qid, _t, k in queries}

    def kernel(pdf: pd.DataFrame):
        m = match_kernel(pdf)
        if m is None or not len(m):
            return pd.DataFrame(
                {
                    "query_id": pd.Series([], dtype="int32"),
                    "doc_id": pd.Series([], dtype="int64"),
                }
            )
        # k smallest doc_ids per query within the shard
        m = m.sort_values(["query_id", "doc_id"], kind="stable")
        m = m.groupby("query_id", sort=False).head(
            max(kmap.values())
        )
        return m

    local = (
        postings.groupby("shard")
        .applyInPandas(
            lambda pdf: kernel(pdf), "query_id int, doc_id long"
        )
        .repartition(_session_cores(spark), "query_id")
    )
    km = lit_map(list(kmap.items()))
    w = Window.partitionBy("query_id").orderBy(F.asc("doc_id"))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= F.element_at(km, F.col("query_id")))
        .select(
            "query_id",
            F.col("rank").cast("int"),
            "doc_id",
            F.lit(float(boost)).alias("score"),
        )
        .coalesce(1)
        .sortWithinPartitions("query_id", "rank")
    )


def min_score_filter(ranked: DataFrame, min_score: float) -> DataFrame:
    """ES ``min_score``: drop hits under the floor. Exact when applied
    to a score-descending ranked page (the filter commutes with
    top-k)."""
    return ranked.where(F.col("score") >= float(min_score))
