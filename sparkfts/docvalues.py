"""Doc-value-ordered retrieval: ES ``sort``, ``function_score``,
``collapse`` and ``top_hits`` over the inverted index.

The reference delegates every search to one ES call (reference
ElasticsearchHandler.py:69); these are the doc-value query features of
that backend a real user hits right after plain relevance ranking:

- ``sort``: results ordered by a stored field instead of ``_score``
  (ES ``"sort": [{"field": "desc"}]``).
- ``function_score`` + ``field_value_factor``: relevance multiplied by
  a per-doc signal (recency, popularity, length).
- ``collapse``: one best hit per key (host, canonical url, ...).
- ``terms`` agg + ``top_hits``: per-bucket best documents.

Execution model (the same two-stage shape as every scorer here):
pruned postings scan cogrouped BY SHARD with the docmap's value column
(the docmap is written partitioned by shard, so each kernel receives
exactly its shard's values); the kernel scores/matches in-shard and
reduces to a BOUNDED candidate set; a partitioned global window merges
``<= n_shards * bound`` rows. A doc's final ordering depends on a doc
value the postings know nothing about, so the kernel keeps the full
in-shard match set (the same reason ES evaluates function_score/sort
queries exhaustively per shard). The per-shard cost is therefore the full in-shard match set —
ES's own cost model for these queries — but the cross-shard transfer
stays bounded:

- sort / function_score: per-shard top-k by the final ordering.
- collapse: per-shard best-per-key, then top-k keys — exact, because
  the global best doc of any surviving key is also its shard's best
  (max over a subset) and outranks that shard's k-th collapsed hit.
- top_hits: per-shard per-key top-N + per-key counts; global merge
  re-reduces. Transfer bounded by keys-in-shard * N.

Ties pinned everywhere: score desc → doc_id asc; sort values asc/desc
→ doc_id asc; bucket counts desc → key asc (ES facet order).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparkfts.analysis import analysis_opts, tokenize_query
from sparkfts.query import _postings_reader, idf_fn
from sparkfts.session import session_cores as _session_cores

_MODIFIERS = {
    "none": lambda v: v,
    "log1p": np.log1p,
    "ln1p": np.log1p,
    "sqrt": np.sqrt,
}


def _make_value_kernel(
    queries_analyzed: list[tuple[int, list[str], int]],
    n_docs: int,
    avgdl: float,
    mode: str,
    df_map: dict[str, int],
    op: str,
    *,
    ascending: bool = True,
    modifier: str = "log1p",
    factor: float = 1.0,
    hits: int = 3,
    script_fn=None,
    exclude=None,
    search_after: dict | None = None,
):
    """Cogrouped kernel ``(postings_pdf, docvals_pdf) -> pdf``.

    ``docvals_pdf`` carries this shard's ``(doc_id, value)`` rows from
    the docmap. Emits the per-shard bounded candidate frame for ``op``
    (see module docstring for each op's bound).
    """
    from sparkfts.wand import score_conjunctive, score_disjunctive

    mod_fn = _MODIFIERS[modifier]

    def _matches(pdf_postings):
        """All in-shard (ids, scores) per query — exhaustive, ES's own
        cost model for value-ordered queries (no bound can prune on
        score when the ordering depends on a doc value)."""
        rows_by_term, postings_of = _postings_reader(pdf_postings)
        idf_map = {t: idf_fn(n_docs, df_map.get(t, 0)) for t in rows_by_term}
        for qid, terms, k in queries_analyzed:
            if mode == "and" and not all(t in rows_by_term for t in terms):
                continue
            tp = [postings_of(t) for t in terms]
            idfs = np.array([idf_map.get(t, 0.0) for t in terms], np.float64)
            score = score_conjunctive if mode == "and" else score_disjunctive
            ids, scores = score(tp, idfs, avgdl, n_docs, exclude=exclude)
            if ids.size:
                yield qid, k, ids, scores

    def kernel(pdf_postings: pd.DataFrame, pdf_vals: pd.DataFrame):
        out = []
        if len(pdf_postings) and len(pdf_vals):
            vids = pdf_vals["doc_id"].to_numpy(np.int64)
            vvals = pdf_vals["value"].to_numpy()
            if vvals.dtype == object:  # strings: lexsort needs '<U'
                vvals = vvals.astype(str)
            vorder = np.argsort(vids, kind="stable")
            vids, vvals = vids[vorder], vvals[vorder]
            if op == "terms_set":
                # per-doc minimum_should_match: value = this doc's
                # required distinct-term count (capped at n_terms —
                # the ES Math.min(params.num_terms, doc[f]) idiom);
                # required < 1 -> the doc never matches
                from sparkfts.wand import union_scores_counts

                rows_by_term, postings_of = _postings_reader(pdf_postings)
                idf_map = {
                    t: idf_fn(n_docs, df_map.get(t, 0))
                    for t in rows_by_term
                }
                for qid, terms, k in queries_analyzed:
                    nonempty = [
                        (postings_of(t), idf_map[t])
                        for t in terms
                        if t in rows_by_term
                    ]
                    if not nonempty:
                        continue
                    ids, scores, counts = union_scores_counts(
                        nonempty, avgdl
                    )
                    if exclude is not None and len(exclude):
                        m = ~np.isin(ids, exclude)
                        ids, scores, counts = ids[m], scores[m], counts[m]
                    if not ids.size:
                        continue
                    pos = np.searchsorted(vids, ids)
                    pos_c = np.minimum(pos, vids.size - 1)
                    ok = vids[pos_c] == ids
                    ids, scores, counts = ids[ok], scores[ok], counts[ok]
                    req = vvals[pos_c[ok]].astype(np.int64)
                    need = np.minimum(req, len(terms))
                    keep = (req >= 1) & (counts >= need)
                    ids, scores = ids[keep], scores[keep]
                    if not ids.size:
                        continue
                    order = np.lexsort((ids, -scores))[:k]
                    out.append(
                        pd.DataFrame(
                            {
                                "query_id": np.full(
                                    order.size, qid, np.int32
                                ),
                                "doc_id": ids[order],
                                "score": scores[order],
                            }
                        )
                    )
                if not out:
                    return None
                return pd.concat(out, ignore_index=True)
            # docmap rows are unique per doc within an index generation
            for qid, k, ids, scores in _matches(pdf_postings):
                pos = np.searchsorted(vids, ids)
                pos_c = np.minimum(pos, vids.size - 1)
                ok = vids[pos_c] == ids
                ids, scores, vals = ids[ok], scores[ok], vvals[pos_c[ok]]
                if not ids.size:
                    continue
                if op == "sort":
                    after = (search_after or {}).get(qid)
                    if after is not None:
                        # sorted-cursor page (ES search_after on a field
                        # sort): keep docs strictly AFTER (value, doc_id)
                        # in the sort order, BEFORE the per-shard top-k
                        # cut — page cost stays O(k) at any depth
                        av, ad = after
                        if vals.dtype.kind in "US":
                            av = str(av)
                        if ascending:
                            keep = (vals > av) | ((vals == av) & (ids > ad))
                        else:
                            keep = (vals < av) | ((vals == av) & (ids > ad))
                        ids, scores, vals = (
                            ids[keep], scores[keep], vals[keep]
                        )
                        if not ids.size:
                            continue
                    key = vals if ascending else _neg(vals)
                    order = np.lexsort((ids, key))[:k]
                    out.append(
                        pd.DataFrame(
                            {
                                "query_id": np.full(order.size, qid, np.int32),
                                "doc_id": ids[order],
                                "value": vals[order],
                            }
                        )
                    )
                elif op in ("function_score", "script_score"):
                    if op == "script_score":
                        fs = script_fn(
                            {"_score": scores,
                             "value": vals.astype(np.float64)}
                        )
                    else:
                        fs = scores * (
                            factor * mod_fn(vals.astype(np.float64))
                        )
                    order = np.lexsort((ids, -fs))[:k]
                    out.append(
                        pd.DataFrame(
                            {
                                "query_id": np.full(order.size, qid, np.int32),
                                "doc_id": ids[order],
                                "score": fs[order],
                            }
                        )
                    )
                elif op in ("collapse", "top_hits"):
                    # best-per-key: lexsort by (key, -score, doc_id),
                    # first row of each key run wins
                    order = np.lexsort((ids, -scores, vals))
                    svals, sids, sscores = (
                        vals[order], ids[order], scores[order],
                    )
                    starts = np.flatnonzero(
                        np.r_[True, svals[1:] != svals[:-1]]
                    )
                    if op == "collapse":
                        bids, bscores, bvals = (
                            sids[starts], sscores[starts], svals[starts],
                        )
                        top = np.lexsort((bids, -bscores))[:k]
                        out.append(
                            pd.DataFrame(
                                {
                                    "query_id": np.full(
                                        top.size, qid, np.int32
                                    ),
                                    "doc_id": bids[top],
                                    "score": bscores[top],
                                    "value": bvals[top],
                                }
                            )
                        )
                    else:  # top_hits: per-key top-N + per-key count
                        counts = np.diff(np.r_[starts, svals.size])
                        rank_in_key = np.arange(svals.size) - np.repeat(
                            starts, counts
                        )
                        keep = rank_in_key < hits
                        # the run's match count rides on exactly ONE
                        # emitted row (its best hit): global doc_count
                        # is then a plain sum(cnt) — runs from
                        # different shards are disjoint doc sets
                        cnt_col = np.where(
                            rank_in_key == 0,
                            np.repeat(counts, counts),
                            0,
                        )
                        out.append(
                            pd.DataFrame(
                                {
                                    "query_id": np.full(
                                        int(keep.sum()), qid, np.int32
                                    ),
                                    "value": svals[keep],
                                    "doc_id": sids[keep],
                                    "score": sscores[keep],
                                    "cnt": cnt_col[keep].astype(np.int64),
                                }
                            )
                        )
        if not out:
            return None
        return pd.concat(out, ignore_index=True)

    return kernel


def _neg(vals: np.ndarray) -> np.ndarray:
    """Descending sort key for numeric or string values."""
    if vals.dtype.kind in "iuf":
        return -vals.astype(np.float64)
    # strings: rank-encode within the shard, negate ranks
    uniq, inv = np.unique(vals, return_inverse=True)
    return -inv.astype(np.int64)


def _cogrouped_run(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str, int]],
    field: str,
    mode: str,
    op: str,
    result_schema: str,
    empty_schema: str,
    **kopts,
) -> DataFrame | None:
    """Shared plan: pruned postings ⨝(cogroup by shard) docmap values
    → value kernel. Returns None for empty/no-term batches."""
    from sparkfts.deletes import load_tombstones
    from sparkfts.index import (
        in_list,
        load_docmap,
        load_postings,
        load_terms,
        read_meta,
        term_bucket,
    )

    meta = read_meta(index_dir)
    sw, stem = analysis_opts(meta)
    analyzed = [
        (qid, sorted(set(tokenize_query(text, sw, stem))), k)
        for qid, text, k in queries
    ]
    analyzed = [(qid, t, k) for qid, t, k in analyzed if t]
    if not analyzed or meta["n_docs"] == 0:
        return None
    all_terms = sorted({t for _, terms, _ in analyzed for t in terms})
    buckets = sorted(
        {term_bucket(t, meta["n_tbuckets"]) for t in all_terms}
    )
    postings = (
        load_postings(spark, index_dir)
        .where(in_list("tbucket", buckets) & in_list("term", all_terms))
        .coalesce(_session_cores(spark))
    )
    from sparkfts.index import df_map_for

    df_map = df_map_for(spark, index_dir, all_terms)
    tomb = load_tombstones(spark, index_dir)
    kernel = _make_value_kernel(
        analyzed,
        meta["n_docs"],
        meta["avgdl"],
        mode,
        df_map,
        op,
        exclude=tomb,
        **kopts,
    )
    vals = (
        load_docmap(spark, index_dir)
        # F.expr: `field` may be a plain docmap column or a SQL
        # expression over docmap columns (e.g. a derived required-
        # matches count for terms_set)
        .select("shard", "doc_id", F.expr(field).alias("value"))
        .coalesce(_session_cores(spark))
    )

    def _wrap(lp, rp):
        r = kernel(lp, rp)
        if r is None:
            import pandas as _pd

            return _pd.DataFrame(
                {c.split()[0]: [] for c in empty_schema.split(", ")}
            )
        return r

    local = postings.groupby("shard").cogroup(vals.groupby("shard")).applyInPandas(
        lambda lp, rp: _wrap(lp, rp), result_schema
    )
    return local


def _k_map(analyzed_k: list[tuple[int, int]]) -> F.Column:
    from sparkfts.index import lit_map

    return lit_map(analyzed_k)


def sort_by_field_batch(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str, int]],
    field: str,
    ascending: bool = True,
    mode: str = "and",
    value_type: str = "long",
    search_after: dict[int, tuple] | None = None,
) -> DataFrame:
    """ES ``sort`` on a doc-value field: matching docs ordered by the
    field (ties: doc_id asc), per query. Returns
    ``(query_id, rank, doc_id, sort_value)``.

    ``search_after``: per query_id, the ``(sort_value, doc_id)`` of the
    previous page's last hit — ES's scalable deep pagination for
    field-sorted results (r5): the cursor filter applies inside the
    shard kernels BEFORE per-shard selection, so any page costs O(k),
    never O(offset + k).

    Global stage: window over ``<= n_shards * k`` per-shard survivors,
    partitioned by query_id.
    """
    schema = f"query_id int, doc_id long, value {value_type}"
    local = _cogrouped_run(
        spark, index_dir, queries, field, mode, "sort", schema, schema,
        ascending=ascending, search_after=search_after,
    )
    out_schema = (
        f"query_id int, rank int, doc_id long, sort_value {value_type}"
    )
    if local is None:
        return spark.createDataFrame([], out_schema)
    local = local.repartition(_session_cores(spark), "query_id")
    w = Window.partitionBy("query_id").orderBy(
        F.asc("value") if ascending else F.desc("value"), F.asc("doc_id")
    )
    km = _k_map([(qid, k) for qid, _t, k in queries])
    return (
        local.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= F.element_at(km, F.col("query_id")))
        .select(
            "query_id",
            F.col("rank").cast("int"),
            "doc_id",
            F.col("value").alias("sort_value"),
        )
        .coalesce(1)
        .sortWithinPartitions("query_id", "rank")
    )


def function_score_batch(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str, int]],
    field: str,
    modifier: str = "log1p",
    factor: float = 1.0,
    mode: str = "and",
) -> DataFrame:
    """ES ``function_score`` + ``field_value_factor`` (boost_mode
    multiply): final score = BM25 * factor * modifier(field). Exact
    top-k — the kernel re-ranks the full in-shard match set (a doc-value
    boost breaks score-bound pruning, so exhaustive is the only exact
    mode; ES pays the same). Returns ``(query_id, rank, doc_id, score)``.
    """
    schema = "query_id int, doc_id long, score double"
    local = _cogrouped_run(
        spark, index_dir, queries, field, mode, "function_score",
        schema, schema, modifier=modifier, factor=factor,
    )
    out_schema = "query_id int, rank int, doc_id long, score double"
    if local is None:
        return spark.createDataFrame([], out_schema)
    local = local.repartition(_session_cores(spark), "query_id")
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    km = _k_map([(qid, k) for qid, _t, k in queries])
    return (
        local.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= F.element_at(km, F.col("query_id")))
        .select("query_id", F.col("rank").cast("int"), "doc_id", "score")
        .coalesce(1)
        .sortWithinPartitions("query_id", "rank")
    )


def script_score_batch(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str, int]],
    field: str,
    script: str,
    mode: str = "and",
) -> DataFrame:
    """ES ``script_score``: final score = script(``_score``,
    ``value``) where ``value`` is the named doc-value field and the
    script is the pinned arithmetic DSL (sparkfts.scripting — parsed
    fail-loud on the driver, compiled to a vectorized numpy closure,
    never ``eval``). Same exhaustive in-shard re-rank as
    function_score: an arbitrary script breaks score-bound pruning, so
    exhaustive per shard is the only exact mode (ES's own cost model).
    Returns ``(query_id, rank, doc_id, score)``.
    """
    from sparkfts.scripting import compile_script

    script_fn = compile_script(script)  # driver-side fail-loud parse
    schema = "query_id int, doc_id long, score double"
    local = _cogrouped_run(
        spark, index_dir, queries, field, mode, "script_score",
        schema, schema, script_fn=script_fn,
    )
    out_schema = "query_id int, rank int, doc_id long, score double"
    if local is None:
        return spark.createDataFrame([], out_schema)
    local = local.repartition(_session_cores(spark), "query_id")
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    km = _k_map([(qid, k) for qid, _t, k in queries])
    return (
        local.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= F.element_at(km, F.col("query_id")))
        .select("query_id", F.col("rank").cast("int"), "doc_id", "score")
        .coalesce(1)
        .sortWithinPartitions("query_id", "rank")
    )


def terms_set_batch(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str, int]],
    required_field: str,
) -> DataFrame:
    """ES ``terms_set`` query: a doc matches when it contains at least
    ``min(doc[required_field], n_terms)`` of the query's distinct
    terms — the per-doc ``minimum_should_match_field`` /
    ``Math.min(params.num_terms, doc[f])`` idiom; ``required < 1``
    never matches. Scoring = the standard OR sum over the doc's
    matching terms. ``required_field`` may be any SQL expression over
    docmap columns. Returns ``(query_id, rank, doc_id, score)``.

    Plan: the same cogrouped shape as the other doc-value queries —
    postings + this shard's (doc_id, required) rows meet in one
    kernel; exhaustive in-shard (the per-doc threshold defeats score
    bounds), per-shard top-k, bounded global merge."""
    schema = "query_id int, doc_id long, score double"
    local = _cogrouped_run(
        spark, index_dir, queries, required_field, "or", "terms_set",
        schema, schema,
    )
    out_schema = "query_id int, rank int, doc_id long, score double"
    if local is None:
        return spark.createDataFrame([], out_schema)
    local = local.repartition(_session_cores(spark), "query_id")
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    km = _k_map([(qid, k) for qid, _t, k in queries])
    return (
        local.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= F.element_at(km, F.col("query_id")))
        .select("query_id", F.col("rank").cast("int"), "doc_id", "score")
        .coalesce(1)
        .sortWithinPartitions("query_id", "rank")
    )


def collapse_batch(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str, int]],
    field: str,
    mode: str = "and",
    value_type: str = "string",
) -> DataFrame:
    """ES ``collapse``: top-k hits with at most ONE doc (the
    best-scoring; ties doc_id asc) per distinct value of ``field``.
    Returns ``(query_id, rank, doc_id, score, collapse_value)``.

    Exactness: a key's global best doc is its shard's best doc for that
    key (max over a superset of one shard's candidates), and if the key
    makes the global top-k its best doc outranks that shard's k-th
    collapsed candidate — so per-shard best-per-key → per-shard top-k →
    global re-collapse → top-k is lossless (ES's own merge argument).
    """
    schema = (
        f"query_id int, doc_id long, score double, value {value_type}"
    )
    local = _cogrouped_run(
        spark, index_dir, queries, field, mode, "collapse", schema, schema,
    )
    out_schema = (
        "query_id int, rank int, doc_id long, score double, "
        f"collapse_value {value_type}"
    )
    if local is None:
        return spark.createDataFrame([], out_schema)
    local = local.repartition(_session_cores(spark), "query_id")
    # global re-collapse: one winner per (query, key), then top-k
    wk = Window.partitionBy("query_id", "value").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    km = _k_map([(qid, k) for qid, _t, k in queries])
    return (
        local.withColumn("kr", F.row_number().over(wk))
        .where(F.col("kr") == 1)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= F.element_at(km, F.col("query_id")))
        .select(
            "query_id",
            F.col("rank").cast("int"),
            "doc_id",
            "score",
            F.col("value").alias("collapse_value"),
        )
        .coalesce(1)
        .sortWithinPartitions("query_id", "rank")
    )


def terms_top_hits(
    spark: SparkSession,
    index_dir: str,
    query: str,
    field: str,
    size: int = 10,
    hits: int = 3,
    mode: str = "and",
    value_type: str = "string",
) -> DataFrame:
    """ES ``terms`` aggregation with a ``top_hits`` sub-aggregation:
    the ``size`` largest buckets of ``field`` over the match set (count
    desc, key asc), each with its ``hits`` best documents by BM25.
    Returns ``(value, doc_count, hit_rank, doc_id, score)``.

    The kernel emits per-shard per-key top-``hits`` rows plus the
    per-(shard, key) match count; the global stage sums counts and
    re-reduces the hit candidates — transfer bounded by
    keys-in-shard * hits per shard, never the match set.
    """
    schema = (
        f"query_id int, value {value_type}, doc_id long, score double, "
        "cnt long"
    )
    local = _cogrouped_run(
        spark, index_dir, [(0, query, hits)], field, mode, "top_hits",
        schema, schema, hits=hits,
    )
    out_schema = (
        f"value {value_type}, doc_count long, hit_rank int, doc_id long, "
        "score double"
    )
    if local is None:
        return spark.createDataFrame([], out_schema)
    # one narrow repartition by key; both the count agg and the hit
    # window reuse it (no second exchange). Candidate volume is
    # n_shards * keys-in-shard * hits, never the match set.
    local = local.repartition(_session_cores(spark), "value")
    buckets = (
        local.groupBy("value")
        .agg(F.sum("cnt").alias("doc_count"))
        .orderBy(F.desc("doc_count"), F.asc("value"))
        .limit(size)
    )
    wk = Window.partitionBy("value").orderBy(F.desc("score"), F.asc("doc_id"))
    hits_df = (
        local.withColumn("hit_rank", F.row_number().over(wk))
        .where(F.col("hit_rank") <= hits)
        .select("value", "hit_rank", "doc_id", "score")
    )
    return (
        buckets.join(hits_df, "value")
        .select(
            "value",
            "doc_count",
            F.col("hit_rank").cast("int"),
            "doc_id",
            "score",
        )
        .coalesce(1)
        .sortWithinPartitions(
            F.desc("doc_count"), F.asc("value"), F.asc("hit_rank")
        )
    )


def distance_feature_batch(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str, int]],
    field: str,
    origin: float,
    pivot: float,
    boost: float = 1.0,
    mode: str = "and",
) -> DataFrame:
    """ES ``distance_feature`` (numeric/date form): final score =
    ``_score + boost * pivot / (pivot + |value - origin|)`` — recency
    /proximity boosting that, unlike function_score decay, ADDS to the
    relevance score (ES's distinction). Date fields: pass the origin
    as epoch seconds and store the doc value likewise.

    Lowered onto the script_score kernel — the formula is inside the
    pinned arithmetic DSL, so no new kernel and no new oracle
    semantics: ``_score + boost * (pivot / (pivot + abs(value - origin)))``.
    """
    if pivot <= 0:
        raise ValueError("pivot must be positive (ES requires it)")
    script = (
        f"_score + {float(boost)!r} * ({float(pivot)!r} / "
        f"({float(pivot)!r} + abs(value - {float(origin)!r})))"
    )
    return script_score_batch(
        spark, index_dir, queries, field, script, mode=mode
    )


def random_score_batch(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str, int]],
    seed: int,
    mode: str = "and",
) -> DataFrame:
    """ES ``function_score`` + ``random_score`` with a seed and field
    (deterministic shuffle of the MATCH SET — ES pins the sequence to
    (seed, field value); the engine pins it to (seed, doc_id) via the
    integer-LCG family): score = hash(seed, doc_id) scaled to [0, 1).

    Use: unbiased corpus sampling per query, A/B bucket assignment.
    Plan: the per-shard MATCH kernel (no scoring) + a pure int64 JVM
    hash column — exact arithmetic end to end (never routed through
    the float64 script env, which would mangle 63-bit doc ids) — and
    a per-query top-k window over the hash order.
    """
    from sparkfts.aggs import match_docs_batch

    P, A, B = 2_147_483_647, 1_103_515_245, 12_345
    s = int(seed) % P
    matched = match_docs_batch(
        spark, index_dir, [(qid, text) for qid, text, _k in queries],
        mode=mode,
    )
    h = F.pmod(F.col("doc_id").cast("long"), F.lit(P))
    h = F.pmod(h * F.lit(A) + F.lit(B) + F.lit(s * 12_345), F.lit(P))
    h = F.pmod(h * F.lit(A) + F.lit(B), F.lit(P))
    scored = matched.withColumn("score", h / F.lit(float(P)))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    km = _k_map([(qid, k) for qid, _t, k in queries])
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= F.element_at(km, F.col("query_id")))
        .select("query_id", "rank", "doc_id", "score")
        .orderBy("query_id", "rank")
    )
