"""Query execution: scan-mode BM25 (indexless baseline slice).

This module is SURVEY.md §7.1 step 2 — the minimum end-to-end slice that
answers a BM25 top-k query with *no index at all*, using only built-in
DataFrame operators plus the tokenize kernel. It is the executable
baseline every later optimization (posting lists, compression, WAND) is
verified against; it also doubles as the "relational glue" the driver
cross-checks against DuckDB.

Replaces, natively, the single delegated call the reference makes:
``self.client.search(index=..., query=query)``
(reference ElasticsearchHandler.py:69) with the conjunctive
``bool.must + multi_match(operator="and")`` semantics the reference's DSL
pins (reference ElasticsearchToNeo4jSync.py:92-102), and the ES-default
top-10-by-score behavior it relies on (reference ElasticsearchHandler.py:52-74).

Determinism contract (rank-identity vs oracle, SURVEY.md §7.3): per-term
float64 partial scores are folded in sorted-term order via
``sort_array(collect_list(struct(term, score)))`` + ``F.aggregate`` —
bit-identical to the oracle's sorted-term Python loop; ties broken by
``(-score, doc_id asc)``.
"""

from __future__ import annotations

from sparkfts.session import session_cores as _session_cores

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sparkfts import BM25_B, BM25_K1
from sparkfts.analysis import analysis_opts, tokenize_query
from sparkfts.stats import idf as idf_fn

RESULT_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.IntegerType(), False),
        T.StructField("rank", T.IntegerType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)


def _empty_results(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], RESULT_SCHEMA)


def bm25_scan_batch(
    tokens: DataFrame,
    queries: list[tuple[int, str, int]],
    n_docs: int,
    avgdl: float,
    mode: str = "and",
    min_should_match: int | str = 1,
) -> DataFrame:
    """Score a batch of queries in ONE Spark plan over the tokens table.

    Parameters
    ----------
    tokens : DataFrame(doc_id, term, tf, doclen) — one row per distinct pair.
    queries : list of (query_id, query_text, k).
    n_docs, avgdl : corpus stats (see :mod:`sparkfts.stats`).
    mode : "and" (conjunctive, reference semantics) or "or".
    min_should_match : full ES value grammar (int / 'P%' / '-P%' /
    'N<spec'), resolved per query against its analyzed term count.

    Plan shape (scale-notes inline):
      tokens ⋈ BROADCAST(query terms)        -- no shuffle; term filter is
                                              -- a broadcast semi-join, and
                                              -- Catalyst pushes nothing to
                                              -- scan here (tokens is derived)
      groupBy(query_id, doc_id)              -- the one wide shuffle; key
                                              -- cardinality = candidate docs
      fold sorted per-term scores            -- fixed-order float64 sum
      window top-k per query                 -- candidates only, tiny
    """
    spark = tokens.sparkSession
    analyzed = [(qid, tokenize_query(text), k) for qid, text, k in queries]
    analyzed = [(qid, terms, k) for qid, terms, k in analyzed if terms]
    if not analyzed or n_docs == 0 or avgdl == 0.0:
        return _empty_results(spark)

    all_terms = sorted({t for _, terms, _ in analyzed for t in terms})

    # exact df for the needed terms only (one small agg + collect)
    df_rows = (
        tokens.where(F.col("term").isin(all_terms))
        .groupBy("term")
        .agg(F.count("*").alias("df"))
        .collect()
    )
    df_map = {r["term"]: r["df"] for r in df_rows}
    idf_map = {t: idf_fn(n_docs, df_map.get(t, 0)) for t in all_terms}

    from sparkfts.wand import parse_minimum_should_match

    qterms = spark.createDataFrame(
        [
            (
                qid, t, len(terms), k,
                parse_minimum_should_match(min_should_match, len(terms)),
            )
            for qid, terms, k in analyzed
            for t in terms
        ],
        "query_id int, term string, n_terms int, k int, msm int",
    )

    from sparkfts.index import lit_map

    idf_col = lit_map((t, idf_map[t]) for t in all_terms)

    k1, b = BM25_K1, BM25_B
    norm = F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("doclen").cast("double") / F.lit(avgdl)
    )
    tf_d = F.col("tf").cast("double")
    score_t = (
        F.element_at(idf_col, F.col("term"))
        * (tf_d / (tf_d + norm))
        * F.lit(k1 + 1.0)
    )

    matched = (
        tokens.join(F.broadcast(qterms), "term")
        .withColumn("score_t", score_t)
        .groupBy("query_id", "doc_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("term"), F.col("score_t")))
            ).alias("parts"),
            F.count("*").alias("n_matched"),
            F.first("n_terms").alias("n_terms"),
            F.first("k").alias("k"),
            F.first("msm").alias("msm"),
        )
    )
    if mode == "and":
        matched = matched.where(F.col("n_matched") == F.col("n_terms"))
    elif mode == "or":
        # ES minimum_should_match: >= the per-query resolved count
        matched = matched.where(F.col("n_matched") >= F.col("msm"))
    else:
        raise ValueError(f"unknown mode {mode!r}")

    scored = matched.withColumn(
        "score",
        F.aggregate(
            F.transform(F.col("parts"), lambda x: x["score_t"]),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )

    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= F.col("k"))
        .select(
            F.col("query_id").cast("int"),
            F.col("rank").cast("int"),
            "doc_id",
            "score",
        )
        .orderBy("query_id", "rank")
    )


def bm25_scan(
    tokens: DataFrame,
    query: str,
    k: int,
    n_docs: int,
    avgdl: float,
    mode: str = "and",
) -> DataFrame:
    """Single-query convenience wrapper -> DataFrame(rank, doc_id, score)."""
    return bm25_scan_batch(tokens, [(0, query, k)], n_docs, avgdl, mode).select(
        "rank", "doc_id", "score"
    )


# ---------------------------------------------------------------------------
# Query over the inverted index (SURVEY.md §4.3 "Query" flagship job)
# ---------------------------------------------------------------------------


def decode_runs(rows) -> tuple:
    """One term's postings ``(doc_ids, tfs, doclens)`` from its posting
    rows (pandas rows or Spark Rows carrying the three blobs).

    Several runs (shards, or segments of an uncompacted index) are
    concatenated and stably sorted by doc_id."""
    import numpy as np

    from sparkfts.codec import decode_varint, delta_decode

    if not rows:
        return (
            np.empty(0, np.int64),
            np.empty(0, np.uint64),
            np.empty(0, np.uint64),
        )
    if len(rows) == 1:
        r = rows[0]
        return (
            delta_decode(decode_varint(r["doc_ids"])).astype(np.int64),
            decode_varint(r["tfs"]),
            decode_varint(r["doclens"]),
        )
    ids = np.concatenate(
        [delta_decode(decode_varint(r["doc_ids"])) for r in rows]
    ).astype(np.int64)
    tfs = np.concatenate([decode_varint(r["tfs"]) for r in rows])
    dls = np.concatenate([decode_varint(r["doclens"]) for r in rows])
    order = np.argsort(ids, kind="stable")
    return ids[order], tfs[order], dls[order]


def _postings_reader(pdf_postings: pd.DataFrame):
    """Per-shard decode machinery shared by the exact and fuzzy scorers.

    Returns ``(rows_by_term, postings_of)`` where ``postings_of(term)``
    lazily decodes (and caches) the term's shard postings as
    ``(doc_ids, tfs, doclens)`` (:func:`decode_runs`).
    """
    rows_by_term: dict[str, list] = {}
    for _, r in pdf_postings.iterrows():
        rows_by_term.setdefault(r["term"], []).append(r)
    cache: dict[str, tuple] = {}

    def postings_of(term: str):
        if term not in cache:
            cache[term] = decode_runs(rows_by_term.get(term))
        return cache[term]

    return rows_by_term, postings_of


def _make_shard_scorer(
    queries_analyzed: list[tuple[int, list[str], int]],
    n_docs: int,
    avgdl: float,
    mode: str,
    afters: dict[int, tuple[float, int]] | None = None,
    min_should_match=1,
    exclude=None,
    must_not_map: dict[int, list[str]] | None = None,
    filtered: bool = False,
    df_map: dict[str, int] | None = None,
):
    """Kernel factory: scores ALL queries against ONE shard's postings.

    Runs as a grouped-map UDF over postings grouped by shard. Doclens are
    inlined in each posting row, so no doc-table lookup happens at query
    time. Batching every query into one kernel call amortizes decode: a
    term's postings are decoded once per shard per query *batch*.

    ``df_map`` ships each term's GLOBAL df in the kernel closure (one
    tiny pruned-dictionary collect on the driver — cheaper than either a
    broadcast join's build job or a per-term create_map literal column,
    both of which this replaces); when absent, each posting row must
    carry a ``df`` column instead.

    ``must_not_map``: per query_id, the ES ``bool.must_not`` term list.
    A doc containing ANY of those terms is excluded BEFORE top-k; the
    exclusion set is the in-shard union of the must_not terms' own
    posting lists (a doc's postings all live in its one shard, so the
    per-shard union is complete for that shard's docs). must_not terms
    contribute nothing to scores (ES: pure exclusion, no scoring).

    ``filtered=True`` switches the kernel to the cogrouped signature
    ``scorer(postings_pdf, allowed_pdf)`` (``bool.filter``): the second
    frame carries this shard's allowed ``doc_id`` set, evaluated
    JVM-side against the docmap; docs outside it are masked BEFORE top-k.
    """
    import numpy as np

    from sparkfts.wand import score_conjunctive, score_disjunctive

    def scorer(
        pdf_postings: pd.DataFrame, pdf_allowed: pd.DataFrame | None = None
    ) -> pd.DataFrame:
        out_qid: list[np.ndarray] = []
        out_doc: list[np.ndarray] = []
        out_score: list[np.ndarray] = []
        include = None
        if filtered:
            include = np.sort(
                pdf_allowed["doc_id"].to_numpy(np.int64)
                if pdf_allowed is not None
                else np.empty(0, np.int64)
            )
        if len(pdf_postings) and not (filtered and include.size == 0):
            rows_by_term, postings_of = _postings_reader(pdf_postings)
            if df_map is not None:
                idf_map = {
                    t: idf_fn(n_docs, df_map.get(t, 0))
                    for t in rows_by_term
                }
            else:
                idf_map = {
                    t: idf_fn(n_docs, int(rows[0]["df"]))
                    for t, rows in rows_by_term.items()
                }

            for qid, terms, k in queries_analyzed:
                if mode == "and" and not all(t in rows_by_term for t in terms):
                    continue  # a required term is absent from this shard
                # sorted-term order (pinned summation)
                tp = [postings_of(t) for t in terms]
                # a term absent from this shard's rows has empty postings,
                # so its idf value is never multiplied into anything
                idfs = np.array(
                    [idf_map.get(t, 0.0) for t in terms], np.float64
                )
                from sparkfts.wand import parse_minimum_should_match

                msm = parse_minimum_should_match(
                    min_should_match, len(terms)
                )
                after = (afters or {}).get(qid)
                # bool.must_not: in-shard union of the negated terms'
                # postings, merged into the tombstone exclusion set
                excl = exclude
                mn_terms = (must_not_map or {}).get(qid)
                if mn_terms:
                    parts = [
                        postings_of(t)[0]
                        for t in mn_terms
                        if t in rows_by_term
                    ]
                    if parts:
                        mn_ids = np.unique(np.concatenate(parts))
                        excl = (
                            mn_ids
                            if excl is None or excl.size == 0
                            else np.union1d(excl, mn_ids)
                        )
                if mode == "and":
                    ids, scores = score_conjunctive(
                        tp, idfs, avgdl, k, after=after, exclude=excl,
                        include=include,
                    )
                else:
                    ids, scores = score_disjunctive(
                        tp, idfs, avgdl, k, after=after,
                        min_match=msm, exclude=excl,
                        include=include,
                    )
                if ids.size:
                    out_qid.append(np.full(ids.size, qid, np.int32))
                    out_doc.append(ids)
                    out_score.append(scores)
        if not out_qid:
            return pd.DataFrame(
                {
                    "query_id": pd.Series([], dtype="int32"),
                    "doc_id": pd.Series([], dtype="int64"),
                    "score": pd.Series([], dtype="float64"),
                }
            )
        return pd.DataFrame(
            {
                "query_id": np.concatenate(out_qid),
                "doc_id": np.concatenate(out_doc),
                "score": np.concatenate(out_score),
            }
        )

    return scorer


def bm25_index_batch(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str, int]],
    mode: str = "and",
    resolve_urls: bool = False,
    offset: int = 0,
    search_after: dict[int, tuple[float, int]] | None = None,
    min_should_match: int | str = 1,
    filter_expr: str | None = None,
    must_not: dict[int, str] | None = None,
    routing: str | None = None,
) -> DataFrame:
    """Answer a batch of BM25 top-k queries from a built index.

    ``routing``: ES custom routing — only valid on an index built with
    ``routing_col``; the postings scan (and the bool.filter docmap
    scan) prune to the single shard ``routing_shard(routing)``, so the
    whole batch touches 1/n_shards of the index (the per-tenant /
    per-host query shape). Scoring stats stay corpus-global (the
    engine's pinned dfs_query_then_fetch-style contract), so a routed
    query equals the unrouted query restricted to that shard's docs.

    ``min_should_match`` (OR mode): ES ``minimum_should_match`` — docs
    must contain at least this many distinct query terms. Accepts the
    full ES value grammar (int, negative int, 'P%', '-P%', a single
    'N<spec' conditional — sparkfts.wand.parse_minimum_should_match),
    resolved PER QUERY against its own analyzed term count.

    ``filter_expr``: ES ``bool.filter`` — a Spark SQL predicate over the
    docmap's columns (``url``, ``doclen``, and any ``docvalue_cols`` the
    index was built with, e.g. ``"lang = 'en'"``). Top-k is exact over
    the docs satisfying the predicate; per ES semantics the filter does
    NOT change scoring stats (idf/avgdl stay corpus-global). Plan shape:
    the predicate is evaluated JVM-side on the (column-pruned,
    predicate-pushed) docmap scan, and each shard kernel receives only
    its own shard's allowed doc_id set via a cogroup on ``shard`` — the
    docmap is already written partitioned by shard, so the allowed-set
    side shuffles at most one shard's ids to each kernel, bounded by
    docs-per-shard (the same executor-memory unit the postings already
    impose).

    ``must_not``: ES ``bool.must_not`` — per query_id, a query text whose
    analyzed terms EXCLUDE matching docs (no scoring contribution). The
    negated terms' postings are read in the same pruned scan; each shard
    kernel unions them into its exclusion mask before top-k.

    Plan (zero wide shuffles on the big side at query time):
      postings scan with PARTITION pruning on tbucket + row-group pruning
        on term (files are sorted by term within each bucket)
      tiny agg: global df per query term (sum of df_shard) -> idf map
      groupBy(shard) -> Arrow kernel: decode (doclens inlined) ->
        intersect/union -> vectorized BM25 -> per-shard top-k
      global merge: window top-k per query over <= n_shards*k rows.

    ``offset``: deep pagination (the reference's acknowledged scroll TODO,
    reference ElasticsearchHandler.py:5): returns ranks offset+1 ..
    offset+k. Per-shard candidates widen to offset+k — exactly ES's
    from+size cost model, which is why web-scale engines cap from+size
    (10k default) and paginate deeper via search_after; same applies here.

    ``search_after``: THE scalable alternative — per query_id, the
    ``(score, doc_id)`` of the previous page's last hit. The cursor
    filter applies inside the shard kernels BEFORE top-k selection, so
    page cost stays O(k) at any depth (no offset widening). Mutually
    exclusive with ``offset``; returned ranks are 1..k within the page
    (ES semantics: search_after responses carry no global rank).
    """
    if search_after and offset:
        raise ValueError("offset and search_after are mutually exclusive")
    from sparkfts.index import (
        load_docmap,
        load_postings,
        load_terms,
        read_meta,
        routing_shard,
        term_bucket,
    )

    from sparkfts.deletes import load_tombstones

    meta = read_meta(index_dir)
    # tombstoned docs mask out inside every kernel BEFORE top-k
    tombstones = load_tombstones(spark, index_dir)
    routed_shard = None
    if routing is not None:
        if not meta.get("routing_col"):
            raise ValueError(
                "routing= requires an index built with routing_col"
            )
        routed_shard = routing_shard(routing, meta["n_shards"])
    sw, stem = analysis_opts(meta)
    analyzed = [
        (qid, tokenize_query(text, sw, stem), k) for qid, text, k in queries
    ]
    # the shard kernel keeps offset+k local winners per query; the global
    # window slices the final page out of <= n_shards*(offset+k) rows
    analyzed = [
        (qid, t, k + int(offset)) for qid, t, k in analyzed if t
    ]
    if not analyzed or meta["n_docs"] == 0:
        return _empty_results(spark)

    # must_not terms join the pruned postings scan (their lists build the
    # exclusion masks) but stay OUT of `analyzed` (no scoring, and AND
    # mode must not require them)
    must_not_map: dict[int, list[str]] = {}
    for qid, text in (must_not or {}).items():
        mn_terms = tokenize_query(text, sw, stem)
        if mn_terms:
            must_not_map[qid] = mn_terms

    all_terms = sorted(
        {t for _, terms, _ in analyzed for t in terms}
        | {t for terms in must_not_map.values() for t in terms}
    )
    buckets = sorted({term_bucket(t, meta["n_tbuckets"]) for t in all_terms})

    from sparkfts.index import in_list

    # one-expression IN predicates + a scan coalesce to the core count:
    # the pruned scan otherwise launches one task per on-disk split
    # (145 tasks for a ~4k-row pruned read at bench scale) — pure
    # scheduling floor; the kernel parallelism is set by the groupBy
    # shuffle, not the scan
    postings = load_postings(spark, index_dir).where(
        in_list("tbucket", buckets) & in_list("term", all_terms)
    )
    if routed_shard is not None:
        # files are sorted by (tbucket, term, shard): the equality
        # predicate row-group-prunes on shard min/max stats
        postings = postings.where(F.col("shard") == routed_shard)
    postings = postings.coalesce(_session_cores(spark))
    # global df for the query terms, shipped in the kernel closure.
    # df_map_for caches the whole dictionary on the driver per index
    # generation when it fits (ES's in-memory terms dictionary), so a
    # warm batch pays ZERO extra jobs for stats; oversized dictionaries
    # fall back to one pruned-scan collect per batch.
    from sparkfts.index import df_map_for

    df_map = df_map_for(spark, index_dir, all_terms)
    joined = postings

    scorer = _make_shard_scorer(
        analyzed,
        meta["n_docs"],
        meta["avgdl"],
        mode,
        afters=search_after,
        min_should_match=min_should_match,
        exclude=tombstones,
        must_not_map=must_not_map or None,
        filtered=filter_expr is not None,
        df_map=df_map,
    )
    result_schema = "query_id int, doc_id long, score double"
    # NOTE: no explicit repartition(n_shards, "shard") here — Catalyst's
    # CollapseRepartition folds a child coalesce() into a following
    # repartition, resurrecting one-task-per-file-split shuffle maps
    # (145 at bench scale). The coalesced scan feeds groupBy's own
    # exchange (map side = core count) and AQE right-sizes the reduce
    # side; measured equal warm, faster cold and on small-core runs.
    if filter_expr is not None:
        # bool.filter: JVM-evaluated predicate over the docmap (filters
        # push down to the parquet scan; only `shard`+`doc_id` survive
        # column pruning), cogrouped with the postings by shard so each
        # kernel sees exactly its shard's allowed id set
        allowed = load_docmap(spark, index_dir)
        if routed_shard is not None:
            # docmap is written partitioned by shard: partition-pruned
            allowed = allowed.where(F.col("shard") == routed_shard)
        allowed = (
            allowed.where(F.expr(filter_expr))
            .select("shard", "doc_id")
            .coalesce(_session_cores(spark))
        )
        local = (
            joined.groupby("shard")
            .cogroup(allowed.groupby("shard"))
            .applyInPandas(lambda l, r: scorer(l, r), result_schema)
        )
    else:
        local = joined.groupby("shard").applyInPandas(
            lambda pdf: scorer(pdf), result_schema
        )

    from sparkfts.index import lit_map

    k_map = lit_map((qid, k) for qid, _, k in analyzed)
    # pre-partition the <= n_shards*k-per-query candidate frame by the
    # window key at CORE-count granularity: the window reuses this
    # partitioning (no second exchange) instead of fanning the tiny
    # frame out to spark.sql.shuffle.partitions mostly-empty tasks
    local = local.repartition(
        _session_cores(spark), "query_id"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    out = (
        local.withColumn("rank", F.row_number().over(w))
        .where(
            (F.col("rank") <= F.element_at(k_map, F.col("query_id")))
            & (F.col("rank") > F.lit(int(offset)))
        )
        .select("query_id", F.col("rank").cast("int"), "doc_id", "score")
    )
    if resolve_urls:
        urls = load_docmap(spark, index_dir).select("doc_id", "url")
        out = out.join(urls, "doc_id", "left").select(
            "query_id", "rank", "doc_id", "url", "score"
        )
    # the page is <= n_queries * k rows: a single-partition sort replaces
    # orderBy's RangePartitioning (which costs an extra boundary-sampling
    # JOB per batch) at identical output order
    return out.coalesce(1).sortWithinPartitions("query_id", "rank")


def bm25_index(
    spark: SparkSession,
    index_dir: str,
    query: str,
    k: int = 10,
    mode: str = "and",
    **kw,
) -> DataFrame:
    """Single-query wrapper over :func:`bm25_index_batch`."""
    return bm25_index_batch(spark, index_dir, [(0, query, k)], mode, **kw).select(
        "rank", "doc_id", *(["url"] if kw.get("resolve_urls") else []), "score"
    )


def explain_score(
    spark: SparkSession,
    index_dir: str,
    query: str,
    doc_id: int,
    mode: str = "and",
) -> DataFrame:
    """ES ``_explain`` equivalent: per-term BM25 breakdown for ONE
    (query, doc) pair -> (term, tf, df, doclen, idf, tf_norm,
    contribution), sorted by term; empty when the doc doesn't match
    under ``mode``.

    Plan: the doc's shard is pmod(doc_id, n_shards), so the postings
    scan prunes to (query terms x ONE shard); the kernel decodes only
    those rows and binary-searches the single doc. Cost is one pruned
    scan regardless of corpus size.
    """
    from sparkfts.index import (
        load_postings,
        load_terms,
        read_meta,
        term_bucket,
    )

    schema = (
        "term string, tf long, df long, doclen long, idf double, "
        "tf_norm double, contribution double"
    )
    meta = read_meta(index_dir)
    terms = tokenize_query(query)
    if not terms or meta["n_docs"] == 0:
        return spark.createDataFrame([], schema)
    shard = int(doc_id) % meta["n_shards"]
    buckets = sorted({term_bucket(t, meta["n_tbuckets"]) for t in terms})
    df_rows = (
        load_terms(spark, index_dir)
        .where(F.col("tbucket").isin(buckets) & F.col("term").isin(terms))
        .select("term", "df")
        .collect()
    )
    df_map = {r["term"]: int(r["df"]) for r in df_rows}
    postings = load_postings(spark, index_dir).where(
        F.col("tbucket").isin(buckets)
        & F.col("term").isin(terms)
        & (F.col("shard") == shard)
    )
    n_docs, avgdl = meta["n_docs"], meta["avgdl"]
    target = int(doc_id)
    k1, b = BM25_K1, BM25_B

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        # grouped by shard (not mapInPandas): ALL of a term's rows —
        # including multi-segment runs of an uncompacted re-crawl —
        # arrive in one call, so _postings_reader's sorted merge sees
        # them together and searchsorted picks exactly ONE entry per
        # term; per-Arrow-batch partial decode previously emitted a
        # duplicate row (and a double-counted total) for such docs
        import numpy as np

        cols = [
            "term", "tf", "df", "doclen", "idf", "tf_norm", "contribution",
        ]
        if not len(pdf):
            return pd.DataFrame(columns=cols)
        _, postings_of = _postings_reader(pdf)
        rows = []
        for t in sorted(set(pdf["term"])):
            ids, tfs, dls = postings_of(t)
            pos = np.searchsorted(ids, target)
            if pos < ids.size and ids[pos] == target:
                tf = int(tfs[pos])
                dl = int(dls[pos])
                idf = idf_fn(n_docs, df_map.get(t, 0))
                tfn = tf / (tf + k1 * (1 - b + b * dl / avgdl))
                rows.append(
                    (t, tf, df_map.get(t, 0), dl, idf, tfn,
                     idf * tfn * (k1 + 1.0))
                )
        return pd.DataFrame(rows, columns=cols)

    out = (
        postings.groupby("shard")
        .applyInPandas(lambda pdf: kernel(pdf), schema)
        .orderBy("term")
    )
    if mode == "and":
        # conjunctive: the doc must carry EVERY query term or nothing
        # matches (checked driver-side on the tiny result)
        rows = out.collect()
        if len({r["term"] for r in rows}) < len(set(terms)):
            return spark.createDataFrame([], schema)
        return spark.createDataFrame(rows, schema)
    return out


# ---------------------------------------------------------------------------
# Fuzzy (AUTO) query over the inverted index
# ---------------------------------------------------------------------------


def _make_fuzzy_shard_scorer(
    queries_grouped: list[tuple[int, list[tuple[str, list[tuple[str, float]]]], int]],
    avgdl: float,
    mode: str,
    exclude=None,
    filtered: bool = False,
):
    """Kernel: fuzzy-grouped scoring of one shard (oracle.fuzzy semantics).

    ``queries_grouped``: per query ``(qid, groups, k)`` where ``groups``
    is, in sorted-q_term order, ``(q_term, [(expansion_term, weight)])``
    with ``weight = boost * idf`` precomputed on the driver from the term
    dictionary. The best expansion wins per doc (max), groups combine
    conjunctively/disjunctively (:func:`sparkfts.wand.score_grouped`).
    """
    import numpy as np

    from sparkfts.wand import fuzzy_group, score_grouped

    def scorer(
        pdf_postings: pd.DataFrame, pdf_allowed: pd.DataFrame | None = None
    ) -> pd.DataFrame:
        out_qid: list[np.ndarray] = []
        out_doc: list[np.ndarray] = []
        out_score: list[np.ndarray] = []
        include = None
        if filtered:
            include = np.sort(
                pdf_allowed["doc_id"].to_numpy(np.int64)
                if pdf_allowed is not None
                else np.empty(0, np.int64)
            )
        if len(pdf_postings) and not (filtered and include.size == 0):
            rows_by_term, postings_of = _postings_reader(pdf_postings)
            group_cache: dict[tuple, tuple] = {}
            for qid, groups_spec, k in queries_grouped:
                groups = []
                for q_term, exps in groups_spec:
                    # expansions are a function of q_term + dictionary, so
                    # the virtual posting is shareable across queries
                    key = q_term
                    virt = group_cache.get(key)
                    if virt is None:
                        present = [
                            (postings_of(t), w)
                            for t, w in exps
                            if t in rows_by_term
                        ]
                        virt = fuzzy_group(present, avgdl)
                        group_cache[key] = virt
                    groups.append(virt)
                ids, scores = score_grouped(
                    groups, k, mode, exclude=exclude, include=include
                )
                if ids.size:
                    out_qid.append(np.full(ids.size, qid, np.int32))
                    out_doc.append(ids)
                    out_score.append(scores)
        if not out_qid:
            return pd.DataFrame(
                {
                    "query_id": pd.Series([], dtype="int32"),
                    "doc_id": pd.Series([], dtype="int64"),
                    "score": pd.Series([], dtype="float64"),
                }
            )
        return pd.DataFrame(
            {
                "query_id": np.concatenate(out_qid),
                "doc_id": np.concatenate(out_doc),
                "score": np.concatenate(out_score),
            }
        )

    return scorer


def fuzzy_expand_index(
    spark: SparkSession,
    index_dir: str,
    analyzed: list[tuple[int, list[str], int]],
    n_docs: int,
    n_tbuckets: int,
    max_expansions: int | None = None,
    transpositions: bool = False,
    prefix_length: int = 0,
    fuzziness: str = "AUTO",
) -> dict[tuple[int, str], list[tuple[str, float]]]:
    """Expand query terms against the index term dictionary (distributed).

    A Levenshtein join of the (never-collected) ``terms`` table against the
    broadcast query-term list, with a pushed-down term-length window
    pre-filter. Returns ``(query_id, q_term) -> [(term, weight)]`` with
    ``weight = (1 - dist/len(q_term)) * idf(df)`` per :mod:`oracle.fuzzy`.

    ``max_expansions``: optional recall/cost cap (closest-first, then
    term order) for web-scale dictionaries; ``None`` = exhaustive (the
    correctness-path default, matching the oracle).

    ``transpositions``: ES ``fuzzy_transpositions`` — distance is
    unrestricted Damerau-Levenshtein (a transposition = ONE edit). The
    JVM join keeps a sound ``lev <= 2*maxd`` pre-filter and the exact
    Damerau distance is refined on the collected survivor set (this path
    collects the expansion set anyway; see :mod:`sparkfts.editdist`).

    ``prefix_length``: ES fuzzy ``prefix_length`` — candidates must
    share the query term's first N characters EXACTLY (edits only
    beyond them). Besides recall control, this is ES's fuzzy-cost
    lever, and it becomes a scan win here: the distinct query-term
    prefixes turn into literal ``startswith`` predicates on the sorted
    dictionary scan (row-group pruned, like prefix queries) instead of
    a full-dictionary Levenshtein join.
    """
    from sparkfts.analysis import auto_fuzz
    from sparkfts.editdist import fuzzy_join_cond
    from sparkfts.index import load_terms

    # ``fuzziness``: "AUTO" (the length ladder) or a FIXED max edit
    # distance "1"/"2" (ES match/fuzzy fixed fuzziness — applied as-is
    # regardless of term length). "0" is the degenerate exact case.
    fz = str(fuzziness).upper()
    if fz == "AUTO":
        _maxd = auto_fuzz
    else:
        if fz not in ("0", "1", "2"):
            raise ValueError(
                f"fuzziness must be AUTO or 0/1/2, got {fuzziness!r}"
            )
        _fixed = int(fz)

        def _maxd(_t: str) -> int:
            return _fixed

    pl = max(0, int(prefix_length))
    qrows = [
        (qid, t, _maxd(t), len(t), t[:pl])
        for qid, terms, _ in analyzed
        for t in terms
    ]
    if not qrows:
        return {}
    qdf = spark.createDataFrame(
        qrows,
        "query_id int, q_term string, maxd int, qlen int, q_prefix string",
    )
    lmin = min(ln - d for _, _, d, ln, _p in qrows)
    lmax = max(ln + d for _, _, d, ln, _p in qrows)
    terms = load_terms(spark, index_dir).where(
        F.length("term").between(F.lit(lmin), F.lit(lmax))
    )
    if pl > 0:
        # pushable literal prefixes -> row-group-pruned range scan
        prefixes = sorted({p for *_x, p in qrows})
        pcond = None
        for p in prefixes:
            c = F.col("term").startswith(p)
            pcond = c if pcond is None else (pcond | c)
        terms = terms.where(pcond)
    jcond = fuzzy_join_cond(transpositions=transpositions)
    if pl > 0:
        jcond = jcond & F.col("term").startswith(F.col("q_prefix"))
    dist = F.levenshtein(F.col("term"), F.col("q_term"))
    rows = (
        terms.join(
            F.broadcast(qdf),
            jcond,
        )
        .select(
            "query_id",
            "q_term",
            "term",
            dist.alias("dist"),
            "df",
            "qlen",
        )
        .collect()
    )
    if transpositions:
        from oracle.fuzzy import damerau_levenshtein

        refined = []
        for r in rows:
            dam = damerau_levenshtein(r["q_term"], r["term"])
            if dam <= _maxd(r["q_term"]):
                refined.append(
                    {
                        "query_id": r["query_id"],
                        "q_term": r["q_term"],
                        "term": r["term"],
                        "dist": dam,
                        "df": r["df"],
                        "qlen": r["qlen"],
                    }
                )
        rows = refined
    out: dict[tuple[int, str], list[tuple[str, float, int]]] = {}
    for r in rows:
        boost = 1.0 - r["dist"] / r["qlen"]
        w = boost * idf_fn(n_docs, int(r["df"]))
        out.setdefault((r["query_id"], r["q_term"]), []).append(
            (r["term"], w, int(r["dist"]))
        )
    final: dict[tuple[int, str], list[tuple[str, float]]] = {}
    for key, exps in out.items():
        exps.sort(key=lambda x: (x[2], x[0]))  # closest-first, then term
        if max_expansions is not None:
            exps = exps[:max_expansions]
        final[key] = [(t, w) for t, w, _ in exps]
    return final


def bm25_index_fuzzy_batch(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str, int]],
    mode: str = "and",
    max_expansions: int | None = None,
    offset: int = 0,
    filter_expr: str | None = None,
    transpositions: bool = False,
    prefix_length: int = 0,
) -> DataFrame:
    """Fuzzy (AUTO) BM25 top-k from a built index, one Spark action to score.

    Plan: term-dictionary Levenshtein expansion (small collect) ->
    postings pruned to the expansion set -> per-shard grouped kernel ->
    global window top-k. Rank-identical to :func:`oracle.fuzzy.fuzzy_search`
    when ``max_expansions`` is None.

    ``offset``: deep pagination, same from+size model as
    :func:`bm25_index_batch` — per-shard candidates widen to offset+k and
    the global window returns ranks offset+1 .. offset+k.
    """
    from sparkfts.index import load_docmap, load_postings, read_meta, term_bucket

    meta = read_meta(index_dir)
    sw, stem = analysis_opts(meta)
    analyzed = [
        (qid, tokenize_query(text, sw, stem), k) for qid, text, k in queries
    ]
    analyzed = [(qid, t, k + int(offset)) for qid, t, k in analyzed if t]
    if not analyzed or meta["n_docs"] == 0:
        return _empty_results(spark)

    expansions = fuzzy_expand_index(
        spark, index_dir, analyzed, meta["n_docs"], meta["n_tbuckets"],
        max_expansions, transpositions=transpositions,
        prefix_length=prefix_length,
    )
    return _grouped_expansion_topk(
        spark, index_dir, meta, analyzed, expansions, mode, offset,
        filter_expr,
    )


def bm25_index_synonym_batch(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str, int]],
    synonyms: dict[str, list[str]],
    mode: str = "and",
    offset: int = 0,
    filter_expr: str | None = None,
) -> DataFrame:
    """Query-time synonym expansion (ES ``synonym_graph``-style, pinned).

    Each analyzed query term expands to ``{term} | synonyms[term]``
    (synonym values are analyzed with the index's pinned analyzer).
    Pinned scoring: the expansion group matches a doc when ANY member
    matches, scored best-member-wins with weight = idf(df(member)) —
    the same group semantics as fuzzy(AUTO) with boost 1, so the group
    kernel, per-shard top-k and global-window tail are shared with
    :func:`bm25_index_fuzzy_batch`. (Lucene's SynonymQuery instead
    blends a single df across members; the best-member pin keeps the
    contract SQL-expressible — documented divergence.)

    Plan: ZERO extra jobs for expansion — the synonym map is
    driver-side; df for the expanded term set comes from the
    generation-cached dictionary (:func:`sparkfts.index.df_map_for`).
    """
    from sparkfts.index import df_map_for, read_meta

    meta = read_meta(index_dir)
    sw, stem = analysis_opts(meta)
    analyzed = [
        (qid, tokenize_query(text, sw, stem), k) for qid, text, k in queries
    ]
    analyzed = [(qid, t, k + int(offset)) for qid, t, k in analyzed if t]
    if not analyzed or meta["n_docs"] == 0:
        return _empty_results(spark)

    groups_by_term: dict[str, list[str]] = {}
    for _qid, terms, _k in analyzed:
        for t in terms:
            if t not in groups_by_term:
                members = {t}
                for s in synonyms.get(t, ()):  # analyzer applies to syns
                    members.update(tokenize_query(str(s), sw))
                groups_by_term[t] = sorted(members)
    all_members = sorted({m for ms in groups_by_term.values() for m in ms})
    df_map = df_map_for(spark, index_dir, all_members)
    expansions: dict[tuple[int, str], list[tuple[str, float]]] = {}
    for qid, terms, _k in analyzed:
        for t in terms:
            expansions[(qid, t)] = [
                (m, idf_fn(meta["n_docs"], df_map[m]))
                for m in groups_by_term[t]
                if df_map.get(m, 0) > 0
            ]
    return _grouped_expansion_topk(
        spark, index_dir, meta, analyzed, expansions, mode, offset,
        filter_expr,
    )


def _grouped_expansion_topk(
    spark: SparkSession,
    index_dir: str,
    meta: dict,
    analyzed: list[tuple[int, list[str], int]],
    expansions: dict[tuple[int, str], list[tuple[str, float]]],
    mode: str,
    offset: int,
    filter_expr: str | None,
) -> DataFrame:
    """Shared tail of the expansion-group query paths (fuzzy, synonym):
    postings pruned to the expansion set -> per-shard grouped kernel ->
    global window top-k (<= n_shards*k rows per query)."""
    from sparkfts.index import load_docmap, load_postings, term_bucket

    queries_grouped = []
    for qid, terms, k in analyzed:
        groups = [
            (t, expansions.get((qid, t), [])) for t in terms
        ]  # terms already sorted by tokenize_query
        queries_grouped.append((qid, groups, k))

    all_terms = sorted(
        {t for exps in expansions.values() for t, _ in exps}
    )
    if not all_terms:
        return _empty_results(spark)
    from sparkfts.index import in_list

    buckets = sorted({term_bucket(t, meta["n_tbuckets"]) for t in all_terms})
    postings = load_postings(spark, index_dir).where(
        in_list("tbucket", buckets) & in_list("term", all_terms)
    ).coalesce(_session_cores(spark))
    from sparkfts.deletes import load_tombstones

    scorer = _make_fuzzy_shard_scorer(
        queries_grouped,
        meta["avgdl"],
        mode,
        exclude=load_tombstones(spark, index_dir),
        filtered=filter_expr is not None,
    )
    result_schema = "query_id int, doc_id long, score double"
    if filter_expr is not None:
        allowed = (
            load_docmap(spark, index_dir)
            .where(F.expr(filter_expr))
            .select("shard", "doc_id")
            .coalesce(_session_cores(spark))
        )
        local = (
            postings.groupby("shard")
            .cogroup(allowed.groupby("shard"))
            .applyInPandas(lambda l, r: scorer(l, r), result_schema)
        )
    else:
        local = postings.groupby("shard").applyInPandas(
            lambda pdf: scorer(pdf), result_schema
        )
    local = local.repartition(_session_cores(spark), "query_id")
    from sparkfts.index import lit_map

    k_map = lit_map((qid, k) for qid, _, k in analyzed)
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .where(
            (F.col("rank") <= F.element_at(k_map, F.col("query_id")))
            & (F.col("rank") > F.lit(int(offset)))
        )
        .select("query_id", F.col("rank").cast("int"), "doc_id", "score")
        .coalesce(1)
        .sortWithinPartitions("query_id", "rank")
    )


def pinned_topk_batch(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str, int]],
    pinned_ids: dict[int, list[int]],
    mode: str = "and",
) -> DataFrame:
    """ES ``pinned`` query: per query, the listed doc ids rank FIRST in
    their given order (whether or not they match the organic query),
    then the organic BM25 ranking minus any pinned docs fills the rest
    of the page. Scores follow ES: pinned hits get a descending
    synthetic score above every organic score (pinned here to
    ``1e12 - position`` — far above any BM25 score yet fine-grained
    enough that float64 keeps consecutive positions distinct, which a
    1.7e308-style ceiling would not), organic hits keep their BM25
    score.

    Plan: the organic leg is the standard per-shard top-k batch
    (fetched at ``k`` — the union with pins then trims, so the page is
    always full when enough organic matches exist); pins are a literal
    broadcast frame of ``sum(len(pinned))`` rows. One bounded union +
    per-query window; nothing new scans.
    """
    if not queries:
        return spark.createDataFrame(
            [], "query_id int, rank int, doc_id long, score double"
        )
    for qid, ids in pinned_ids.items():
        if len(ids) != len(set(ids)):
            raise ValueError(f"duplicate pinned ids for query {qid}")
    organic = bm25_index_batch(
        spark, index_dir, queries, mode=mode
    ).select("query_id", "doc_id", "score")
    pin_rows = [
        (int(qid), int(doc), float(1.0e12 - pos))
        for qid, ids in sorted(pinned_ids.items())
        for pos, doc in enumerate(ids)
    ]
    if pin_rows:
        pins = spark.createDataFrame(
            pin_rows, "query_id int, doc_id long, score double"
        )
        # organic minus pinned (a pinned doc never appears twice)
        organic = organic.join(
            pins.select("query_id", "doc_id"), ["query_id", "doc_id"],
            "left_anti",
        )
        allrows = organic.unionByName(pins)
    else:
        allrows = organic
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    from sparkfts.index import lit_map

    km = lit_map([(qid, k) for qid, _t, k in queries])
    return (
        allrows.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= F.element_at(km, F.col("query_id")))
        .select("query_id", "rank", "doc_id", "score")
        .orderBy("query_id", "rank")
    )
