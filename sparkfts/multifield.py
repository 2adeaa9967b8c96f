"""Multi-field BM25: ``multi_match(type=best_fields)`` over a field list.

Every reference query is multi-field in form: the field list comes from
``list(set(...))`` (reference ElasticsearchToNeo4jSync.py:89) feeding
``multi_match`` (reference ElasticsearchToNeo4jSync.py:92-99). ES/Lucene
keeps one inverted index per field inside a segment; this module mirrors
that: a multi-field index is a directory of per-field single-field
indexes (the whole existing build/merge/stream/query machinery applies
unchanged per field), and best-fields combination happens at query time.

Pinned semantics (ES ``multi_match`` defaults the reference relies on:
``type=best_fields``, ``operator=and`` per clause, ``tie_breaker=0``):

- each field is scored as its own BM25 index — per-field df, doclen and
  avgdl (all docs carry every field here, so Lucene's per-field docCount
  equals n_docs);
- the operator applies WITHIN a field: a doc matches iff at least one
  single field contains every query term;
- doc score = max over matching fields of ``boost_f * field_score``,
  where a per-field boost is given ES-style as ``"title^2"``.

Scale shape: the per-field candidate sets are the existing pruned index
plans (tbucket partition pruning + term pushdown, per-shard kernels,
<= n_shards*(offset+k) rows each); combining them is a union of
n_fields of those tiny results, one groupBy(query_id, doc_id).max and a
window over the survivors — no new wide shuffle, nothing proportional to
corpus size. The union of per-field top-(offset+k) provably contains the
global top-(offset+k) under max combination: if a doc is in the global
top-m, then in its argmax field fewer than m docs beat it, so it is in
that field's top-m.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

MF_META_FILE = "multifield.json"


def parse_field_boosts(fields) -> list[tuple[str, float]]:
    """ES field spec list -> ``[(field, boost)]``; ``"title^2"`` -> 2.0."""
    out = []
    for f in fields:
        if "^" in f:
            name, _, b = f.partition("^")
            out.append((name, float(b)))
        else:
            out.append((f, 1.0))
    return out


def field_dir(index_dir: str, fld: str) -> str:
    return os.path.join(index_dir, "fields", fld)


def read_mf_meta(index_dir: str) -> dict:
    with open(os.path.join(index_dir, MF_META_FILE)) as f:
        return json.load(f)


def build_multifield_index(
    pages: DataFrame,
    out_dir: str,
    fields: tuple[str, ...] = ("text",),
    **build_kw,
) -> dict:
    """Build one single-field index per analyzed field under ``out_dir``.

    ``pages`` must carry every column in ``fields`` (plus url / doc_id for
    id assignment). Doc ids derive from url (or the doc_id column), so
    they are identical across the per-field sub-indexes by construction.
    """
    from sparkfts.index import build_index

    id_source = build_kw.get("id_source", "sha1")
    carry = [c for c in ("doc_id", "url", "warc_ts", "lang") if c in pages.columns]
    # one source materialization feeds every per-field build job
    pages = pages.cache()
    metas = {}
    try:
        for fld in fields:
            sub = pages.select(
                *[F.col(c) for c in carry if c != fld],
                F.col(fld).alias("text"),
            )
            if id_source != "column" and "url" not in sub.columns:
                raise ValueError("sha1 id assignment needs a url column")
            metas[fld] = build_index(sub, field_dir(out_dir, fld), **build_kw)
    finally:
        pages.unpersist()

    mf_meta = {
        "version": 1,
        "multifield": True,
        "fields": list(fields),
        "n_docs": metas[fields[0]]["n_docs"],
        "per_field": {
            f: {"avgdl": m["avgdl"], "n_docs": m["n_docs"]}
            for f, m in metas.items()
        },
    }
    os.makedirs(out_dir, exist_ok=True)
    tmp = os.path.join(out_dir, MF_META_FILE + ".tmp")
    with open(tmp, "w") as f:
        json.dump(mf_meta, f, indent=2)
    os.replace(tmp, os.path.join(out_dir, MF_META_FILE))
    return mf_meta


def _combine_best_fields(
    per_field: list[tuple[DataFrame, float]],
    analyzed_k: list[tuple[int, int]],
    offset: int,
) -> DataFrame:
    """Union per-field (query_id, doc_id, score) candidates -> best-fields
    top-k page: max(boost * score) per doc, window rank, offset slice."""
    parts = []
    for res, boost in per_field:
        scored = res.select(
            "query_id",
            "doc_id",
            (F.col("score") * F.lit(float(boost))).alias("score"),
        )
        parts.append(scored)
    combined = parts[0]
    for p in parts[1:]:
        combined = combined.unionByName(p)
    best = combined.groupBy("query_id", "doc_id").agg(
        F.max("score").alias("score")
    )
    from sparkfts.index import lit_map

    k_map = lit_map(analyzed_k)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        best.withColumn("rank", F.row_number().over(w))
        .where(
            (F.col("rank") <= F.element_at(k_map, F.col("query_id")))
            & (F.col("rank") > F.lit(int(offset)))
        )
        .select("query_id", F.col("rank").cast("int"), "doc_id", "score")
        .orderBy("query_id", "rank")
    )


def bm25_multifield_batch(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str, int]],
    fields: list[str] | None = None,
    mode: str = "and",
    offset: int = 0,
    filter_expr: str | None = None,
    tie_breaker: float = 0.0,
) -> DataFrame:
    """Best-fields BM25 top-k from a multi-field index, one Spark action.

    ``filter_expr``: ES bool.filter, applied INSIDE each per-field plan
    (per-field filtered top-(offset+k) still provably contains every
    filtered best-fields winner — same monotone-max argument); needs the
    sub-indexes built with the predicate's docvalue columns.

    ``fields``: ES-style specs (``["title^2", "text"]``); default = every
    indexed field, boost 1.0. Each per-field slice is the standard pruned
    single-field index plan widened to offset+k; the global page is cut
    after max combination, so pagination is exact across fields.

    ``tie_breaker``: ES multi_match/dis_max tie_breaker — combined
    score = best_field + tie_breaker * sum(other matching fields).
    0.0 (ES default) keeps the pure best-fields plan above. For
    ``tie_breaker > 0`` the union-of-per-field-top-k containment proof
    breaks (a runner-up field can lift a doc past another's best), so
    execution routes through the single-pass bool-tree kernel, which
    holds complete per-shard per-field match sets and combines exactly.
    """
    from sparkfts.analysis import tokenize_query
    from sparkfts.query import _empty_results, bm25_index_batch

    meta = read_mf_meta(index_dir)
    specs = parse_field_boosts(fields if fields is not None else meta["fields"])
    unknown = [f for f, _ in specs if f not in meta["fields"]]
    if unknown:
        raise ValueError(f"fields not in index: {unknown}")

    if tie_breaker:
        if offset or filter_expr:
            raise ValueError(
                "tie_breaker does not combine with offset/filter_expr yet"
            )
        from sparkfts.booltree import bool_topk_batch
        from sparkfts.querybuilder import Clause, SearchRequest

        fspecs = tuple(fields if fields is not None else meta["fields"])
        reqs = [
            SearchRequest(
                clauses=(
                    Clause(
                        query=text,
                        fields=fspecs,
                        operator=mode,
                        fuzziness="0",
                        tie_breaker=float(tie_breaker),
                    ),
                ),
                k=int(k),
            )
            for _qid, text, k in queries
        ]
        qid_map = {rid: qid for rid, (qid, _t, _k) in enumerate(queries)}
        from sparkfts.index import lit_map

        qid_col = lit_map(qid_map.items())
        return (
            bool_topk_batch(spark, index_dir, reqs, multifield=True)
            .select(
                F.element_at(qid_col, F.col("request_id"))
                .cast("int")
                .alias("query_id"),
                "rank",
                "doc_id",
                "score",
            )
            .orderBy("query_id", "rank")
        )

    analyzed_k = [
        (qid, k + int(offset))
        for qid, text, k in queries
        if tokenize_query(text)
    ]
    if not analyzed_k:
        return _empty_results(spark)
    widened = [(qid, text, k + int(offset)) for qid, text, k in queries]

    per_field = [
        (
            bm25_index_batch(
                spark,
                field_dir(index_dir, fld),
                widened,
                mode=mode,
                filter_expr=filter_expr,
            ),
            boost,
        )
        for fld, boost in specs
    ]
    return _combine_best_fields(per_field, analyzed_k, offset)


def bm25_multifield_fuzzy_batch(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str, int]],
    fields: list[str] | None = None,
    mode: str = "and",
    max_expansions: int | None = None,
    offset: int = 0,
    transpositions: bool = False,
) -> DataFrame:
    """Fuzzy (AUTO) best-fields over a multi-field index — the
    reference's full query shape in one call (``multi_match`` over a
    field list WITH ``fuzziness: AUTO``, reference
    ElasticsearchToNeo4jSync.py:89-99). Per-field fuzzy expansion runs
    against each field's own term dictionary (a term can be a typo in
    one field and exact in another); combination is the same max rule,
    so the union-of-per-field-top-k containment argument carries over.
    """
    from sparkfts.analysis import tokenize_query
    from sparkfts.query import _empty_results, bm25_index_fuzzy_batch

    meta = read_mf_meta(index_dir)
    specs = parse_field_boosts(fields if fields is not None else meta["fields"])
    unknown = [f for f, _ in specs if f not in meta["fields"]]
    if unknown:
        raise ValueError(f"fields not in index: {unknown}")
    analyzed_k = [
        (qid, k + int(offset))
        for qid, text, k in queries
        if tokenize_query(text)
    ]
    if not analyzed_k:
        return _empty_results(spark)
    widened = [(qid, text, k + int(offset)) for qid, text, k in queries]
    per_field = [
        (
            bm25_index_fuzzy_batch(
                spark,
                field_dir(index_dir, fld),
                widened,
                mode=mode,
                max_expansions=max_expansions,
                transpositions=transpositions,
            ),
            boost,
        )
        for fld, boost in specs
    ]
    return _combine_best_fields(per_field, analyzed_k, offset)


def bm25_multifield_scan_batch(
    docs: DataFrame,
    fields: list[str],
    queries: list[tuple[int, str, int]],
    mode: str = "and",
    offset: int = 0,
) -> DataFrame:
    """Index-less best-fields baseline (the oracle slice): tokenize each
    field column on the fly, score per field, combine. Rank-identical to
    :func:`bm25_multifield_batch` over the same data (tested)."""
    from sparkfts.analysis import tokenize_query
    from sparkfts.query import _empty_results, bm25_scan_batch
    from sparkfts.stats import avgdl_of
    from sparkfts.tokens import tokenize_docs

    spark = docs.sparkSession
    specs = parse_field_boosts(fields)
    analyzed_k = [
        (qid, k + int(offset))
        for qid, text, k in queries
        if tokenize_query(text)
    ]
    if not analyzed_k:
        return _empty_results(spark)
    widened = [(qid, text, k + int(offset)) for qid, text, k in queries]

    n_docs = docs.count()
    per_field = []
    for fld, boost in specs:
        tokens = tokenize_docs(docs, text_col=fld)
        avgdl = avgdl_of(tokens, n_docs)
        per_field.append(
            (bm25_scan_batch(tokens, widened, n_docs, avgdl, mode=mode), boost)
        )
    return _combine_best_fields(per_field, analyzed_k, offset)


class MultiFieldSearcher:
    """Warm best-fields serving: one :class:`sparkfts.searcher.Searcher`
    per field, driver-side max combination of the per-field pages."""

    def __init__(self, spark: SparkSession, index_dir: str, **searcher_kw):
        from sparkfts.searcher import Searcher

        self.meta = read_mf_meta(index_dir)
        self.searchers = {
            f: Searcher(spark, field_dir(index_dir, f), **searcher_kw)
            for f in self.meta["fields"]
        }

    def search_rows(
        self,
        queries: list[tuple[int, str, int]],
        fields: list[str] | None = None,
        mode: str = "and",
        offset: int = 0,
    ) -> list[tuple[int, int, int, float]]:
        specs = parse_field_boosts(
            fields if fields is not None else self.meta["fields"]
        )
        widened = [(qid, text, k + int(offset)) for qid, text, k in queries]
        ks = {qid: k + int(offset) for qid, _, k in queries}
        best: dict[tuple[int, int], float] = {}
        for fld, boost in specs:
            rows = self.searchers[fld].search_rows(widened, mode=mode)
            for qid, _rank, doc_id, score in rows:
                key = (qid, doc_id)
                s = score * boost
                if key not in best or s > best[key]:
                    best[key] = s
        out: list[tuple[int, int, int, float]] = []
        by_qid: dict[int, list[tuple[float, int]]] = {}
        for (qid, doc_id), s in best.items():
            by_qid.setdefault(qid, []).append((s, doc_id))
        for qid, entries in by_qid.items():
            entries.sort(key=lambda e: (-e[0], e[1]))
            for rank0, (s, doc_id) in enumerate(entries[: ks[qid]]):
                if rank0 >= int(offset):
                    out.append((qid, rank0 + 1, doc_id, s))
        out.sort(key=lambda r: (r[0], r[1]))
        return out

    def warmup(self) -> int:
        return sum(s.warmup() for s in self.searchers.values())

    def close(self) -> None:
        for s in self.searchers.values():
            s.close()


# ---------------------------------------------------------------------------
# BM25F: combined-fields weighted scoring (ES ``combined_fields`` family)
# ---------------------------------------------------------------------------


def build_terms_any(spark: SparkSession, index_dir: str) -> None:
    """Write the COMBINED term dictionary ``terms_any(term, df_any,
    tbucket)`` under a multi-field index: ``df_any`` = number of docs
    containing the term in ANY field (the BM25F "combined document" df).

    Derived from the already-written per-field postings: per (term,
    shard) the kernel unions the decoded per-field doc_id runs and
    counts distinct; per-shard counts sum to the global df_any because
    each doc lives in exactly one shard. One pruned columnar scan per
    field (doc_ids blobs only), one small agg — build-time cost is a
    fraction of one field's index build.
    """
    import numpy as np
    import pandas as pd

    from sparkfts.index import load_postings

    mf = read_mf_meta(index_dir)
    parts = [
        load_postings(spark, field_dir(index_dir, fld)).select(
            "term", "shard", "doc_ids", "tbucket"
        )
        for fld in mf["fields"]
    ]
    from functools import reduce

    rows = reduce(lambda a, b: a.unionByName(b), parts)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        from sparkfts.codec import decode_varint, delta_decode

        by_term: dict[str, list] = {}
        tb: dict[str, int] = {}
        for _, r in pdf.iterrows():
            by_term.setdefault(r["term"], []).append(r["doc_ids"])
            tb[r["term"]] = int(r["tbucket"])
        out_t, out_c, out_b = [], [], []
        for t, blobs in by_term.items():
            ids = np.concatenate(
                [delta_decode(decode_varint(b)) for b in blobs]
            )
            out_t.append(t)
            out_c.append(int(np.unique(ids).size))
            out_b.append(tb[t])
        return pd.DataFrame(
            {"term": out_t, "df_shard_any": out_c, "tbucket": out_b}
        )

    per_shard = rows.groupby("shard").applyInPandas(
        lambda pdf: kernel(pdf),
        "term string, df_shard_any long, tbucket int",
    )
    terms_any = per_shard.groupBy("term").agg(
        F.sum("df_shard_any").alias("df_any"),
        F.first("tbucket").alias("tbucket"),
    )
    n_tbuckets = max(int(mf.get("n_tbuckets", 0)) or 16, 1)
    (
        terms_any.repartition(n_tbuckets, "tbucket")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .partitionBy("tbucket")
        .parquet(os.path.join(index_dir, "terms_any"))
    )


def load_terms_any(spark: SparkSession, index_dir: str) -> DataFrame:
    """Combined dictionary -> (term, df_any, tbucket); auto-built once."""
    path = os.path.join(index_dir, "terms_any")
    if not os.path.isdir(path):
        build_terms_any(spark, index_dir)
    return spark.read.schema("term string, df_any long, tbucket int").parquet(
        path
    )


def _make_bm25f_scorer(
    queries_analyzed: list[tuple[int, list[str], int]],
    idf_any: dict[str, float],
    specs: list[tuple[str, float]],
    avgdl_by_field: dict[str, float],
    mode: str,
    exclude=None,
):
    """Kernel: BM25F-score ALL queries against ONE shard (all fields'
    pruned postings arrive together, tagged by ``field``).

    Per query term: union docs across fields, fold per-field weighted
    normalized tf into ``tfc`` in field-spec order, saturate once
    globally — then the per-term (ids, values) pairs combine across
    terms with the existing grouped kernel
    (:func:`sparkfts.wand.score_grouped`), AND = posting intersection,
    OR = union sum. Spec + fold orders pinned to :mod:`oracle.bm25f`.
    """
    import numpy as np
    import pandas as pd

    from sparkfts import BM25_B, BM25_K1
    from sparkfts.wand import score_grouped

    k1, b = BM25_K1, BM25_B

    def scorer(pdf: pd.DataFrame) -> pd.DataFrame:
        out_qid, out_doc, out_score = [], [], []
        if len(pdf):
            from sparkfts.codec import decode_varint, delta_decode

            # (field, term) -> concatenated sorted runs
            raw: dict[tuple[str, str], list] = {}
            for _, r in pdf.iterrows():
                raw.setdefault((r["field"], r["term"]), []).append(r)
            decoded: dict[tuple[str, str], tuple] = {}

            def postings_of(fld: str, term: str):
                key = (fld, term)
                if key not in decoded:
                    rs = raw.get(key)
                    if not rs:
                        decoded[key] = None
                    else:
                        ids = np.concatenate(
                            [
                                delta_decode(decode_varint(r["doc_ids"]))
                                for r in rs
                            ]
                        ).astype(np.int64)
                        tfs = np.concatenate(
                            [decode_varint(r["tfs"]) for r in rs]
                        )
                        dls = np.concatenate(
                            [decode_varint(r["doclens"]) for r in rs]
                        )
                        order = np.argsort(ids, kind="stable")
                        ids, tfs, dls = ids[order], tfs[order], dls[order]
                        if ids.size > 1:
                            # a doc_id can repeat across uncompacted
                            # segments (re-crawl before merge); keep ONE
                            # entry per doc so np.add.at folds its tf
                            # into tfc once — matching build_terms_any's
                            # np.unique df_any semantics (supersede
                            # resolution itself is merge's job)
                            keep = np.ones(ids.size, bool)
                            keep[1:] = ids[1:] != ids[:-1]
                            ids, tfs, dls = ids[keep], tfs[keep], dls[keep]
                        decoded[key] = (ids, tfs, dls)
                return decoded[key]

            group_cache: dict[str, tuple] = {}

            def term_group(t: str):
                """(union_ids, scored values) for one query term."""
                if t not in group_cache:
                    entries = []
                    for fld, w in specs:  # field-spec order (pinned)
                        p = postings_of(fld, t)
                        if p is not None and p[0].size:
                            entries.append((p, w, avgdl_by_field[fld]))
                    if not entries:
                        group_cache[t] = (
                            np.empty(0, np.int64),
                            np.empty(0, np.float64),
                        )
                    else:
                        union = np.unique(
                            np.concatenate([p[0] for p, _, _ in entries])
                        )
                        tfc = np.zeros(union.size, np.float64)
                        for (ids, tfs, dls), w, av in entries:
                            denom = 1.0 - b + b * (
                                dls.astype(np.float64) / av
                            )
                            contrib = w * (tfs.astype(np.float64) / denom)
                            np.add.at(
                                tfc, np.searchsorted(union, ids), contrib
                            )
                        val = (
                            idf_any.get(t, 0.0)
                            * (tfc / (k1 + tfc))
                            * (k1 + 1.0)
                        )
                        group_cache[t] = (union, val)
                return group_cache[t]

            for qid, terms, k in queries_analyzed:
                groups = [term_group(t) for t in terms]  # sorted order
                ids, scores = score_grouped(
                    groups, k, mode, exclude=exclude
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


def bm25f_batch(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str, int]],
    fields: list[str] | None = None,
    mode: str = "and",
    offset: int = 0,
) -> DataFrame:
    """BM25F top-k from a multi-field index (pinned spec:
    :mod:`oracle.bm25f` — per-field length-normalized tfs combine
    BEFORE saturation, idf over any-field df; ES ``combined_fields``
    family, vs :func:`bm25_multifield_batch`'s best-fields max).

    Plan: combined-dictionary df collect (tiny) -> per-field pruned
    postings scans unioned with a field tag -> one grouped kernel per
    shard -> global window top-k. Same zero-wide-shuffle shape as the
    single-field index query.
    """
    from sparkfts.analysis import tokenize_query
    from sparkfts.index import load_postings, term_bucket
    from sparkfts.query import _empty_results

    meta = read_mf_meta(index_dir)
    specs = parse_field_boosts(fields if fields is not None else meta["fields"])
    unknown = [f for f, _ in specs if f not in meta["fields"]]
    if unknown:
        raise ValueError(f"fields not in index: {unknown}")

    from sparkfts.analysis import analysis_opts
    from sparkfts.index import read_meta as _read_meta

    sw, stem = analysis_opts(_read_meta(field_dir(index_dir, specs[0][0])))
    analyzed = [
        (qid, tokenize_query(text, sw, stem), k) for qid, text, k in queries
    ]
    analyzed = [(qid, t, k + int(offset)) for qid, t, k in analyzed if t]
    if not analyzed or meta["n_docs"] == 0:
        return _empty_results(spark)

    all_terms = sorted({t for _, terms, _ in analyzed for t in terms})
    # n_tbuckets from the first field's sub-index meta (same for all)
    from sparkfts.index import read_meta

    f0_meta = read_meta(field_dir(index_dir, specs[0][0]))
    n_tbuckets = f0_meta["n_tbuckets"]
    buckets = sorted({term_bucket(t, n_tbuckets) for t in all_terms})

    df_rows = (
        load_terms_any(spark, index_dir)
        .where(F.col("tbucket").isin(buckets) & F.col("term").isin(all_terms))
        .select("term", "df_any")
        .collect()
    )
    from sparkfts.stats import idf as idf_fn

    idf_any = {
        r["term"]: idf_fn(meta["n_docs"], int(r["df_any"])) for r in df_rows
    }
    avgdl_by_field = {
        f: meta["per_field"][f]["avgdl"] for f, _ in specs
    }

    parts = []
    tombs = []
    from sparkfts.deletes import load_tombstones

    for fld, _w in specs:
        fdir = field_dir(index_dir, fld)
        from sparkfts.index import in_list

        parts.append(
            load_postings(spark, fdir)
            .where(in_list("tbucket", buckets) & in_list("term", all_terms))
            .select(
                "term", "shard", "doc_ids", "tfs", "doclens",
                F.lit(fld).alias("field"),
            )
        )
        t = load_tombstones(spark, fdir)
        if t is not None:
            tombs.append(t)
    from functools import reduce

    rows = reduce(lambda a, b: a.unionByName(b), parts)
    import numpy as np

    exclude = (
        np.unique(np.concatenate(tombs)) if tombs else None
    )
    scorer = _make_bm25f_scorer(
        analyzed, idf_any, specs, avgdl_by_field, mode, exclude=exclude
    )
    local = rows.groupby("shard").applyInPandas(
        lambda pdf: scorer(pdf), "query_id int, doc_id long, score double"
    )
    from sparkfts.index import lit_map

    k_map = lit_map((qid, k) for qid, _, k in analyzed)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        local.withColumn("rank", F.row_number().over(w))
        .where(
            (F.col("rank") <= F.element_at(k_map, F.col("query_id")))
            & (F.col("rank") > F.lit(int(offset)))
        )
        .select("query_id", F.col("rank").cast("int"), "doc_id", "score")
        .orderBy("query_id", "rank")
    )


def bm25_most_fields_batch(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str, int]],
    fields: list[str] | None = None,
    mode: str = "and",
) -> DataFrame:
    """ES ``multi_match`` ``type: most_fields``: combined score = SUM
    of every matching field's score (boosts included) — "more fields
    matching is better", vs best_fields' max.

    Identity (ES-documented): most_fields == dis_max with
    ``tie_breaker=1.0`` (best + 1.0 * all others = plain sum), so this
    is a pinned alias onto :func:`bm25_multifield_batch`'s exact
    tie_breaker path — the single-pass bool-tree kernel holding
    complete per-shard per-field match sets, where the
    union-of-per-field-top-k pruning proof (which sum-combining
    breaks) is never needed.

    Reference parity: the reference's multi_match call
    (ElasticsearchToNeo4jSync.py:92-99) uses ES's default best_fields;
    most_fields is the adjacent ES surface a user switching engines
    expects."""
    return bm25_multifield_batch(
        spark, index_dir, queries, fields=fields, mode=mode,
        tie_breaker=1.0,
    )
