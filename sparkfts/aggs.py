"""Search aggregations: ES ``terms`` facet over the matching doc set.

ES runs aggregations over ALL documents matching the query (not the
top-k page). The equivalent here: a score-free match kernel (posting
intersection/union only — no tf decode, no scoring, no heap) produces
``(query_id, doc_id)`` for every match, then the facet is one join to a
doc-values table + groupBy(count). ES keeps field doc-values inside the
index; here the caller passes any ``(doc_id, <field>)`` DataFrame (the
corpus table itself, or a docmap enriched at build time) — same join
either way, and the engine stays storage-agnostic.

Facet ordering pins ES's: count desc, then key asc.
"""

from __future__ import annotations

import math

from sparkfts.session import session_cores as _session_cores

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkfts.analysis import analysis_opts, tokenize_query


def _make_match_kernel(
    queries_analyzed: list[tuple[int, list[str]]],
    mode: str,
    exclude=None,
):
    """Kernel: emit (query_id, doc_id) for every matching doc in a shard.

    Decodes ONLY the doc_id streams (tfs/doclens stay compressed — the
    facet path never touches them).
    """
    from sparkfts.codec import decode_varint, delta_decode

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        out_qid: list[np.ndarray] = []
        out_doc: list[np.ndarray] = []
        if len(pdf):
            by_term: dict[str, list[np.ndarray]] = {}
            for _, r in pdf.iterrows():
                ids = delta_decode(decode_varint(r["doc_ids"])).astype(
                    np.int64
                )
                by_term.setdefault(r["term"], []).append(ids)
            # np.unique (not just sort): a doc_id can appear in multiple
            # uncompacted segments (re-crawl before merge); without dedup
            # the AND intersection would emit it once per segment and
            # inflate facet doc_counts. Facets never need tf, so dedup is
            # free here. Single-run lists are already sorted + unique
            # within a segment.
            decoded = {
                t: (
                    runs[0]
                    if len(runs) == 1
                    else np.unique(np.concatenate(runs))
                )
                for t, runs in by_term.items()
            }
            for qid, terms in queries_analyzed:
                lists = [decoded.get(t) for t in terms]
                if mode == "and":
                    if any(x is None or x.size == 0 for x in lists):
                        continue
                    lists.sort(key=lambda x: x.size)
                    cur = lists[0]
                    for other in lists[1:]:
                        if cur.size == 0:
                            break
                        pos = np.searchsorted(other, cur)
                        pos[pos >= other.size] = other.size - 1
                        cur = cur[other[pos] == cur]
                else:
                    parts = [x for x in lists if x is not None and x.size]
                    cur = (
                        np.unique(np.concatenate(parts))
                        if parts
                        else np.empty(0, np.int64)
                    )
                if cur.size and exclude is not None and exclude.size:
                    from sparkfts.wand import exclude_mask

                    cur = cur[exclude_mask(cur, exclude)]
                if cur.size:
                    out_qid.append(np.full(cur.size, qid, np.int32))
                    out_doc.append(cur)
        if not out_qid:
            return pd.DataFrame(
                {
                    "query_id": pd.Series([], dtype="int32"),
                    "doc_id": pd.Series([], dtype="int64"),
                }
            )
        return pd.DataFrame(
            {
                "query_id": np.concatenate(out_qid),
                "doc_id": np.concatenate(out_doc),
            }
        )

    return kernel


def match_docs_batch(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    mode: str = "and",
) -> DataFrame:
    """All matching ``(query_id, doc_id)`` for each query — no scores,
    no top-k. Plan: tbucket-pruned, term-pushed postings scan reading
    ONLY the doc_ids blobs (column pruning drops tfs/doclens),
    per-shard set kernel, no global shuffle."""
    from sparkfts.index import load_postings, read_meta, term_bucket

    meta = read_meta(index_dir)
    sw, stem = analysis_opts(meta)
    analyzed = [(qid, tokenize_query(text, sw, stem)) for qid, text in queries]
    analyzed = [(qid, t) for qid, t in analyzed if t]
    if not analyzed or meta["n_docs"] == 0:
        return spark.createDataFrame([], "query_id int, doc_id long")

    from sparkfts.index import in_list

    all_terms = sorted({t for _, terms in analyzed for t in terms})
    buckets = sorted({term_bucket(t, meta["n_tbuckets"]) for t in all_terms})
    postings = (
        load_postings(spark, index_dir)
        .where(in_list("tbucket", buckets) & in_list("term", all_terms))
        .select("term", "shard", "doc_ids")
        .coalesce(_session_cores(spark))
    )
    from sparkfts.deletes import load_tombstones

    kernel = _make_match_kernel(
        analyzed, mode, exclude=load_tombstones(spark, index_dir)
    )
    return postings.groupby("shard").applyInPandas(
        lambda pdf: kernel(pdf), "query_id int, doc_id long"
    )


def count_matches(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    mode: str = "and",
) -> DataFrame:
    """ES ``_count`` -> (query_id, doc_count): how many docs match,
    no scoring, no page. Every query in the batch gets a row (0 when
    nothing matches — ES's contract). Plan: the per-shard match kernel
    plus a partial-aggregated count, so only per-(query, partition)
    scalars cross the exchange; the match set itself is never shuffled
    or collected."""
    matched = match_docs_batch(spark, index_dir, queries, mode)
    counts = matched.groupBy("query_id").agg(
        F.count("*").alias("doc_count")
    )
    qids = spark.createDataFrame(
        [(int(qid),) for qid, _ in queries], "query_id int"
    ).distinct()
    return (
        qids.join(counts, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("doc_count"), F.lit(0))
            .cast("long")
            .alias("doc_count"),
        )
        .orderBy("query_id")
    )


def terms_facet(
    spark: SparkSession,
    index_dir: str,
    query: str,
    doc_values: DataFrame,
    field: str,
    mode: str = "and",
    size: int = 10,
) -> DataFrame:
    """ES ``terms`` aggregation -> (value, doc_count), count desc, key asc.

    ``doc_values``: any (doc_id, <field>) DataFrame. The matched-id set
    joins it (broadcast when small via AQE) and one partial-aggregated
    groupBy produces the buckets; ``orderBy().limit(size)`` is a
    TakeOrdered, no full sort.
    """
    matched = match_docs_batch(spark, index_dir, [(0, query)], mode)
    return (
        matched.join(doc_values.select("doc_id", field), "doc_id")
        .groupBy(F.col(field).alias("value"))
        .agg(F.count("*").alias("doc_count"))
        .orderBy(F.desc("doc_count"), F.asc("value"))
        .limit(size)
    )


def terms_facet_approx(
    spark: SparkSession,
    index_dir: str,
    query: str,
    doc_values: DataFrame,
    field: str,
    mode: str = "and",
    size: int = 10,
    shard_size: int | None = None,
) -> DataFrame:
    """ES-style approximate ``terms`` aggregation: per-shard top-N +
    coordinator merge -> (value, doc_count, doc_count_error_upper_bound).

    What ES actually does for head terms: each shard reports only its
    local top ``shard_size`` buckets (ES default ``size * 1.5 + 10``);
    the merge sums per-value counts across shards. A value a shard
    truncated may be under-counted by at most that shard's LAST reported
    count — summed over non-reporting shards this is the returned
    ``doc_count_error_upper_bound`` (exactly ES's bound). With
    ``shard_size`` >= the field's distinct-value count nothing truncates,
    the bound is 0, and results equal :func:`terms_facet` (tested).

    Scale shape vs the exact facet: the value-merge shuffle carries at
    most ``n_shards * shard_size`` rows instead of
    ``n_shards * distinct_values`` — the win for high-cardinality fields
    (hosts, domains) under head-term queries. The per-shard counting
    itself stays map-side (partial agg on the shard-partitioned join).
    """
    from sparkfts.index import read_meta

    meta = read_meta(index_dir)
    if shard_size is None:
        shard_size = int(size * 1.5 + 10)  # ES default heuristic
    matched = match_docs_batch(spark, index_dir, [(0, query)], mode)
    # shard is derivable from doc_id (the build's doc-space salt), so
    # per-shard counting needs no extra lookup
    per_shard = (
        matched.withColumn(
            "shard",
            F.pmod(F.col("doc_id"), F.lit(meta["n_shards"])).cast("int"),
        )
        .join(doc_values.select("doc_id", field), "doc_id")
        .groupBy("shard", F.col(field).alias("value"))
        .agg(F.count("*").alias("cnt"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("shard").orderBy(F.desc("cnt"), F.asc("value"))
    ranked = per_shard.withColumn("rn", F.row_number().over(w))
    kept = ranked.where(F.col("rn") <= F.lit(int(shard_size)))
    # per-shard truncation floor: the last KEPT count, but only for
    # shards that actually truncated (rn reached shard_size and more
    # buckets existed) — n_shards rows, driver-side merge is trivial
    shard_stats = (
        ranked.groupBy("shard")
        .agg(
            F.max("rn").alias("n_buckets"),
            F.min(
                F.when(F.col("rn") == F.lit(int(shard_size)), F.col("cnt"))
            ).alias("floor_cnt"),
        )
        .collect()
    )
    floors = {
        int(r["shard"]): int(r["floor_cnt"])
        for r in shard_stats
        if r["n_buckets"] > int(shard_size) and r["floor_cnt"] is not None
    }
    merged = kept.groupBy("value").agg(
        F.sum("cnt").alias("doc_count"),
        F.collect_set("shard").alias("shards_reporting"),
    )
    if floors:
        from sparkfts.index import lit_map

        floor_map = lit_map(floors.items())
        err = F.aggregate(
            F.filter(
                F.array([F.lit(s) for s in sorted(floors)]),
                lambda s: ~F.array_contains(F.col("shards_reporting"), s),
            ),
            F.lit(0).cast("long"),
            lambda acc, s: acc + F.element_at(floor_map, s),
        )
    else:
        err = F.lit(0).cast("long")
    return (
        merged.select(
            "value",
            F.col("doc_count").cast("long").alias("doc_count"),
            err.alias("doc_count_error_upper_bound"),
        )
        .orderBy(F.desc("doc_count"), F.asc("value"))
        .limit(size)
    )


def stats_agg(
    spark: SparkSession,
    index_dir: str,
    query: str,
    doc_values: DataFrame,
    field: str,
    mode: str = "and",
) -> DataFrame:
    """ES ``stats`` aggregation over the FULL match set -> one row
    (count, min, max, sum, avg) of a numeric doc value.

    Same plan family as :func:`terms_facet`: score-free match kernel ->
    join to doc values -> one partial-aggregated global agg (map-side
    combine; a single scalar row crosses the final exchange).
    """
    matched = match_docs_batch(spark, index_dir, [(0, query)], mode)
    c = F.col(field).cast("double")
    return matched.join(doc_values.select("doc_id", field), "doc_id").agg(
        F.count("*").alias("count"),
        F.min(c).alias("min"),
        F.max(c).alias("max"),
        F.sum(c).alias("sum"),
        F.avg(c).alias("avg"),
    )


def histogram_facet(
    spark: SparkSession,
    index_dir: str,
    query: str,
    doc_values: DataFrame,
    field: str,
    interval: float,
    mode: str = "and",
    min_doc_count: int = 1,
    extended_bounds: tuple[float, float] | None = None,
) -> DataFrame:
    """ES ``histogram`` aggregation -> (bucket, doc_count), bucket asc.

    ES bucket key: ``floor(value / interval) * interval`` (fixed-width
    buckets anchored at 0). Defaults match ES: ``min_doc_count=1``
    omits empty buckets; ``min_doc_count=0`` fills the ladder between
    the outermost populated buckets with zero buckets, and
    ``extended_bounds=(lo, hi)`` widens that ladder to at least
    [lo, hi] regardless of data (the Kibana dense-axis contract).
    ``min_doc_count > 1`` prunes sparse buckets after counting.

    Scale shape: grouped count partial-aggregates map-side; only
    (partitions x buckets) rows shuffle. The dense ladder is generated
    from ONE 1-row bounds reduce + ``sequence()`` explode (bounded by
    bucket count, never doc count) and joined back broadcast-side.
    """
    if interval <= 0:
        raise ValueError("interval must be > 0")
    if min_doc_count < 0:
        raise ValueError("min_doc_count must be >= 0")
    matched = match_docs_batch(spark, index_dir, [(0, query)], mode)
    bidx = F.floor(
        F.col(field).cast("double") / F.lit(float(interval))
    ).alias("_bidx")
    counts = (
        matched.join(doc_values.select("doc_id", field), "doc_id")
        .groupBy(bidx)
        .agg(F.count("*").alias("doc_count"))
    )
    if min_doc_count == 0:
        lo = F.min("_bidx")
        hi = F.max("_bidx")
        if extended_bounds is not None:
            elo, ehi = extended_bounds
            if ehi < elo:
                raise ValueError("extended_bounds must be (lo, hi)")
            lo = F.least(
                lo, F.lit(int(math.floor(float(elo) / float(interval))))
            )
            hi = F.greatest(
                hi, F.lit(int(math.floor(float(ehi) / float(interval))))
            )
        ladder = counts.agg(lo.alias("_lo"), hi.alias("_hi")).select(
            F.explode(F.sequence("_lo", "_hi")).alias("_bidx")
        )
        counts = ladder.join(counts, "_bidx", "left").na.fill(
            {"doc_count": 0}
        )
    elif min_doc_count > 1:
        counts = counts.where(
            F.col("doc_count") >= F.lit(int(min_doc_count))
        )
    return counts.select(
        (F.col("_bidx") * F.lit(float(interval))).alias("bucket"),
        "doc_count",
    ).orderBy(F.asc("bucket"))


def cardinality_agg(
    spark: SparkSession,
    index_dir: str,
    query: str,
    doc_values: DataFrame,
    field: str,
    mode: str = "and",
) -> DataFrame:
    """ES ``cardinality`` aggregation, EXACT variant -> one row
    (cardinality). ES approximates with HyperLogLog++; this engine pins
    the exact distinct count (deterministic, oracle-checkable) — swap in
    ``F.approx_count_distinct`` for the HLL trade at extreme
    cardinalities; the plan shape (partial-aggregated distinct) is the
    same either way."""
    matched = match_docs_batch(spark, index_dir, [(0, query)], mode)
    return matched.join(doc_values.select("doc_id", field), "doc_id").agg(
        F.countDistinct(field).cast("long").alias("cardinality")
    )


def percentiles_agg(
    spark: SparkSession,
    index_dir: str,
    query: str,
    doc_values: DataFrame,
    field: str,
    percentiles: list[float] | None = None,
    mode: str = "and",
) -> DataFrame:
    """ES ``percentiles`` aggregation, EXACT variant -> one row per
    requested percentile (pct, value). ES approximates with t-digest;
    this pins exact linear-interpolated percentiles (SQL
    ``percentile_cont`` semantics, which DuckDB's ``quantile_cont``
    reproduces bit-for-bit). The exact percentile is a sort-based agg —
    fine for match-set-sized inputs; at extreme match sizes swap
    ``F.percentile_approx`` with the same output shape."""
    pcts = percentiles if percentiles is not None else [25.0, 50.0, 75.0, 95.0]
    matched = match_docs_batch(spark, index_dir, [(0, query)], mode)
    joined = matched.join(doc_values.select("doc_id", field), "doc_id")
    vals = joined.agg(
        F.percentile(
            F.col(field).cast("double"),
            F.array(*[F.lit(p / 100.0) for p in pcts]),
        ).alias("vals")
    )
    pct_arr = F.array(*[F.lit(float(p)) for p in pcts])
    return vals.select(
        F.explode(F.arrays_zip(pct_arr.alias("pct"), F.col("vals").alias("value"))).alias("z")
    ).select(
        F.col("z.pct").alias("pct"), F.col("z.value").alias("value")
    )


def percentiles_approx_agg(
    spark: SparkSession,
    index_dir: str,
    query: str,
    doc_values: DataFrame,
    field: str,
    percentiles: list[float] | None = None,
    mode: str = "and",
    accuracy: int = 10_000,
) -> DataFrame:
    """ES ``percentiles`` aggregation, APPROXIMATE variant — the shape
    ES actually ships (t-digest) and the one that survives 100 TB:
    :func:`percentiles_agg`'s exact interpolation needs a full sort of
    the match set, which at 10^11-row match sets is the job's dominant
    shuffle; this variant uses Spark's built-in Greenwald-Khanna sketch
    (``percentile_approx``) — mergeable partial aggregates, one pass,
    bounded memory per partition.

    Error contract (GK, not t-digest — pinned): the returned value's
    RANK differs from the true percentile rank by at most
    ``n / accuracy`` rows.  No DuckDB oracle entry (DuckDB's
    ``approx_quantile`` is a different sketch; cross-engine
    hash-equality is impossible by construction) — tests pin the rank
    error bound against the exact variant instead, the
    terms_facet_approx precedent.  Output shape matches
    :func:`percentiles_agg` exactly, so callers can swap at a size
    threshold."""
    pcts = percentiles if percentiles is not None else [25.0, 50.0, 75.0, 95.0]
    matched = match_docs_batch(spark, index_dir, [(0, query)], mode)
    joined = matched.join(doc_values.select("doc_id", field), "doc_id")
    vals = joined.agg(
        F.percentile_approx(
            F.col(field).cast("double"),
            F.array(*[F.lit(p / 100.0) for p in pcts]),
            F.lit(int(accuracy)),
        ).alias("vals")
    )
    pct_arr = F.array(*[F.lit(float(p)) for p in pcts])
    return vals.select(
        F.explode(
            F.arrays_zip(pct_arr.alias("pct"), F.col("vals").alias("value"))
        ).alias("z")
    ).select(
        F.col("z.pct").alias("pct"), F.col("z.value").alias("value")
    )


def percentile_ranks_agg(
    spark: SparkSession,
    index_dir: str,
    query: str,
    doc_values: DataFrame,
    field: str,
    values: list[float],
    mode: str = "and",
) -> DataFrame:
    """ES ``percentile_ranks`` aggregation -> one row per requested
    value (value, rank_e6): what percent of the matched docs' field
    values are <= the given value, as percent*1e6. ES approximates
    with t-digest; this pins the exact CDF definition in pure integer
    arithmetic (``cnt_le * 100_000_000 div n``), bit-identical in the
    DuckDB oracle. One conditional-sum pass over the matched-join
    frame — a single scalar row crosses the exchange."""
    if not values:
        raise ValueError("values must be non-empty")
    matched = match_docs_batch(spark, index_dir, [(0, query)], mode)
    joined = matched.join(doc_values.select("doc_id", field), "doc_id")
    aggs = [F.count("*").alias("n")] + [
        F.sum(
            F.when(F.col(field) <= F.lit(v), 1).otherwise(0)
        ).cast("long").alias(f"le_{i}")
        for i, v in enumerate(values)
    ]
    row = joined.agg(*aggs)
    pairs = F.array(
        *[
            F.struct(
                F.lit(float(v)).alias("value"),
                F.expr(
                    f"le_{i} * 100000000 div greatest(n, 1)"
                ).alias("rank_e6"),
            )
            for i, v in enumerate(values)
        ]
    )
    return row.select(F.explode(pairs).alias("z")).select(
        F.col("z.value").alias("value"),
        F.col("z.rank_e6").alias("rank_e6"),
    )


def range_agg(
    spark: SparkSession,
    index_dir: str,
    query: str,
    doc_values: DataFrame,
    field: str,
    ranges: list[tuple[str, float | None, float | None]],
    mode: str = "and",
) -> DataFrame:
    """ES ``range`` aggregation -> (key, doc_count), one row per
    requested range IN THE REQUESTED ORDER (ES returns every range,
    zero-count included).

    ``ranges``: (key, from_, to_) with ``None`` for an open end;
    ``from`` inclusive, ``to`` exclusive (ES semantics). Keys are
    caller-supplied (ES's per-range ``key``) so no float formatting is
    pinned. One pass: each range is a conditional partial-aggregated
    sum over the matched-join frame — no per-range scan, no extra
    shuffle beyond the single global agg.
    """
    if not ranges:
        raise ValueError("ranges must be non-empty")
    matched = match_docs_batch(spark, index_dir, [(0, query)], mode)
    v = F.col(field).cast("double")
    joined = matched.join(doc_values.select("doc_id", field), "doc_id")
    conds = []
    for key, lo, hi in ranges:
        c = F.lit(True)
        if lo is not None:
            c = c & (v >= F.lit(float(lo)))
        if hi is not None:
            c = c & (v < F.lit(float(hi)))
        conds.append(
            F.coalesce(
                F.sum(F.when(c, F.lit(1)).otherwise(F.lit(0))), F.lit(0)
            ).alias(f"_r{len(conds)}")
        )
    row = joined.agg(*conds)
    # unpivot the single row into (key, doc_count), preserving order
    pairs = F.array(*[
        F.struct(
            F.lit(key).alias("key"),
            F.col(f"_r{i}").cast("long").alias("doc_count"),
        )
        for i, (key, _, _) in enumerate(ranges)
    ])
    return row.select(F.explode(pairs).alias("b")).select(
        F.col("b.key").alias("key"), F.col("b.doc_count").alias("doc_count")
    )


def filters_agg(
    spark: SparkSession,
    index_dir: str,
    query: str,
    doc_values: DataFrame,
    filters: list[tuple[str, str]],
    mode: str = "and",
    other_bucket: bool = False,
) -> DataFrame:
    """ES ``filters`` aggregation -> (key, doc_count): one NAMED bucket
    per SQL predicate over the matched docs' doc values, every bucket
    reported (zero-count included) in request order. Buckets may
    overlap (a doc can satisfy several predicates — ES semantics, not a
    partition). ``other_bucket=True`` appends ES's ``_other_`` bucket:
    matched docs satisfying NONE of the predicates.

    Same one-pass shape as :func:`range_agg`: each bucket is a
    conditional partial-aggregated sum over the matched-join frame —
    one scalar row crosses the final exchange regardless of corpus
    size.
    """
    if not filters:
        raise ValueError("filters must be non-empty")
    keys = [k for k, _ in filters]
    if len(set(keys)) != len(keys):
        raise ValueError(f"duplicate filter keys: {keys}")
    matched = match_docs_batch(spark, index_dir, [(0, query)], mode)
    joined = matched.join(doc_values, "doc_id")
    conds = [F.expr(pred) for _, pred in filters]
    aggs = [
        F.coalesce(
            F.sum(F.when(c, F.lit(1)).otherwise(F.lit(0))), F.lit(0)
        ).alias(f"_f{i}")
        for i, c in enumerate(conds)
    ]
    out_keys = list(keys)
    if other_bucket:
        none_match = ~conds[0]
        for c in conds[1:]:
            none_match = none_match & ~c
        # a NULL predicate result is "did not match" for every bucket,
        # so _other_ must count it: coalesce the negated conjunction
        aggs.append(
            F.coalesce(
                F.sum(
                    F.when(
                        F.coalesce(none_match, F.lit(True)), F.lit(1)
                    ).otherwise(F.lit(0))
                ),
                F.lit(0),
            ).alias(f"_f{len(conds)}")
        )
        out_keys.append("_other_")
    row = joined.agg(*aggs)
    pairs = F.array(*[
        F.struct(
            F.lit(k).alias("key"),
            F.col(f"_f{i}").cast("long").alias("doc_count"),
        )
        for i, k in enumerate(out_keys)
    ])
    return row.select(F.explode(pairs).alias("b")).select(
        F.col("b.key").alias("key"), F.col("b.doc_count").alias("doc_count")
    )


def missing_agg(
    spark: SparkSession,
    index_dir: str,
    query: str,
    doc_values: DataFrame,
    field: str,
    mode: str = "and",
) -> DataFrame:
    """ES ``missing`` aggregation -> one row (doc_count): matched docs
    with NO value for ``field`` — NULL in the doc-values frame, or
    absent from it entirely (left join), which is exactly ES's
    missing-docvalue semantics."""
    matched = match_docs_batch(spark, index_dir, [(0, query)], mode)
    joined = matched.join(
        doc_values.select("doc_id", field), "doc_id", "left"
    )
    return joined.agg(
        F.coalesce(
            F.sum(
                F.when(F.col(field).isNull(), F.lit(1)).otherwise(F.lit(0))
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("doc_count")
    )


def composite_agg(
    spark: SparkSession,
    index_dir: str,
    query: str,
    doc_values: DataFrame,
    sources: list[tuple[str, str, str, float | None]],
    size: int = 10,
    after: dict | None = None,
    mode: str = "and",
) -> DataFrame:
    """ES ``composite`` aggregation: PAGINATED multi-source buckets ->
    (<source names...>, doc_count), ordered by source values ascending,
    ``size`` buckets per page, resumable via ``after``.

    ``sources``: (name, kind, field, interval) with kind ``"terms"``
    (interval ignored) or ``"histogram"`` (ES bucket
    ``floor(value/interval)*interval``). ``after``: {name: value} — the
    previous page's last bucket key; strictly-greater buckets (
    lexicographic over the source tuple) form the next page. Docs with a
    null source value are excluded (ES default ``missing_bucket:
    false``).

    This is ES's scalable alternative to deep ``terms`` facets — and the
    plan matches: one partial-aggregated groupBy over the matched join,
    then ``orderBy(keys).limit(size)`` (a TakeOrdered: per-partition
    top-``size`` + a size-row driver merge, no full sort, page cost
    independent of total bucket count).
    """
    if not sources:
        raise ValueError("sources must be non-empty")
    matched = match_docs_batch(spark, index_dir, [(0, query)], mode)
    fields = sorted({f for _, _, f, _ in sources})
    joined = matched.join(doc_values.select("doc_id", *fields), "doc_id")
    keycols = []
    for name, kind, field, interval in sources:
        if kind == "terms":
            keycols.append(F.col(field).alias(name))
        elif kind == "histogram":
            if not interval or interval <= 0:
                raise ValueError("histogram source needs interval > 0")
            keycols.append(
                (
                    F.floor(F.col(field).cast("double") / F.lit(float(interval)))
                    * F.lit(float(interval))
                ).alias(name)
            )
        else:
            raise ValueError(f"unknown source kind {kind!r}")
    names = [name for name, *_ in sources]
    notnull = F.lit(True)
    for n in names:
        notnull = notnull & F.col(n).isNotNull()
    buckets = (
        joined.select(*keycols)
        .where(notnull)
        .groupBy(*names)
        .agg(F.count("*").alias("doc_count"))
    )
    if after:
        # lexicographic (k1, k2, ...) > after: OR-chain of prefix
        # equalities — evaluates inside the agg's output, no extra scan
        clauses = []
        for i, n in enumerate(names):
            c = F.col(n) > F.lit(after[n])
            for prev in names[:i]:
                c = c & (F.col(prev) == F.lit(after[prev]))
            clauses.append(c)
        pred = clauses[0]
        for c in clauses[1:]:
            pred = pred | c
        buckets = buckets.where(pred)
    return buckets.orderBy(*[F.asc(n) for n in names]).limit(int(size))


def terms_stats_nested(
    spark: SparkSession,
    index_dir: str,
    query: str,
    doc_values: DataFrame,
    bucket_field: str,
    metric_field: str,
    mode: str = "and",
    size: int = 10,
    order_by: str = "doc_count",
    order_dir: str = "desc",
) -> DataFrame:
    """ES sub-aggregation: ``terms`` buckets with a nested ``stats``
    per bucket -> (value, doc_count, min, max, sum, avg), ordered
    count desc then key asc, top ``size`` buckets — the shape behind
    every Kibana "top categories with per-category metrics" panel.

    ``order_by`` / ``order_dir``: ES's ``order: {"stats.avg": "desc"}``
    — rank buckets by any computed column (doc_count, min, max, sum,
    avg) in either direction, ties broken by key asc. Same plan, the
    TakeOrdered just keys on the metric.

    Composition layer over the same matched-join frame as
    :func:`terms_facet`: the score-free match kernel produces
    (query_id, doc_id); ONE join to the doc-values table and ONE
    grouped agg computes bucket counts AND the nested metrics together
    (all partial-aggregated map-side — only (partitions x buckets)
    rows cross the exchange, same as the flat facet). Deeper nesting
    (bucket inside bucket) is the same plan with a composite groupBy
    key; metric-only nesting never adds a shuffle.
    """
    matched = match_docs_batch(spark, index_dir, [(0, query)], mode)
    c = F.col(metric_field).cast("double")
    grouped = (
        matched.join(
            doc_values.select("doc_id", bucket_field, metric_field),
            "doc_id",
        )
        .groupBy(F.col(bucket_field).alias("value"))
        .agg(
            F.count("*").alias("doc_count"),
            F.min(c).alias("min"),
            F.max(c).alias("max"),
            F.sum(c).alias("sum"),
            F.avg(c).alias("avg"),
        )
    )
    if order_by not in ("doc_count", "min", "max", "sum", "avg"):
        raise ValueError(f"unknown order_by {order_by!r}")
    if order_dir not in ("asc", "desc"):
        raise ValueError(f"order_dir must be asc/desc, got {order_dir!r}")
    key = (
        F.asc(order_by) if order_dir == "asc" else F.desc(order_by)
    )
    return grouped.orderBy(key, F.asc("value")).limit(size)


DATE_INTERVALS = (
    "year", "quarter", "month", "week", "day", "hour", "minute",
)


def date_histogram(
    spark: SparkSession,
    index_dir: str,
    query: str,
    doc_values: DataFrame,
    field: str,
    calendar_interval: str = "month",
    mode: str = "and",
) -> DataFrame:
    """ES ``date_histogram`` with ``calendar_interval`` semantics ->
    (bucket, doc_count), bucket asc — the most common aggregation over
    a web corpus's crawl timestamps (``warc_ts``).

    Pinned ES behavior: bucket key = the timestamp truncated to the
    calendar interval in UTC (weeks start Monday, ISO — both Spark's
    ``date_trunc('week', ...)`` and DuckDB's agree); empty buckets
    omitted (``min_doc_count=1``). Same single-join partial-aggregated
    plan as :func:`histogram_facet`.
    """
    if calendar_interval not in DATE_INTERVALS:
        raise ValueError(
            f"calendar_interval must be one of {DATE_INTERVALS}"
        )
    matched = match_docs_batch(spark, index_dir, [(0, query)], mode)
    bucket = F.date_trunc(calendar_interval, F.col(field)).alias("bucket")
    return (
        matched.join(doc_values.select("doc_id", field), "doc_id")
        .groupBy(bucket)
        .agg(F.count("*").alias("doc_count"))
        .orderBy(F.asc("bucket"))
    )


def rare_terms(
    spark: SparkSession,
    index_dir: str,
    query: str,
    doc_values: DataFrame,
    field: str,
    mode: str = "and",
    max_doc_count: int = 1,
) -> DataFrame:
    """ES ``rare_terms`` aggregation -> (value, doc_count): the buckets
    whose doc_count <= ``max_doc_count`` (the long tail the ``terms``
    agg's count-desc ordering structurally hides), doc_count asc then
    value asc — ES's pinned rare-terms order.

    Exact, not ES's CuckooFilter approximation: the count shuffle
    carries one row per DISTINCT value (partial-aggregated map-side),
    and the rarity filter runs after the reduce, so the plan cost
    equals the exact terms facet regardless of ``max_doc_count``.
    """
    if max_doc_count < 1:
        raise ValueError("max_doc_count must be >= 1")
    matched = match_docs_batch(spark, index_dir, [(0, query)], mode)
    return (
        matched.join(doc_values.select("doc_id", field), "doc_id")
        .groupBy(F.col(field).alias("value"))
        .agg(F.count("*").alias("doc_count"))
        .where(F.col("doc_count") <= int(max_doc_count))
        .orderBy(F.asc("doc_count"), F.asc("value"))
    )


def auto_date_histogram(
    spark: SparkSession,
    index_dir: str,
    query: str,
    doc_values: DataFrame,
    field: str,
    target_buckets: int = 10,
    mode: str = "and",
) -> DataFrame:
    """ES ``auto_date_histogram`` -> (interval, bucket, doc_count),
    bucket asc: the FINEST calendar interval from the pinned ladder
    (minute, hour, day, week, month, quarter, year — coarsening order)
    whose non-empty bucket count is <= ``target_buckets``; falls back
    to ``year`` when even that overflows. All DATE_INTERVALS semantics
    (UTC truncation, ISO weeks, min_doc_count=1) match
    :func:`date_histogram`.

    Plan: ONE aggregation job computes every ladder interval's
    non-empty bucket count (seven countDistincts over the same
    matched-join frame, partial-aggregated map-side); the interval
    choice is a driver-side compare of seven scalars; then the normal
    single-join date_histogram plan runs for the chosen interval —
    two bounded jobs, never an iterative roll-up.
    """
    if target_buckets < 1:
        raise ValueError("target_buckets must be >= 1")
    ladder = tuple(reversed(DATE_INTERVALS))  # finest -> coarsest
    matched = match_docs_batch(spark, index_dir, [(0, query)], mode)
    joined = matched.join(doc_values.select("doc_id", field), "doc_id")
    counts = joined.agg(
        *[
            F.countDistinct(F.date_trunc(iv, F.col(field))).alias(iv)
            for iv in ladder
        ]
    ).collect()[0]
    chosen = next(
        (iv for iv in ladder if counts[iv] <= target_buckets), "year"
    )
    bucket = F.date_trunc(chosen, F.col(field)).alias("bucket")
    return (
        joined.groupBy(bucket)
        .agg(F.count("*").alias("doc_count"))
        .select(F.lit(chosen).alias("interval"), "bucket", "doc_count")
        .orderBy(F.asc("bucket"))
    )


def significant_terms(
    spark: SparkSession,
    index_dir: str,
    query: str,
    mode: str = "and",
    size: int = 10,
    min_doc_count: int = 3,
    sample_size: int | None = None,
    heuristic: str = "jlh",
) -> DataFrame:
    """ES ``significant_terms`` aggregation -> (term, df_fg, df_bg,
    score), score desc then term asc, top ``size``.

    Pinned scoring, default = ES's JLH: with foreground rate ``fg =
    df_fg / n_matched`` and background rate ``bg = df_bg / n_docs``,
    ``score = (fg - bg) * (fg / bg)`` for terms with ``df_fg >=
    min_doc_count`` and ``fg > bg`` (score column ``score_jlh``).

    ``heuristic`` selects ES's alternative significance heuristics,
    pinned to the textbook statistics over the 2x2 contingency table
    ``a=df_fg, b=n_matched-df_fg, c=df_bg-df_fg,
    d=(n_docs-n_matched)-(df_bg-df_fg)`` (documented pin — ES/Lucene's
    classes apply the same tables with implementation-specific
    scalings; ranks agree, absolute values are pinned here to the
    textbook forms; the ``fg > bg`` positivity filter matches ES's
    ``include_negatives=false`` default):

    - ``"chi_square"``: ``N * (a*d - b*c)^2 /
      ((a+b)*(c+d)*(a+c)*(b+d))`` (column ``score_chi2``)
    - ``"mutual_information"``: pointwise MI ``ln(fg / bg)``
      (column ``score_mi``)

    ``sample_size``: ES ``sampler``-style bounded foreground — the
    significance statistics run over a DETERMINISTIC per-shard sample
    of the match set (the ``ceil(sample_size / n_shards)`` LOWEST
    doc_ids per shard; ES keeps best-scoring docs, but this match
    kernel is score-free so doc_id order is the reproducible pin).
    ``n_matched`` becomes the sample size, keeping the JLH rates
    consistent. With ``sample_size >= |match set|`` results equal the
    exact mode (tested). This is the 100-TB shape for head-term
    queries: the per-kernel foreground array is bounded by
    sample_size / n_shards instead of the match-set fraction of the
    corpus. ``None`` (default) = exact/exhaustive (ES
    ``sampler``-less behavior).

    Plan shape (the honest cost ES also pays in exhaustive mode):
    per-shard the (possibly sampled) match set cogroups with ALL
    postings, and the kernel counts, per term, how many matched docs
    its (decoded) posting list contains — one linear sweep of the
    index's doc_ids columns, no scoring, partial counts summed per
    term. Background df comes from the terms dictionary. (Zipf note:
    terms with ``df_bg < min_doc_count`` can never qualify since
    ``df_fg <= df_bg``; a ``terms``-dictionary semi-join pre-pruning
    them trades a co-partitioned shuffle for skipping the rare-term
    tail's decode — worth it when min_doc_count is high.)
    """
    import numpy as np

    from sparkfts.index import load_postings, load_terms, read_meta

    meta = read_meta(index_dir)
    matched = match_docs_batch(spark, index_dir, [(0, query)], mode).select(
        F.col("doc_id"),
        F.pmod(F.col("doc_id"), F.lit(meta["n_shards"])).cast("int").alias(
            "shard"
        ),
    )
    if sample_size is not None:
        import math

        from pyspark.sql import Window

        per_shard = max(1, math.ceil(int(sample_size) / meta["n_shards"]))
        w = Window.partitionBy("shard").orderBy(F.asc("doc_id"))
        matched = (
            matched.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= F.lit(per_shard))
            .drop("rn")
        )
    n_matched = matched.count()
    if n_matched == 0:
        return spark.createDataFrame(
            [], "term string, df_fg long, df_bg long, score_jlh double"
        )
    postings = load_postings(spark, index_dir).select(
        "term", "shard", "doc_ids"
    )

    def kernel(l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
        from sparkfts.codec import decode_varint, delta_decode

        if not len(l) or not len(r):
            return pd.DataFrame(
                {
                    "term": pd.Series([], dtype="object"),
                    "df_fg_shard": pd.Series([], dtype="int64"),
                }
            )
        m = np.sort(r["doc_id"].to_numpy(np.int64))
        terms_out, counts = [], []
        by_term: dict[str, list] = {}
        for _, row in l.iterrows():
            by_term.setdefault(row["term"], []).append(row["doc_ids"])
        for t, blobs in by_term.items():
            ids = np.concatenate(
                [delta_decode(decode_varint(b)) for b in blobs]
            ).astype(np.int64)
            from sparkfts.wand import include_mask

            c = int(include_mask(np.unique(ids), m).sum())
            if c:
                terms_out.append(t)
                counts.append(c)
        return pd.DataFrame({"term": terms_out, "df_fg_shard": counts})

    fg = (
        postings.groupby("shard")
        .cogroup(matched.groupby("shard"))
        .applyInPandas(kernel, "term string, df_fg_shard long")
        .groupBy("term")
        .agg(F.sum("df_fg_shard").alias("df_fg"))
        .where(F.col("df_fg") >= F.lit(int(min_doc_count)))
    )
    bg = load_terms(spark, index_dir).select(
        "term", F.col("df").alias("df_bg")
    )
    n_docs = meta["n_docs"]
    fg_rate = F.col("df_fg") / F.lit(float(n_matched))
    bg_rate = F.col("df_bg") / F.lit(float(n_docs))
    if heuristic == "jlh":
        score = (fg_rate - bg_rate) * (fg_rate / bg_rate)
        out = "score_jlh"
    elif heuristic == "chi_square":
        a = F.col("df_fg").cast("double")
        b = F.lit(float(n_matched)) - a
        c = F.col("df_bg").cast("double") - a
        d = F.lit(float(n_docs - n_matched)) - c
        num = a * d - b * c
        score = (
            F.lit(float(n_docs)) * num * num
            / ((a + b) * (c + d) * (a + c) * (b + d))
        )
        out = "score_chi2"
    elif heuristic == "mutual_information":
        score, out = F.log(fg_rate / bg_rate), "score_mi"
    else:
        raise ValueError(f"unknown heuristic {heuristic!r}")
    return (
        fg.join(bg, "term")
        .where(fg_rate > bg_rate)
        .withColumn(out, score)
        .where(F.col(out) > 0)
        .select("term", "df_fg", "df_bg", out)
        .orderBy(F.desc(out), F.asc("term"))
        .limit(size)
    )


def significant_text(
    spark: SparkSession,
    index_dir: str,
    query: str,
    mode: str = "and",
    size: int = 10,
    min_doc_count: int = 3,
    pages: DataFrame | None = None,
    heuristic: str = "jlh",
) -> DataFrame:
    """ES ``significant_text`` aggregation -> (term, df_fg, df_bg,
    score_<heuristic>), score desc then term asc, top ``size``.
    ``heuristic``: ``jlh`` (default) / ``chi_square`` /
    ``mutual_information`` — the SAME pinned 2x2 statistics as
    :func:`significant_terms` (shared fg>bg positivity filter =
    ES ``include_negatives: false``).

    Unlike :func:`significant_terms` (which counts over the INDEXED
    postings), significant_text RE-ANALYZES the source text of the
    match set — ES's point being that the field need not be indexed
    with doc_values and ad-hoc analysis params can apply.  Here the
    foreground source is the stored ``_source`` (newest-wins,
    tombstone-aware; requires ``store_source=True``), or an explicit
    ``pages`` table (doc_id, text) standing in for it.  The re-analysis
    applies the index's own pinned chain (stopwords/stemmer/synonyms
    from meta) so foreground terms align with the dictionary's
    background dfs.  Scoring = the same pinned JLH as significant_terms.

    Plan: match kernel -> join text source on doc_id (the foreground
    is |match set| rows, never the corpus) -> tokenize_docs Arrow
    kernel -> groupBy(term) count = df_fg -> broadcast-join the terms
    dictionary for df_bg. One shuffle on term over the match set's
    distinct (doc, term) pairs only.
    """
    from sparkfts.analysis import analysis_opts
    from sparkfts.index import load_terms, read_meta
    from sparkfts.lifecycle import source_pages
    from sparkfts.tokens import tokenize_docs

    meta = read_meta(index_dir)
    matched = match_docs_batch(spark, index_dir, [(0, query)], mode).select(
        "doc_id"
    )
    n_matched = matched.count()
    if n_matched == 0:
        return spark.createDataFrame(
            [], "term string, df_fg long, df_bg long, score_jlh double"
        )
    if pages is None:
        pages = source_pages(spark, index_dir)
    fg_pages = pages.select("doc_id", "text").join(matched, "doc_id")
    sw, stem = analysis_opts(meta)
    fg = (
        tokenize_docs(
            fg_pages, stopwords=sorted(sw) if sw else None, stemmer=stem
        )
        .groupBy("term")
        .agg(F.count("*").alias("df_fg"))
        .where(F.col("df_fg") >= F.lit(int(min_doc_count)))
    )
    bg = load_terms(spark, index_dir).select(
        "term", F.col("df").alias("df_bg")
    )
    n_docs = meta["n_docs"]
    fg_rate = F.col("df_fg") / F.lit(float(n_matched))
    bg_rate = F.col("df_bg") / F.lit(float(n_docs))
    if heuristic == "jlh":
        score = (fg_rate - bg_rate) * (fg_rate / bg_rate)
        out = "score_jlh"
    elif heuristic == "chi_square":
        a = F.col("df_fg").cast("double")
        b = F.lit(float(n_matched)) - a
        c = F.col("df_bg").cast("double") - a
        d = F.lit(float(n_docs - n_matched)) - c
        num = a * d - b * c
        score = (
            F.lit(float(n_docs)) * num * num
            / ((a + b) * (c + d) * (a + c) * (b + d))
        )
        out = "score_chi2"
    elif heuristic == "mutual_information":
        score, out = F.log(fg_rate / bg_rate), "score_mi"
    else:
        raise ValueError(f"unknown heuristic {heuristic!r}")
    return (
        fg.join(bg, "term")
        .where(fg_rate > bg_rate)
        .withColumn(out, score)
        .where(F.col(out) > 0)
        .select("term", "df_fg", "df_bg", out)
        .orderBy(F.desc(out), F.asc("term"))
        .limit(size)
    )


_SCRIPTED_COMBINES = ("sum", "min", "max", "avg", "count")


def scripted_metric(
    spark: SparkSession,
    index_dir: str,
    query: str,
    map_script: str,
    combine: str = "sum",
    mode: str = "and",
    fields: list[str] | None = None,
) -> DataFrame:
    """ES ``scripted_metric`` aggregation, pinned subset -> ONE row
    ``(doc_count, value)``.

    ES's general form is init/map/combine/reduce Painless; the
    deterministic subset pinned here is its overwhelmingly common
    shape: ``map_script`` = an arithmetic expression over the doc's
    fields (the sparkfts.scripting grammar — same engine as
    script_score / runtime fields, compiled to ONE Catalyst column,
    never per-row Python), ``combine`` = an associative reduce
    (``sum`` / ``min`` / ``max`` / ``avg`` / ``count``).  Fields
    resolve against the docmap (``doclen`` + any ``docvalue_cols``).

    Float caveat (driver-contract): ``sum``/``avg`` of float64 map
    values are association-order-dependent across engines — quantize
    per-doc values to integers in the script, or compare coarsely;
    ``min``/``max``/``count`` are exact.
    """
    from sparkfts.index import load_docmap, read_meta
    from sparkfts.scripting import compile_script_column

    if combine not in _SCRIPTED_COMBINES:
        raise ValueError(
            f"combine must be one of {_SCRIPTED_COMBINES}, got {combine!r}"
        )
    meta = read_meta(index_dir)
    avail = ["doclen"] + [
        c for c in meta.get("docvalue_cols", []) if c not in ("doc_id",)
    ]
    use = fields if fields is not None else avail
    bad = sorted(set(use) - set(avail))
    if bad:
        raise ValueError(
            f"script fields {bad} not on the docmap (have {avail})"
        )
    matched = match_docs_batch(spark, index_dir, [(0, query)], mode).select(
        "doc_id"
    )
    dm = load_docmap(spark, index_dir).select("doc_id", *use).join(
        matched, "doc_id"
    )
    col = compile_script_column(map_script, {c: F.col(c) for c in use})
    vals = dm.select(col.alias("__v"))
    agg = {
        "sum": F.sum,
        "min": F.min,
        "max": F.max,
        "avg": F.avg,
        "count": F.count,
    }[combine]
    return vals.agg(
        F.count("*").alias("doc_count"), agg("__v").alias("value")
    )


def extended_stats_agg(
    spark: SparkSession,
    index_dir: str,
    query: str,
    doc_values: DataFrame,
    field: str,
    mode: str = "and",
) -> DataFrame:
    """ES ``extended_stats`` -> one row (count, min, max, sum, avg,
    sum_of_squares, variance, std_deviation).

    Pinned ES math: population variance via the moment formula
    ``sum_of_squares/count - avg^2`` (exactly ES's reduce; NOT the
    two-pass or Welford form — pinning the formula keeps the DuckDB
    oracle bit-comparable). Same one-pass partial-aggregated plan as
    :func:`stats_agg`.
    """
    matched = match_docs_batch(spark, index_dir, [(0, query)], mode)
    c = F.col(field).cast("double")
    row = matched.join(
        doc_values.select("doc_id", field), "doc_id"
    ).agg(
        F.count("*").alias("count"),
        F.min(c).alias("min"),
        F.max(c).alias("max"),
        F.sum(c).alias("sum"),
        F.avg(c).alias("avg"),
        F.sum(c * c).alias("sum_of_squares"),
    )
    variance = (
        F.col("sum_of_squares") / F.col("count")
        - F.col("avg") * F.col("avg")
    )
    return row.withColumn("variance", variance).withColumn(
        "std_deviation", F.sqrt(F.col("variance"))
    )


def weighted_avg_agg(
    spark: SparkSession,
    index_dir: str,
    query: str,
    doc_values: DataFrame,
    value_field: str,
    weight_field: str,
    mode: str = "and",
) -> DataFrame:
    """ES ``weighted_avg`` -> one row (value): ``sum(v*w)/sum(w)``
    over matched docs where BOTH value and weight are present (ES
    skips docs missing either, absent a ``missing`` config)."""
    matched = match_docs_batch(spark, index_dir, [(0, query)], mode)
    v = F.col(value_field).cast("double")
    w = F.col(weight_field).cast("double")
    return (
        matched.join(
            doc_values.select("doc_id", value_field, weight_field),
            "doc_id",
        )
        .where(v.isNotNull() & w.isNotNull())
        .agg((F.sum(v * w) / F.sum(w)).alias("value"))
    )


def top_metrics_agg(
    spark: SparkSession,
    index_dir: str,
    query: str,
    doc_values: DataFrame,
    metric_field: str,
    sort_field: str,
    ascending: bool = True,
    size: int = 3,
    mode: str = "and",
) -> DataFrame:
    """ES ``top_metrics`` -> the metric values of the ``size`` best
    matched docs by ``sort_field`` ->
    ``(sort_value, <metric_field>, doc_id)``, sort order then doc_id
    asc (ES leaves ties unstable; doc_id asc pins them).

    ``orderBy().limit()`` is a TakeOrdered over the matched-join frame
    — per-partition heaps of ``size`` rows, no global sort.
    """
    matched = match_docs_batch(spark, index_dir, [(0, query)], mode)
    s = F.col(sort_field)
    return (
        matched.join(
            doc_values.select("doc_id", metric_field, sort_field),
            "doc_id",
        )
        .orderBy(
            s.asc() if ascending else s.desc(), F.asc("doc_id")
        )
        .limit(size)
        .select(
            s.alias("sort_value"), F.col(metric_field), "doc_id"
        )
    )


def date_range_agg(
    spark: SparkSession,
    index_dir: str,
    query: str,
    doc_values: DataFrame,
    field: str,
    ranges: list[tuple[str, str | None, str | None]],
    mode: str = "and",
) -> DataFrame:
    """ES ``date_range`` aggregation -> (key, doc_count) per requested
    range in request order, zero-count ranges included; ``from``
    inclusive, ``to`` exclusive (ES semantics), boundaries as
    ``YYYY-MM-DD[ HH:MM:SS]`` UTC strings compared on the timestamp
    doc value. Same one-pass conditional-sum plan as :func:`range_agg`.
    """
    if not ranges:
        raise ValueError("ranges must be non-empty")
    matched = match_docs_batch(spark, index_dir, [(0, query)], mode)
    v = F.col(field)
    joined = matched.join(doc_values.select("doc_id", field), "doc_id")
    conds = []
    for key, lo, hi in ranges:
        c = F.lit(True)
        if lo is not None:
            c = c & (v >= F.to_timestamp(F.lit(lo)))
        if hi is not None:
            c = c & (v < F.to_timestamp(F.lit(hi)))
        conds.append(
            F.coalesce(
                F.sum(F.when(c, F.lit(1)).otherwise(F.lit(0))), F.lit(0)
            ).alias(f"_r{len(conds)}")
        )
    row = joined.agg(*conds)
    pairs = F.array(*[
        F.struct(
            F.lit(key).alias("key"),
            F.col(f"_r{i}").cast("long").alias("doc_count"),
        )
        for i, (key, _, _) in enumerate(ranges)
    ])
    return row.select(F.explode(pairs).alias("b")).select(
        F.col("b.key").alias("key"),
        F.col("b.doc_count").alias("doc_count"),
    )


def adjacency_matrix_agg(
    spark: SparkSession,
    index_dir: str,
    query: str,
    doc_values: DataFrame,
    filters: list[tuple[str, str]],
    mode: str = "and",
    separator: str = "&",
) -> DataFrame:
    """ES ``adjacency_matrix`` -> (key, doc_count): one bucket per
    named predicate and one per pairwise intersection (``a&b``, the
    names joined by ``separator`` in request order), EMPTY BUCKETS
    OMITTED (ES behavior), key asc.

    One pass: singles and the ``n*(n-1)/2`` pair intersections are all
    conditional partial-aggregated sums over the same matched-join
    frame — the intersection matrix costs no extra scan or shuffle
    (ES warns the bucket count grows quadratically; so does this
    column list, which is the honest equivalent).
    """
    if not filters:
        raise ValueError("filters must be non-empty")
    keys = [k for k, _ in filters]
    if len(set(keys)) != len(keys):
        raise ValueError(f"duplicate filter keys: {keys}")
    if any(separator in k for k in keys):
        raise ValueError(f"filter keys must not contain {separator!r}")
    matched = match_docs_batch(spark, index_dir, [(0, query)], mode)
    joined = matched.join(doc_values, "doc_id")
    conds = [F.expr(pred) for _, pred in filters]
    names: list[str] = []
    aggs = []
    for i, k in enumerate(keys):
        names.append(k)
        aggs.append(
            F.coalesce(
                F.sum(
                    F.when(conds[i], F.lit(1)).otherwise(F.lit(0))
                ),
                F.lit(0),
            ).alias(f"_a{len(aggs)}")
        )
    for i in range(len(keys)):
        for j in range(i + 1, len(keys)):
            names.append(f"{keys[i]}{separator}{keys[j]}")
            aggs.append(
                F.coalesce(
                    F.sum(
                        F.when(
                            conds[i] & conds[j], F.lit(1)
                        ).otherwise(F.lit(0))
                    ),
                    F.lit(0),
                ).alias(f"_a{len(aggs)}")
            )
    row = joined.agg(*aggs)
    pairs = F.array(*[
        F.struct(
            F.lit(k).alias("key"),
            F.col(f"_a{i}").cast("long").alias("doc_count"),
        )
        for i, k in enumerate(names)
    ])
    return (
        row.select(F.explode(pairs).alias("b"))
        .select(
            F.col("b.key").alias("key"),
            F.col("b.doc_count").alias("doc_count"),
        )
        .where(F.col("doc_count") > 0)
        .orderBy("key")
    )


def terms_facet_from_index(
    spark: SparkSession,
    index_dir: str,
    query: str,
    field: str,
    mode: str = "and",
    size: int = 10,
) -> DataFrame:
    """Self-contained facet: the field comes from the index's own docmap
    (build with ``build_index(..., docvalue_cols=[field])`` — the ES
    doc-values shape, no side table at query time)."""
    from sparkfts.index import load_docmap, read_meta

    meta = read_meta(index_dir)
    if field not in meta.get("docvalue_cols", []):
        raise ValueError(
            f"field {field!r} not stored as a doc value; rebuild with "
            f"docvalue_cols=[{field!r}]"
        )
    dv = load_docmap(spark, index_dir).select("doc_id", field)
    return terms_facet(spark, index_dir, query, dv, field, mode, size)


def multi_terms_agg(
    spark: SparkSession,
    index_dir: str,
    query: str,
    doc_values: DataFrame,
    fields: list[str],
    mode: str = "and",
    size: int = 10,
) -> DataFrame:
    """ES ``multi_terms`` aggregation: buckets keyed by a TUPLE of
    fields -> one row per combination with ``key_as_string`` =
    values joined by ``|`` (ES's format), count desc then key asc.

    Same scale shape as :func:`terms_facet` — matched-id join + ONE
    partially-aggregated groupBy on the composite key + TakeOrdered;
    the shuffle is keyed on the combination cardinality, never doc
    count. ES rejects missing values for multi_terms (docs lacking any
    of the fields are skipped) — the inner join on non-null values
    reproduces that.
    """
    if not fields or len(fields) < 2:
        raise ValueError("multi_terms needs >= 2 fields (ES constraint)")
    matched = match_docs_batch(spark, index_dir, [(0, query)], mode)
    vals = doc_values.select("doc_id", *fields)
    for f in fields:
        vals = vals.where(F.col(f).isNotNull())
    key = F.concat_ws("|", *[F.col(f).cast("string") for f in fields])
    return (
        matched.join(vals, "doc_id")
        .groupBy(key.alias("key"))
        .agg(F.count("*").alias("doc_count"))
        .orderBy(F.desc("doc_count"), F.asc("key"))
        .limit(size)
    )


def global_agg(
    spark: SparkSession,
    index_dir: str,
    doc_values: DataFrame,
    field: str,
) -> DataFrame:
    """ES ``global`` aggregation context: metrics over ALL live docs of
    the index, ignoring the surrounding query (the Kibana "show the
    total next to the filtered number" bucket).

    Visibility matches every query path: tombstoned docs are excluded
    by anti-joining the tombstone set (bounded; broadcast by AQE).
    One partial-aggregated pass; a single scalar row crosses the
    exchange.
    """
    from sparkfts.deletes import load_tombstones

    live = doc_values.select("doc_id", field)
    tomb = load_tombstones(spark, index_dir)
    if tomb is not None:
        from sparkfts.index import in_list

        live = live.where(~in_list("doc_id", [int(x) for x in tomb]))
    return live.agg(
        F.count("*").cast("long").alias("n"),
        F.min(field).alias("min_v"),
        F.max(field).alias("max_v"),
        F.sum(field).cast("long").alias("sum_v"),
    )


def boxplot_agg(
    spark: SparkSession,
    index_dir: str,
    query: str,
    doc_values: DataFrame,
    field: str,
    mode: str = "and",
) -> DataFrame:
    """ES ``boxplot`` aggregation, exact pin -> one row
    ``(min, q1, q2, q3, max, lower, upper)``. Quartiles are exact
    linear-interpolated percentiles (the :func:`percentiles_agg` pin;
    ES approximates with t-digest); whiskers follow ES: the nearest
    actual values inside ``[q1 - 1.5*IQR, q3 + 1.5*IQR]``."""
    matched = match_docs_batch(spark, index_dir, [(0, query)], mode)
    joined = matched.join(
        doc_values.select("doc_id", field), "doc_id"
    ).select(F.col(field).cast("double").alias("v"))
    qs = joined.agg(
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
        F.percentile(F.col("v"), F.array(
            F.lit(0.25), F.lit(0.5), F.lit(0.75)
        )).alias("q"),
    )
    qs = qs.select(
        "min_v", "max_v",
        F.col("q")[0].alias("q1"), F.col("q")[1].alias("q2"),
        F.col("q")[2].alias("q3"),
    )
    row = qs.collect()[0]  # one scalar row
    lo_fence = row["q1"] - 1.5 * (row["q3"] - row["q1"])
    hi_fence = row["q3"] + 1.5 * (row["q3"] - row["q1"])
    w = joined.agg(
        F.min(F.when(F.col("v") >= lo_fence, F.col("v"))).alias("lower"),
        F.max(F.when(F.col("v") <= hi_fence, F.col("v"))).alias("upper"),
    ).collect()[0]
    return spark.createDataFrame(
        [(row["min_v"], row["q1"], row["q2"], row["q3"], row["max_v"],
          w["lower"], w["upper"])],
        "min_v double, q1 double, q2 double, q3 double, max_v double, "
        "lower double, upper double",
    )


def t_test_agg(
    spark: SparkSession,
    index_dir: str,
    query: str,
    doc_values: DataFrame,
    field: str,
    split_expr: str,
    mode: str = "and",
) -> DataFrame:
    """ES ``t_test`` aggregation (heteroscedastic / Welch's, ES's
    default): the t statistic between the matched docs satisfying
    ``split_expr`` (group A) and the rest (group B) on ``field``.

    One pass of SIX conditional sums (n, sum, sum-of-squares per
    group) with map-side partial aggregation; for integer fields all
    six are exact int64, so the t value derives from identical
    integers cross-engine. Returns
    ``(n_a, n_b, mean_a, mean_b, t_value)``; fails loud when a group
    has < 2 values (variance undefined — ES returns null, the engine
    refuses to guess)."""
    matched = match_docs_batch(spark, index_dir, [(0, query)], mode)
    joined = matched.join(doc_values, "doc_id").select(
        F.col(field).cast("long").alias("v"),
        F.expr(split_expr).cast("boolean").alias("a"),
    )
    r = joined.agg(
        F.sum(F.when(F.col("a"), 1).otherwise(0)).alias("na"),
        F.sum(F.when(~F.col("a"), 1).otherwise(0)).alias("nb"),
        F.sum(F.when(F.col("a"), F.col("v")).otherwise(0)).alias("sa"),
        F.sum(F.when(~F.col("a"), F.col("v")).otherwise(0)).alias("sb"),
        F.sum(F.when(F.col("a"), F.col("v") * F.col("v")).otherwise(0))
        .alias("qa"),
        F.sum(F.when(~F.col("a"), F.col("v") * F.col("v")).otherwise(0))
        .alias("qb"),
    ).collect()[0]
    na, nb = int(r["na"] or 0), int(r["nb"] or 0)
    if na < 2 or nb < 2:
        raise ValueError(
            f"t_test needs >= 2 values per group (got {na}, {nb})"
        )
    import math as _math

    ma, mb = r["sa"] / na, r["sb"] / nb
    va = (r["qa"] - r["sa"] * r["sa"] / na) / (na - 1)
    vb = (r["qb"] - r["sb"] * r["sb"] / nb) / (nb - 1)
    t = (ma - mb) / _math.sqrt(va / na + vb / nb)
    return spark.createDataFrame(
        [(na, nb, float(ma), float(mb), float(t))],
        "n_a long, n_b long, mean_a double, mean_b double, "
        "t_value double",
    )


def string_stats_agg(
    spark: SparkSession,
    index_dir: str,
    query: str,
    doc_values: DataFrame,
    field: str,
    mode: str = "and",
) -> DataFrame:
    """ES ``string_stats`` aggregation -> one row ``(count,
    min_length, max_length, avg_length, entropy)`` over the matched
    docs' ``field`` values.

    Semantics pinned to ES: lengths are character counts per value;
    ``entropy`` is the Shannon entropy (base 2) of the CHARACTER
    distribution across all matched values concatenated
    (``-sum p_c*log2 p_c``).

    Plan shape at 100 TB: the length stats are one partial-aggregated
    pass; the character distribution is a flatMap (one char row per
    character, pure JVM codegen) into a groupBy whose map-side partial
    aggregation collapses every task's output to <= |alphabet| rows
    before the shuffle — the exchanged data is alphabet-sized, not
    corpus-sized. Entropy derives from the bounded histogram via
    ``log2(total) - sum(n*log2 n)/total`` (one tiny second agg).

    Reference parity: string_stats is part of the ES agg surface behind
    the reference's single ``client.search`` call
    (ElasticsearchHandler.py:69)."""
    matched = match_docs_batch(spark, index_dir, [(0, query)], mode)
    joined = matched.join(
        doc_values.select("doc_id", field), "doc_id"
    ).select(F.col(field).cast("string").alias("v")).where(
        F.col("v").isNotNull()
    )
    lens = joined.agg(
        F.count("*").alias("count"),
        F.min(F.length("v")).alias("min_length"),
        F.max(F.length("v")).alias("max_length"),
        F.avg(F.length("v")).alias("avg_length"),
    )
    hist = (
        joined.select(F.explode(F.split("v", "")).alias("ch"))
        .where(F.length("ch") > 0)
        .groupBy("ch")
        .agg(F.count("*").alias("n"))
    )
    ent = hist.agg(
        (
            F.log2(F.sum("n"))
            - F.sum(F.col("n") * F.log2("n")) / F.sum("n")
        ).alias("entropy")
    )
    return lens.crossJoin(ent)


def median_absolute_deviation_agg(
    spark: SparkSession,
    index_dir: str,
    query: str,
    doc_values: DataFrame,
    field: str,
    mode: str = "and",
) -> DataFrame:
    """ES ``median_absolute_deviation`` aggregation, EXACT pin -> one
    row ``(n, median, mad)``: ``mad = median(|v - median(v)|)``.

    ES approximates both medians with t-digest; this pins exact
    linear-interpolated medians (the :func:`percentiles_agg` pin,
    DuckDB ``quantile_cont``-reproducible). Two bounded passes over
    the matched values (median, then deviations) — each a sort-based
    agg over the match set; at extreme match sizes swap
    ``F.percentile_approx`` with the same output shape."""
    matched = match_docs_batch(spark, index_dir, [(0, query)], mode)
    vals = matched.join(
        doc_values.select("doc_id", field), "doc_id"
    ).select(F.col(field).cast("double").alias("v"))
    med = vals.agg(
        F.count("*").alias("n"),
        F.percentile(F.col("v"), F.lit(0.5)).alias("median"),
    ).collect()[0]
    if not med["n"]:
        raise ValueError("median_absolute_deviation over empty match set")
    m = float(med["median"])
    mad = vals.agg(
        F.percentile(F.abs(F.col("v") - F.lit(m)), F.lit(0.5)).alias("mad")
    )
    return mad.select(
        F.lit(int(med["n"])).alias("n"),
        F.lit(m).alias("median"),
        F.col("mad"),
    )


def matrix_stats_agg(
    spark: SparkSession,
    index_dir: str,
    query: str,
    doc_values: DataFrame,
    fields: list[str],
    mode: str = "and",
) -> DataFrame:
    """ES ``matrix_stats`` aggregation -> one row per unordered field
    pair ``(field_x, field_y, count, mean_x, mean_y, covariance,
    correlation)``, pairs in request order including the diagonal
    (whose covariance is the sample variance).

    Pinned to ES's sample (n-1) covariance. Deviation from ES
    documented: per-field skewness/kurtosis are omitted (the pair
    matrix is the operative output; higher moments of int fields
    overflow int64 at corpus scale, and this engine refuses
    silently-lossy float accumulation).

    One pass: for m fields, ``m`` sums + ``m`` squared sums +
    ``m*(m+1)/2`` cross sums — all conditional int64-exact partial
    aggregates over the same matched-join frame, no extra scan or
    shuffle (the adjacency_matrix shape)."""
    if len(fields) < 1:
        raise ValueError("fields must be non-empty")
    if len(set(fields)) != len(fields):
        raise ValueError(f"duplicate fields: {fields}")
    matched = match_docs_batch(spark, index_dir, [(0, query)], mode)
    joined = matched.join(
        doc_values.select("doc_id", *fields), "doc_id"
    ).select(*[F.col(f).cast("long").alias(f) for f in fields])
    aggs = [F.count("*").alias("_n")]
    for f in fields:
        aggs.append(F.sum(F.col(f)).alias(f"_s_{f}"))
    pairs = [
        (fields[i], fields[j])
        for i in range(len(fields))
        for j in range(i, len(fields))
    ]
    for fx, fy in pairs:
        aggs.append(
            F.sum(F.col(fx) * F.col(fy)).alias(f"_x_{fx}_{fy}")
        )
    r = joined.agg(*aggs).collect()[0]
    n = int(r["_n"] or 0)
    if n < 2:
        raise ValueError(f"matrix_stats needs >= 2 matched docs (got {n})")
    import math as _math

    rows = []
    for fx, fy in pairs:
        sx, sy = int(r[f"_s_{fx}"]), int(r[f"_s_{fy}"])
        sxy = int(r[f"_x_{fx}_{fy}"])
        sxx = int(r[f"_x_{fx}_{fx}"])
        syy = int(r[f"_x_{fy}_{fy}"])
        cov = (sxy - sx * sy / n) / (n - 1)
        vx = (sxx - sx * sx / n) / (n - 1)
        vy = (syy - sy * sy / n) / (n - 1)
        corr = (
            cov / _math.sqrt(vx * vy) if vx > 0 and vy > 0 else None
        )
        rows.append(
            (fx, fy, n, sx / n, sy / n, float(cov),
             None if corr is None else float(corr))
        )
    return spark.createDataFrame(
        rows,
        "field_x string, field_y string, count long, mean_x double, "
        "mean_y double, covariance double, correlation double",
    )


def sampler_agg(
    spark: SparkSession,
    index_dir: str,
    query: str,
    doc_values: DataFrame,
    field: str,
    shard_size: int = 100,
    mode: str = "and",
) -> DataFrame:
    """ES ``sampler`` aggregation bounding a ``stats`` sub-agg -> one
    row ``(sample_count, min_v, max_v, sum_v, avg_v)`` computed over
    the ``shard_size`` BEST-SCORING matched docs.

    Pin (documented ES deviation, same spirit as the sampled
    significant_terms pin): ES samples the top ``shard_size`` docs PER
    SHARD, making results shard-layout-dependent; this engine pins the
    GLOBAL BM25 top ``shard_size`` by the standard (-score, doc_id)
    tie-break, so the sample — and therefore the sub-agg — is
    deterministic and cross-engine reproducible. The sample is a
    standard bounded top-k (per-shard heaps) and the
    sub-agg runs over <= shard_size rows: both stages are bounded
    regardless of corpus size."""
    from sparkfts.query import bm25_index_batch

    if shard_size < 1:
        raise ValueError("shard_size must be >= 1")
    top = bm25_index_batch(
        spark, index_dir, [(0, query, int(shard_size))], mode=mode
    ).select("doc_id")
    sample = top.join(doc_values.select("doc_id", field), "doc_id")
    v = F.col(field).cast("long")
    return sample.agg(
        F.count("*").alias("sample_count"),
        F.min(v).alias("min_v"),
        F.max(v).alias("max_v"),
        F.sum(v).alias("sum_v"),
        F.avg(v).alias("avg_v"),
    )


def diversified_sampler_agg(
    spark: SparkSession,
    index_dir: str,
    query: str,
    doc_values: DataFrame,
    field: str,
    dedup_field: str,
    shard_size: int = 100,
    max_docs_per_value: int = 1,
    mode: str = "and",
) -> DataFrame:
    """ES ``diversified_sampler`` bounding a ``stats`` sub-agg -> one
    row ``(sample_count, min_v, max_v, sum_v, avg_v)``: walk the
    matches in relevance order, keep at most ``max_docs_per_value``
    docs per ``dedup_field`` value, stop after ``shard_size`` keeps —
    the anti-bias sample (e.g. one doc per host).

    Pins (documented, same spirit as :func:`sampler_agg`): the walk is
    the GLOBAL BM25 order ((-score, doc_id) ties) rather than ES's
    per-shard walks, so the sample is deterministic; docs missing
    ``dedup_field`` (null) count as one shared value, ES's behavior.

    Scale note: the diversity constraint is order-sensitive, so this
    scores the FULL match set (two window functions: per-value
    occurrence rank in global order, then the global keep cut) — the
    exact-percentiles cost class, honest and bounded by the match set,
    not the corpus. The windows partition by dedup value / nothing but
    only (match set) rows flow; for selective queries this is small,
    and for match-all-sized samples ES's own diversified sampler is
    equally match-set-bound."""
    from pyspark.sql import Window

    from sparkfts.index import read_meta
    from sparkfts.query import bm25_index_batch

    if shard_size < 1:
        raise ValueError("shard_size must be >= 1")
    if max_docs_per_value < 1:
        raise ValueError("max_docs_per_value must be >= 1")
    n_docs = int(read_meta(index_dir)["n_docs"])
    ranked = bm25_index_batch(
        spark, index_dir, [(0, query, n_docs)], mode=mode
    ).select("doc_id", "rank")
    joined = ranked.join(
        doc_values.select("doc_id", field, dedup_field), "doc_id"
    )
    per_val = Window.partitionBy(dedup_field).orderBy(F.asc("rank"))
    kept = joined.withColumn(
        "_occ", F.row_number().over(per_val)
    ).where(F.col("_occ") <= F.lit(int(max_docs_per_value)))
    cut = Window.orderBy(F.asc("rank"))
    sample = kept.withColumn(
        "_keep_rank", F.row_number().over(cut)
    ).where(F.col("_keep_rank") <= F.lit(int(shard_size)))
    v = F.col(field).cast("long")
    return sample.agg(
        F.count("*").alias("sample_count"),
        F.min(v).alias("min_v"),
        F.max(v).alias("max_v"),
        F.sum(v).alias("sum_v"),
        F.avg(v).alias("avg_v"),
    )


def categorize_text(
    docs: DataFrame,
    field: str = "text",
    max_matched_tokens: int = 5,
    size: int = 10,
) -> DataFrame:
    """ES ``categorize_text`` agg -> ``(category, doc_count)``, count
    desc then key asc, top ``size`` buckets.

    Pin (documented): ES's categorizer is a stateful ML token-pattern
    clusterer (Drain-style, 70%-similarity merges) whose buckets depend
    on shard walk order; the deterministic cross-engine pin keys each
    doc by its first ``max_matched_tokens`` non-numeric analyzer tokens
    — tokens containing a digit are the "variable parts" ES's
    categorizer filters out of category definitions. Docs with no
    stable tokens are skipped (no empty category), matching ES's
    behavior of requiring at least one token.

    Scale shape: rowwise JVM expressions (tokenize/filter/slice/join in
    whole-stage codegen) + ONE partially-aggregated groupBy on the
    bounded category-key space; top-``size`` is a TakeOrdered."""
    if max_matched_tokens < 1:
        raise ValueError("max_matched_tokens must be >= 1")
    if size < 1:
        raise ValueError("size must be >= 1")
    toks = F.expr(
        f"regexp_extract_all(lower({field}), '[a-z0-9]+', 0)"
    )
    stable = F.filter(toks, lambda t: ~t.rlike("[0-9]"))
    key = F.array_join(
        F.slice(stable, 1, int(max_matched_tokens)), " "
    )
    return (
        docs.select(key.alias("category"))
        .where(F.length("category") > 0)
        .groupBy("category")
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .orderBy(F.desc("doc_count"), F.asc("category"))
        .limit(int(size))
    )


def random_sampler_agg(
    docs: DataFrame,
    field: str,
    probability_permille: int,
    key_col: str = "doc_id",
) -> DataFrame:
    """ES ``random_sampler`` agg bounding a ``stats`` sub-agg -> one
    row ``(sample_count, min_v, max_v, sum_v, avg_v)`` over a random
    ``probability`` fraction of the docs.

    Pin (documented): ES samples with a seeded RNG per shard; the
    cross-engine deterministic pin is the repo's integer-LCG per-mille
    hash on ``key_col`` (the :mod:`sparkfts.ops.sampling` family) —
    keep a doc iff ``hash(doc) < probability_permille``. Replayable,
    cluster-size-invariant, and DuckDB reproduces the exact keep set.

    Scale shape: a pure rowwise keep predicate inside the scan's
    codegen stage (no shuffle), then one scalar reduce."""
    from sparkfts.ops.sampling import _keep_hash

    if not 0 < probability_permille <= 1000:
        raise ValueError("probability_permille must be in (0, 1000]")
    kept = docs.where(
        _keep_hash(key_col) < F.lit(int(probability_permille))
    )
    v = F.col(field).cast("long")
    return kept.agg(
        F.count(F.lit(1)).cast("long").alias("sample_count"),
        F.min(v).alias("min_v"),
        F.max(v).alias("max_v"),
        F.sum(v).alias("sum_v"),
        F.avg(v).alias("avg_v"),
    )


def variable_width_histogram(
    docs: DataFrame,
    field: str,
    buckets: int = 10,
    key_col: str = "doc_id",
) -> DataFrame:
    """ES ``variable_width_histogram`` agg -> one row per bucket
    ``(bucket_idx, min_v, max_v, centroid, doc_count)``, buckets in
    value order.

    Pin (documented): ES's implementation is a one-pass approximate
    clusterer whose bucket boundaries depend on shard document order;
    the deterministic cross-engine pin is exact equal-frequency
    clustering — ``ntile(buckets)`` over ``(value, key)`` order — which
    preserves the agg's contract (adaptive widths, every bucket
    populated, value-ordered) with reproducible bounds. Ties split by
    ``key_col`` so both engines assign identical rows to buckets.

    Scale shape: one total-order window over the input values — the
    exact-percentiles cost class (documented: bounded by the frame the
    caller passes, typically a match set; use
    :func:`percentiles_approx_agg`-style sketches when the frame is
    corpus-sized)."""
    from pyspark.sql import Window

    if buckets < 1:
        raise ValueError("buckets must be >= 1")
    v = F.col(field).cast("double")
    w = Window.orderBy(F.asc("_v"), F.asc(key_col))
    tiled = docs.select(v.alias("_v"), key_col).withColumn(
        "_b", F.ntile(int(buckets)).over(w)
    )
    return (
        tiled.groupBy(F.col("_b").alias("bucket_idx"))
        .agg(
            F.min("_v").alias("min_v"),
            F.max("_v").alias("max_v"),
            F.avg("_v").alias("centroid"),
            F.count(F.lit(1)).cast("long").alias("doc_count"),
        )
        .orderBy("bucket_idx")
    )


def frequent_item_sets(
    docs: DataFrame,
    fields: list[str],
    min_support: int = 2,
    max_size: int | None = None,
    size: int = 10,
) -> DataFrame:
    """ES ``frequent_item_sets`` agg -> ``(items, set_size,
    doc_count)``: co-occurring sets of field values with at least
    ``min_support`` supporting docs, top ``size`` sets ordered
    doc_count desc, set_size desc (bigger = more informative, ES's
    ranking intent), key asc.

    Pin (documented): ES's implementation samples transactions and
    returns approximate closed sets; here each doc contributes exactly
    one item per listed field (``"field:value"``, null fields
    skipped), so the itemset universe per doc is tiny (<= 2^n_fields
    subsets) and EXACT enumeration is cheap — the deterministic
    cross-engine pin. ``fields`` is capped at 5 (32 subsets/doc).

    Scale shape: one rowwise subset-key projection (driver-enumerated
    masks -> a 2^n-wide array, exploded) + ONE partially-aggregated
    groupBy on the bounded itemset space; top-``size`` is a
    TakeOrdered. No joins, no per-doc combinatorics beyond the fixed
    mask list.
    """
    if not fields:
        raise ValueError("fields must be non-empty")
    if len(set(fields)) != len(fields):
        raise ValueError("fields must be distinct")
    if len(fields) > 5:
        raise ValueError("at most 5 fields (2^n subset blowup)")
    if min_support < 1:
        raise ValueError("min_support must be >= 1")
    cap = len(fields) if max_size is None else int(max_size)
    if cap < 1:
        raise ValueError("max_size must be >= 1")
    subset_cols = []
    n = len(fields)
    for mask in range(1, 2 ** n):
        members = [fields[i] for i in range(n) if mask >> i & 1]
        if len(members) > cap:
            continue
        key = F.concat_ws(
            "|",
            *[
                F.concat(F.lit(f + ":"), F.col(f).cast("string"))
                for f in members
            ],
        )
        valid = F.lit(True)
        for f in members:
            valid = valid & F.col(f).isNotNull()
        subset_cols.append(
            F.when(
                valid,
                F.struct(
                    key.alias("items"),
                    F.lit(len(members)).cast("long").alias("set_size"),
                ),
            )
        )
    exploded = docs.select(
        F.explode(F.array(*subset_cols)).alias("s")
    ).where(F.col("s").isNotNull())
    return (
        exploded.groupBy(
            F.col("s.items").alias("items"),
            F.col("s.set_size").alias("set_size"),
        )
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .where(F.col("doc_count") >= F.lit(int(min_support)))
        .orderBy(
            F.desc("doc_count"), F.desc("set_size"), F.asc("items")
        )
        .limit(int(size))
    )


def ip_to_long(col: str | F.Column) -> F.Column:
    """Dotted-quad IPv4 string -> int64 (big-endian octet weights) —
    the comparable form ES's ip field type sorts/ranges on."""
    c = F.col(col) if isinstance(col, str) else col
    p = F.split(c, "\\.")
    return (
        p[0].cast("long") * F.lit(16777216)
        + p[1].cast("long") * F.lit(65536)
        + p[2].cast("long") * F.lit(256)
        + p[3].cast("long")
    )


def _parse_ip(s: str) -> int:
    parts = s.split(".")
    if len(parts) != 4 or not all(
        p.isdigit() and 0 <= int(p) <= 255 for p in parts
    ):
        raise ValueError(f"not an IPv4 address: {s!r}")
    a, b, c, d = (int(p) for p in parts)
    return (a << 24) | (b << 16) | (c << 8) | d


def ip_range_agg(
    docs: DataFrame,
    ip_col: str,
    ranges: list[dict],
) -> DataFrame:
    """ES ``ip_range`` aggregation -> ``(range_idx, key, doc_count)``
    in request order (ES keeps ranges as given; empty ranges report 0).

    Each range is ``{"from": "a.b.c.d"?, "to": "a.b.c.d"?}`` —
    half-open ``[from, to)``, ES's rule — or ``{"mask": "a.b.c.d/n"}``
    (the CIDR block, expanded to its exact address range). ``key`` is
    the mask string, or ``"from-to"`` with ``*`` for open ends.

    Scale shape (the :func:`geo_distance_agg` pattern): the dotted
    string converts to int64 once, rowwise in codegen, and feeds N
    conditional sums that partial-aggregate map-side — one scalar row
    per range crosses the exchange. No joins, no shuffle keyed on data.
    """
    if not ranges:
        raise ValueError("ranges must be non-empty")
    v = ip_to_long(ip_col)
    aggs, meta = [], []
    for i, r in enumerate(ranges):
        extra = set(r) - {"from", "to", "mask"}
        if extra:
            raise ValueError(f"range {i}: unknown keys {sorted(extra)}")
        if "mask" in r:
            if "from" in r or "to" in r:
                raise ValueError(f"range {i}: mask excludes from/to")
            ip_s, _, bits_s = r["mask"].partition("/")
            bits = int(bits_s)
            if not 0 <= bits <= 32:
                raise ValueError(f"range {i}: bad prefix /{bits_s}")
            span = 1 << (32 - bits)
            lo = _parse_ip(ip_s) & ~(span - 1)
            hi = lo + span
            key = r["mask"]
        else:
            lo = _parse_ip(r["from"]) if r.get("from") else None
            hi = _parse_ip(r["to"]) if r.get("to") else None
            key = (
                (r.get("from") or "*") + "-" + (r.get("to") or "*")
            )
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (v >= F.lit(int(lo)))
        if hi is not None:
            cond = cond & (v < F.lit(int(hi)))
        aggs.append(F.sum(F.when(cond, 1).otherwise(0)).alias(f"__r{i}"))
        meta.append(key)
    row = docs.agg(*aggs)
    kdf = docs.sparkSession.createDataFrame(
        list(enumerate(meta)), "range_idx int, key string"
    )
    counts = row.select(
        F.stack(
            F.lit(len(meta)),
            *[
                x
                for i in range(len(meta))
                for x in (F.lit(i), F.col(f"__r{i}"))
            ],
        ).alias("range_idx", "doc_count")
    )
    return (
        kdf.join(counts, "range_idx")
        .orderBy("range_idx")
        .select(
            "range_idx", "key",
            F.col("doc_count").cast("long").alias("doc_count"),
        )
    )
