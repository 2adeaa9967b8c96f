"""Hybrid retrieval: Reciprocal Rank Fusion of lexical (BM25) and
vector (cosine ANN) rankings.

ES 8's hybrid search fuses a ``query`` (BM25) leg and a ``knn`` leg with
RRF (the reference's deployment delegates all retrieval to one
``client.search`` call, reference ElasticsearchHandler.py:69; RRF is the
standard way that call is extended once a vector field exists):

    rrf_score(d) = sum_i  w_i / (rrf_k + rank_i(d))

over every ranking ``i`` in which ``d`` appears (ES default
``rrf_k = 60``, ``rank_window_size`` = the per-leg candidate depth).

Scale shape: the fuse operates on the LEGS' OUTPUTS — per-query top-N
candidate lists (``n_queries x depth`` rows), never the corpora — so it
is one tiny groupBy + window regardless of index size. Each leg keeps
its own scale path (per-shard top-k kernels for BM25, bucket-pruned LSH /
IVF for ANN); fusion adds no scan and no wide shuffle.

Determinism: contributions are folded in ascending ``system`` index
order (sorted fold, same device as querybuilder's should-sum), so the
float64 total is reproducible and engine-portable; final ties are pinned
``(-score, doc_id asc)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 10,
    rrf_k: int = 60,
    weights: list[float] | None = None,
) -> DataFrame:
    """Fuse per-query rankings -> DataFrame(query_id, rank, doc_id,
    rrf_score).

    Each input DataFrame must have columns ``query_id``, ``rank`` (1-based
    within that system), ``doc_id``. A doc absent from a system simply
    contributes nothing for it (standard RRF).
    """
    if not rankings:
        raise ValueError("rankings must be non-empty")
    if weights is None:
        weights = [1.0] * len(rankings)
    if len(weights) != len(rankings):
        raise ValueError("weights must align with rankings")
    parts = [
        df.select(
            F.col("query_id").cast("int"),
            F.col("doc_id").cast("long"),
            F.lit(i).alias("system"),
            (
                F.lit(float(w))
                / (F.lit(int(rrf_k)) + F.col("rank").cast("double"))
            ).alias("contrib"),
        )
        for i, (df, w) in enumerate(zip(rankings, weights))
    ]
    from functools import reduce

    allc = reduce(lambda a, b: a.unionByName(b), parts)
    # sorted fold over (system, contrib): deterministic float64 sum
    fused = allc.groupBy("query_id", "doc_id").agg(
        F.aggregate(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct(F.col("system"), F.col("contrib")))
                ),
                lambda x: x["contrib"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("rrf_score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_score"), F.asc("doc_id")
    )
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= F.lit(int(k)))
        .select("query_id", F.col("rank").cast("int"), "doc_id", "rrf_score")
    )


def hybrid_rrf_topk(
    spark,
    index_dir: str,
    emb: DataFrame,
    queries: list[tuple[int, str, list[float]]],
    k: int = 10,
    depth: int = 100,
    rrf_k: int = 60,
    mode: str = "or",
) -> DataFrame:
    """End-to-end hybrid search: BM25 leg over a built index + exact
    cosine leg over an embedding table, fused with RRF ->
    DataFrame(query_id, rank, doc_id, rrf_score).

    ``queries``: (query_id, text, query_vector) triples; ``depth`` is
    ES's ``rank_window_size`` (per-leg candidate depth). ``emb`` must
    have (vec_id, embedding) with vec_id keyed like the index's doc_id.
    For billion-vector corpora swap the exact cosine leg for
    :func:`sparkfts.ops.similarity.ann_index_topk` (bucket-pruned scan)
    — the fuse is leg-agnostic.
    """
    from functools import reduce

    from sparkfts.ops.similarity import cosine_topk
    from sparkfts.query import bm25_index_batch

    bm25 = bm25_index_batch(
        spark, index_dir, [(qid, text, depth) for qid, text, _ in queries],
        mode=mode,
    ).select("query_id", "rank", "doc_id")
    ann_rank = Window.orderBy(F.desc("cos_e6"), F.asc("vec_id"))
    ann_parts = [
        cosine_topk(emb, list(qvec), k=depth)
        .withColumn("rank", F.row_number().over(ann_rank))
        .select(
            F.lit(int(qid)).alias("query_id"),
            F.col("rank"),
            F.col("vec_id").alias("doc_id"),
        )
        for qid, _, qvec in queries
    ]
    ann = reduce(lambda a, b: a.unionByName(b), ann_parts)
    return rrf_fuse([bm25, ann], k=k, rrf_k=rrf_k)


def linear_fuse(
    rankings: list[DataFrame],
    k: int = 10,
    weights: list[float] | None = None,
) -> DataFrame:
    """ES ``linear`` retriever: weighted sum of per-system MIN-MAX
    normalized scores -> (query_id, rank, doc_id, score).

    Each input needs ``query_id``, ``doc_id``, ``score``. Normalization
    is per (query, system) over that system's RETRIEVED candidates
    (ES ``normalizer: minmax``): ``(s - min) / (max - min)``, pinned to
    0.0 when ``max == min`` (degenerate one-value leg). Docs missing
    from a system contribute 0 for it. Same scale shape as
    :func:`rrf_fuse` — operates on per-query top-N leg outputs only;
    the min/max frame is one row per (query, system) and broadcasts.
    Deterministic: sorted fold by system index, ties (-score, doc_id).
    """
    if not rankings:
        raise ValueError("rankings must be non-empty")
    if weights is None:
        weights = [1.0] * len(rankings)
    if len(weights) != len(rankings):
        raise ValueError("weights must align with rankings")
    parts = []
    for i, (df, w) in enumerate(zip(rankings, weights)):
        scores = df.select(
            F.col("query_id").cast("int"),
            F.col("doc_id").cast("long"),
            F.col("score").cast("double"),
        )
        mm = scores.groupBy("query_id").agg(
            F.min("score").alias("__mn"), F.max("score").alias("__mx")
        )
        norm = F.when(
            F.col("__mx") > F.col("__mn"),
            (F.col("score") - F.col("__mn"))
            / (F.col("__mx") - F.col("__mn")),
        ).otherwise(F.lit(0.0))
        parts.append(
            scores.join(F.broadcast(mm), "query_id").select(
                "query_id",
                "doc_id",
                F.lit(i).alias("system"),
                (F.lit(float(w)) * norm).alias("contrib"),
            )
        )
    from functools import reduce

    allc = reduce(lambda a, b: a.unionByName(b), parts)
    fused = allc.groupBy("query_id", "doc_id").agg(
        F.aggregate(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(F.col("system"), F.col("contrib"))
                    )
                ),
                lambda x: x["contrib"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= int(k))
        .select("query_id", "rank", "doc_id", "score")
        .orderBy("query_id", "rank")
    )


def hybrid_linear_topk(
    spark,
    index_dir: str,
    emb: DataFrame,
    queries: list[tuple[int, str, list[float]]],
    k: int = 10,
    depth: int = 100,
    weights: tuple[float, float] = (1.0, 1.0),
    mode: str = "or",
) -> DataFrame:
    """End-to-end ES ``linear`` retriever: BM25 leg + exact-cosine leg,
    per-leg min-max normalization over the retrieved ``depth``
    candidates, weighted sum (see :func:`linear_fuse`). Leg scores:
    BM25 float64 (pinned kernel association) and the exact cos_e6
    integer — both engine-reproducible."""
    from functools import reduce

    from sparkfts.ops.similarity import cosine_topk
    from sparkfts.query import bm25_index_batch

    bm25 = bm25_index_batch(
        spark, index_dir,
        [(qid, text, depth) for qid, text, _ in queries], mode=mode,
    ).select("query_id", "doc_id", "score")
    ann_parts = [
        cosine_topk(emb, list(qvec), k=depth).select(
            F.lit(int(qid)).alias("query_id"),
            F.col("vec_id").alias("doc_id"),
            F.col("cos_e6").cast("double").alias("score"),
        )
        for qid, _, qvec in queries
    ]
    ann = reduce(lambda a, b: a.unionByName(b), ann_parts)
    return linear_fuse([bm25, ann], k=k, weights=list(weights))
