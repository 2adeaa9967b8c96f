"""Cross-index search + index aliases.

ES searches ``index1,index2`` (or an alias spanning both) in one
request: every shard scores with ITS OWN index-local statistics (df,
N, avgdl — ES default query-then-fetch; only ``search_type=dfs_*``
globalizes them), and the coordinator merges by score. The reference
pins one index name per sync (reference ElasticsearchToNeo4jSync.py:92
``index=...``); time-partitioned deployments (``logs-2026.08.*``) hit
cross-index search immediately.

Semantics pinned here:

- per-index BM25 with that index's own stats (exactly what each
  single-index kernel already computes);
- global merge ties: (-score, index_ord asc, doc_id asc) where
  ``index_ord`` is the request-order position of the index (ES breaks
  exact ties by internal shard order; request order is the deterministic
  stand-in);
- ``rank`` is global over the merged result.

Scale shape: each index contributes its own per-shard-top-k candidates
(<= n_indexes * n_shards * k rows reach the global window — the same
bounded-merge argument as single-index, one level up). The per-index
plans are composed LAZILY into one union plan: one Spark action per
batch, not per index.

Aliases are a JSON registry (name -> index dir list), the ES alias
surface without the cluster state: reads resolve through
:func:`resolve`, and a multi-index alias is searched with
:func:`bm25_multi_index_batch`.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def bm25_multi_index_batch(
    spark: SparkSession,
    index_dirs: list[str],
    queries: list[tuple[int, str, int]],
    mode: str = "and",
    **kw,
) -> DataFrame:
    """Answer BM25 top-k over SEVERAL indexes in one plan ->
    DataFrame(query_id, rank, index_ord, doc_id, score).

    ``kw`` passes through to :func:`sparkfts.query.bm25_index_batch`
    (filter_expr, must_not, min_should_match, ...); ``offset`` /
    ``search_after`` are rejected — pagination must happen on the merged
    ranking, not per index.
    """
    if not index_dirs:
        raise ValueError("index_dirs must be non-empty")
    for bad in ("offset", "search_after"):
        if kw.get(bad):
            raise ValueError(
                f"{bad} is per-merged-ranking; apply it to the result of "
                "the multi-index merge, not per index"
            )
    from functools import reduce

    from sparkfts.query import bm25_index_batch

    parts = [
        bm25_index_batch(spark, d, queries, mode=mode, **kw).select(
            "query_id",
            F.lit(i).alias("index_ord"),
            "doc_id",
            "score",
        )
        for i, d in enumerate(index_dirs)
    ]
    cand = reduce(lambda a, b: a.unionByName(b), parts)
    from sparkfts.index import lit_map

    k_map = lit_map((qid, k) for qid, _, k in queries)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("index_ord"), F.asc("doc_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= F.element_at(k_map, F.col("query_id")))
        .select(
            "query_id", F.col("rank").cast("int"), "index_ord", "doc_id",
            "score",
        )
    )


# ---------------------------------------------------------------------------
# aliases
# ---------------------------------------------------------------------------


def _alias_path(registry_dir: str) -> str:
    return os.path.join(registry_dir, "aliases.json")


def _load(registry_dir: str) -> dict[str, list[str]]:
    p = _alias_path(registry_dir)
    if not os.path.exists(p):
        return {}
    with open(p) as f:
        return json.load(f)


def put_alias(
    registry_dir: str, name: str, index_dirs: list[str]
) -> None:
    """Create/replace alias ``name`` -> ``index_dirs`` (atomic rewrite,
    same temp-then-rename device as the checkpoint ledger)."""
    if not index_dirs:
        raise ValueError("alias must point at >= 1 index")
    os.makedirs(registry_dir, exist_ok=True)
    aliases = _load(registry_dir)
    aliases[name] = list(index_dirs)
    tmp = _alias_path(registry_dir) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(aliases, f, indent=1, sort_keys=True)
    os.replace(tmp, _alias_path(registry_dir))


def delete_alias(registry_dir: str, name: str) -> None:
    aliases = _load(registry_dir)
    if name not in aliases:
        raise KeyError(f"no such alias: {name}")
    del aliases[name]
    tmp = _alias_path(registry_dir) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(aliases, f, indent=1, sort_keys=True)
    os.replace(tmp, _alias_path(registry_dir))


def resolve(registry_dir: str, name_or_dir: str) -> list[str]:
    """Resolve an alias name to its index dirs; a non-alias string is
    returned as a single literal index dir (ES: names and index
    patterns share one namespace)."""
    aliases = _load(registry_dir)
    if name_or_dir in aliases:
        return aliases[name_or_dir]
    return [name_or_dir]


def search_alias(
    spark: SparkSession,
    registry_dir: str,
    name: str,
    queries: list[tuple[int, str, int]],
    mode: str = "and",
    **kw,
) -> DataFrame:
    """Search an alias: single-target aliases keep the single-index plan
    (and its exact output shape); multi-target aliases run the
    cross-index merge."""
    targets = resolve(registry_dir, name)
    if len(targets) == 1:
        from sparkfts.query import bm25_index_batch

        return bm25_index_batch(spark, targets[0], queries, mode=mode, **kw)
    return bm25_multi_index_batch(spark, targets, queries, mode=mode, **kw)
