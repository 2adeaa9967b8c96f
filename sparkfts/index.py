"""Inverted-index build job: one sorted shuffle -> streaming posting encode.

This is the engine's core artifact (SURVEY.md §1.3): what Lucene maintains
behind the reference's single delegated search call
(reference ElasticsearchHandler.py:69), rebuilt as Spark dataflow.

Dataflow (SURVEY.md §4.3):

  pages (url, warc_ts, html, text, lang)
    -> prepare_pages: sha1 doc ids (+ optional byte-identity validation)
    -> tokenize_docs: (doc_id, term, tf, doclen)   [Arrow kernel, map-side tf]
    -> stats pass: N, avgdl (exact ints -> one float64 division)
    -> repartition(P, term, shard) + sortWithinPartitions(term, shard, doc_id)
       -- THE one wide shuffle of the build
    -> mapInPandas streaming encoder: walks each partition's sorted rows,
       emits one compressed postings row per (term, shard) group, encoding
       MANY groups per Arrow batch with fully vectorized grouped codecs
       (sparkfts.codec.encode_varint_grouped) — no per-group UDF overhead
    -> write postings partitioned by term-hash bucket (query-time partition
       pruning on terms), docmap partitioned by shard, meta.json

Skew handling (north rule): df(term) is Zipfian — a head term can occur in
half of all documents, so a plain term-keyed shuffle would melt one
reducer. The shuffle key here is the SALTED term key: ``(term, shard)``
with ``shard = pmod(doc_id, n_shards)`` — a deterministic doc-space salt
that (a) bounds any single posting group to ~df/n_shards entries, (b) is
sized from data (raise n_shards with corpus size; ``salt_check`` reports
the df skew so misconfiguration is loud), and (c) doubles as the
query-time parallelism unit, so no per-term reconciliation merge is needed
afterwards — shard-local top-k merges globally instead (SURVEY.md §2.5).
Within a partition, sorting is Spark's external sort (spills, no OOM), and
the streaming encoder holds at most one group in memory.
"""

from __future__ import annotations

import hashlib
import json
import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkfts import BM25_B, BM25_K1
from sparkfts.codec import (
    delta_encode_grouped,
    encode_varint_grouped,
)
from sparkfts.stats import term_df
from sparkfts.tokens import build_docmap, prepare_pages, tokenize_docs

POSTINGS_SCHEMA = (
    "term string, shard int, df_shard long, doc_ids binary, tfs binary, "
    "doclens binary, tbucket int"
)

META_FILE = "meta.json"


def term_bucket(term: str, n_tbuckets: int) -> int:
    """Stable term -> partition bucket (sha1-based; same on driver/executor)."""
    return (
        int.from_bytes(hashlib.sha1(term.encode()).digest()[:4], "big")
        % n_tbuckets
    )


def _encode_group_block(
    pdf: pd.DataFrame, starts: np.ndarray, n_tbuckets: int
) -> pd.DataFrame:
    """Encode a batch of complete (term, shard) groups -> postings rows.

    ``pdf`` rows are sorted by (term, shard, doc_id); ``starts`` are the
    first-row offsets of each group. All heavy work is vectorized across
    every group in the batch.
    """
    ids = pdf["doc_id"].to_numpy(dtype=np.int64)
    tfs = pdf["tf"].to_numpy(dtype=np.int64).astype(np.uint64)
    dls = pdf["doclen"].to_numpy(dtype=np.int64).astype(np.uint64)
    n = ids.size
    g = starts.size
    lens = np.diff(np.append(starts, n))

    deltas = delta_encode_grouped(ids.astype(np.uint64), starts)
    ids_blobs = encode_varint_grouped(deltas, starts)
    tfs_blobs = encode_varint_grouped(tfs, starts)
    dls_blobs = encode_varint_grouped(dls, starts)

    terms = pdf["term"].to_numpy()[starts]
    shards = pdf["shard"].to_numpy()[starts]
    return pd.DataFrame(
        {
            "term": terms,
            "shard": shards.astype("int32"),
            "df_shard": lens.astype("int64"),
            "doc_ids": ids_blobs,
            "tfs": tfs_blobs,
            # per-posting doclens ('norms' inlined, ~1 varint byte each):
            # scoring needs no doc-table lookup
            "doclens": dls_blobs,
            "tbucket": np.fromiter(
                (term_bucket(t, n_tbuckets) for t in terms),
                dtype=np.int32,
                count=g,
            ),
        }
    )


def _make_postings_stream(n_tbuckets: int):
    """Streaming encoder over a partition's (term, shard, doc_id)-sorted rows.

    Carries the trailing (possibly incomplete) group across Arrow batch
    boundaries; memory high-water mark is one posting group plus one batch.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pending: pd.DataFrame | None = None
        for pdf in batches:
            if pending is not None and len(pending):
                pdf = pd.concat([pending, pdf], ignore_index=True)
                pending = None
            if not len(pdf):
                continue
            terms = pdf["term"].to_numpy()
            shards = pdf["shard"].to_numpy()
            change = np.empty(len(pdf), bool)
            change[0] = True
            np.logical_or(
                terms[1:] != terms[:-1], shards[1:] != shards[:-1],
                out=change[1:],
            )
            starts = np.nonzero(change)[0]
            # hold back the last group — it may continue in the next batch
            pending = pdf.iloc[starts[-1] :]
            if starts.size > 1:
                yield _encode_group_block(
                    pdf.iloc[: starts[-1]], starts[:-1], n_tbuckets
                )
        if pending is not None and len(pending):
            yield _encode_group_block(
                pending.reset_index(drop=True),
                np.array([0], dtype=np.int64),
                n_tbuckets,
            )

    return gen


ROUTING_HASH_P = 2_147_483_647  # md5-prefix hash modulus (engine-wide)


def shard_expr(n_shards: int, routing_col: str | None = None):
    """Doc -> shard id Column. Default: ``pmod(doc_id, n_shards)`` (a
    doc-space salt). With ES custom routing: the md5-prefix hash of the
    routing value mod ``n_shards`` — every doc sharing a routing value
    lands in ONE shard, so a routed query prunes the scan to that shard
    (the per-tenant/per-host query shape at web scale)."""
    if routing_col is None:
        return F.pmod(F.col("doc_id"), F.lit(n_shards)).cast("int")
    from sparkfts.ops.textstats import term_hash31

    routed = F.coalesce(F.col(routing_col).cast("string"), F.lit(""))
    return F.pmod(term_hash31(routed), F.lit(n_shards)).cast("int")


def routing_shard(value, n_shards: int) -> int:
    """Query-time mirror of :func:`shard_expr`'s routing hash (and of
    the DuckDB spelling ``CAST('0x' || substr(md5(v), 1, 15) AS BIGINT)
    % P % n_shards``)."""
    import hashlib

    h = (
        int(hashlib.md5(str(value).encode("utf-8")).hexdigest()[:15], 16)
        % ROUTING_HASH_P
    )
    return int(h % n_shards)


def build_index(
    pages: DataFrame,
    out_dir: str,
    n_shards: int = 8,
    n_tbuckets: int = 16,
    build_partitions: int | None = None,
    validate_extraction: bool = False,
    shard_filter: list[int] | None = None,
    segment: str | None = None,
    fixed_stats: tuple[int, float] | None = None,
    id_source: str = "sha1",
    docvalue_cols: list[str] | None = None,
    stopwords: list[str] | None = None,
    stemmer: str | None = None,
    store_source: bool = False,
    routing_col: str | None = None,
    expander: str | None = None,
) -> dict:
    """Build (or extend, see ``segment``) an index under ``out_dir``.

    ``shard_filter``: build only these doc-space shards (resumable builds,
    sparkfts.checkpoint drives this); requires ``segment`` so re-runs are
    idempotent overwrites, and ``fixed_stats`` so every batch scores
    against the same global normalization.

    ``stopwords``: OPTIONAL index-time stop filter (ES ``stop`` analyzer
    option; OFF by default — the pinned oracle-contract analyzer takes
    none). The list is stored in ``meta.json`` and read back by every
    query path, so query analysis drops the same terms by construction.

    ``stemmer``: OPTIONAL index-time stemmer applied AFTER the stop
    filter (``"porter"`` = the pinned classic Porter algorithm,
    sparkfts.analysis.porter_stem; OFF by default). Stored in meta and
    re-applied at query analysis like stopwords. Doclen/avgdl are
    unchanged (stemming is 1:1); surface forms stemming alike merge into
    one indexed term with summed tf.

    ``routing_col``: OPTIONAL ES custom routing — shard assignment
    becomes the md5-prefix hash of this column's value instead of the
    doc_id salt, so all docs sharing a routing value co-locate in one
    shard and routed queries (``bm25_index_batch(routing=...)``) scan
    exactly one shard. The column must be available on the prepared
    pages (list it in ``docvalue_cols`` for arbitrary page columns).
    Recorded in meta and inherited by streamed appends. Trade-off vs
    the doc-space salt: a single hot routing value concentrates in one
    shard (ES documents the same skew caveat for custom routing).

    ``expander``: OPTIONAL index-time token expander — ``"edge:1-15"``
    (edge n-grams: the ES autocomplete recipe; a standard-analyzed
    query "spar" hits the indexed gram directly) or ``"shingle:2-3"``
    (word shingles for substring-phrase matching). Index-side ONLY:
    query analysis stays standard by construction (ES search_analyzer
    split), which is why this is a separate slot from the ``stemmer``
    chain. Pinned semantics + the doclen contract (expanded stream) in
    sparkfts.analysis. Mutually exclusive with stopwords/stemmer
    (ES recipes use a dedicated autocomplete subfield with exactly
    this analyzer) and with positions (build_positions refuses).

    Returns the meta dict (also written to ``meta.json``).
    """
    from sparkfts.analysis import _parse_expander, stem_fn

    stem_fn(stemmer)  # fail loud on unknown option before any job runs
    _parse_expander(expander)
    if expander is not None and (stopwords or stemmer):
        raise ValueError(
            "expander composes only with the pinned default analyzer "
            "(no stopwords/stemmer) — use a dedicated autocomplete "
            "index, the ES subfield recipe"
        )
    if shard_filter is not None and fixed_stats is None:
        raise ValueError(
            "shard-filtered builds must pin global (n_docs, avgdl) via "
            "fixed_stats — per-batch stats would skew BM25 normalization"
        )
    if shard_filter is not None and segment is None:
        raise ValueError(
            "shard-filtered builds must write into a named segment so that "
            "re-running a failed batch is an idempotent overwrite"
        )
    spark = pages.sparkSession
    prepared = prepare_pages(
        pages,
        validate_extraction=validate_extraction,
        id_source=id_source,
        keep_cols=docvalue_cols,
    )
    if routing_col is not None and routing_col not in prepared.columns:
        raise ValueError(
            f"routing_col {routing_col!r} not on the prepared pages; "
            "add it to docvalue_cols (or use a canonical page column)"
        )
    prepared = prepared.withColumn(
        "shard", shard_expr(n_shards, routing_col)
    )
    if shard_filter is not None:
        prepared = prepared.where(F.col("shard").isin(list(shard_filter)))
    prepared = prepared.cache()

    if routing_col is None:
        tokens = tokenize_docs(
            prepared, stopwords=stopwords, stemmer=stemmer,
            expander=expander,
        ).withColumn(
            "shard", F.pmod(F.col("doc_id"), F.lit(n_shards)).cast("int")
        )
    else:
        # routed shards aren't derivable from doc_id: the tokenizer
        # passes the prepared frame's shard through each Arrow batch
        tokens = tokenize_docs(
            prepared, stopwords=stopwords, stemmer=stemmer,
            shard_col="shard", expander=expander,
        )
    # stats come from the docmap pass (a vectorized regex COUNT per doc),
    # not from a second full tokenization: sum(doclen) == total tokens, so
    # avgdl is bit-identical to the oracle's and the expensive
    # tokenize+shuffle pipeline below runs exactly ONCE per build
    if routing_col is None:
        docmap = build_docmap(
            prepared, docvalue_cols=docvalue_cols, stopwords=stopwords,
            stemmer=stemmer, expander=expander,
        ).withColumn(
            "shard", F.pmod(F.col("doc_id"), F.lit(n_shards)).cast("int")
        )
    else:
        docmap = build_docmap(
            prepared,
            docvalue_cols=list(docvalue_cols or []) + ["shard"],
            stopwords=stopwords,
            stemmer=stemmer,
            expander=expander,
        )
    docmap = docmap.cache()
    if fixed_stats is not None:
        n_docs, avgdl = int(fixed_stats[0]), float(fixed_stats[1])
    else:
        stats_row = docmap.agg(
            F.count("*").alias("n"),
            F.sum(F.col("doclen").cast("long")).alias("t"),
        ).collect()[0]
        n_docs = int(stats_row["n"])
        avgdl = (int(stats_row["t"] or 0) / n_docs) if n_docs else 0.0

    if build_partitions is None:
        build_partitions = int(
            spark.conf.get("spark.sql.shuffle.partitions", "32")
        )
    postings = (
        tokens.repartition(build_partitions, "term", "shard")
        .sortWithinPartitions("term", "shard", "doc_id")
        .mapInPandas(
            _make_postings_stream(n_tbuckets),
            POSTINGS_SCHEMA,
        )
    )

    from sparkfts.storage import write_table

    seg = os.path.join(out_dir, "segments", segment) if segment else out_dir
    # consolidate to one writer task per term bucket BEFORE the write:
    # without this, every (shuffle partition x tbucket) pair emits its
    # own file — ~1000 tiny files whose listing/open cost dominates
    # every later read (terms derivation, every query scan). The extra
    # shuffle moves only the compressed index (~25x smaller than the
    # token rows already shuffled above); at larger scale n_tbuckets
    # grows with the cluster so writer parallelism is preserved.
    write_table(
        postings.repartition(n_tbuckets, "tbucket").sortWithinPartitions(
            "tbucket", "term", "shard"
        ),
        os.path.join(seg, "postings"),
        partition_by=["tbucket"],
    )
    write_table(
        docmap.repartition(n_shards, "shard").sortWithinPartitions("doc_id"),
        os.path.join(seg, "docmap"),
        partition_by=["shard"],
    )
    if store_source:
        # ES _source: the extracted text, shard-partitioned like the
        # docmap. Enables reindex (re-analyze without the original
        # corpus); costs ~1x corpus bytes on disk, so OFF by default.
        write_table(
            prepared.select("doc_id", "text", "shard")
            .repartition(n_shards, "shard")
            .sortWithinPartitions("doc_id"),
            os.path.join(seg, "source"),
            partition_by=["shard"],
        )
    _write_terms(spark, seg, n_tbuckets)

    meta = {
        "version": 1,
        "n_docs": int(n_docs),
        "avgdl": float(avgdl),
        "n_shards": n_shards,
        "n_tbuckets": n_tbuckets,
        "k1": BM25_K1,
        "b": BM25_B,
        "segment": segment,
        "docvalue_cols": list(docvalue_cols or []),
        "stopwords": sorted(stopwords) if stopwords else [],
        "stemmer": stemmer or None,
        "store_source": bool(store_source),
        "routing_col": routing_col or None,
        "id_source": id_source,
        "expander": expander or None,
    }
    os.makedirs(seg, exist_ok=True)
    tmp = os.path.join(seg, META_FILE + ".tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f, indent=2)
    os.replace(tmp, os.path.join(seg, META_FILE))
    docmap.unpersist()
    prepared.unpersist()
    return meta


def _write_terms(spark: SparkSession, seg_dir: str, n_tbuckets: int) -> None:
    """Write the segment's term dictionary: ``terms(term, df, tbucket)``.

    The Lucene-style term dictionary, derived from the just-written
    postings by a columnar read of (term, df_shard, tbucket) only — the
    posting blobs are never touched (parquet column pruning). Query time
    reads THIS tiny table for idf and fuzzy expansion instead of
    re-aggregating postings.
    """
    from sparkfts.storage import is_table_identifier, write_table

    loc = os.path.join(seg_dir, "postings")
    if is_table_identifier(loc):
        src_df = spark.read.table(loc)
    else:
        # explicit schema: an empty corpus writes a data-file-less parquet
        # dir, where schema inference would fail
        src_df = spark.read.schema(POSTINGS_SCHEMA).parquet(loc)
    src = src_df.select("term", "df_shard", "tbucket")
    terms = src.groupBy("term").agg(
        F.sum("df_shard").alias("df"), F.first("tbucket").alias("tbucket")
    )
    # one task per bucket -> one file per bucket dir (not shuffle.partitions
    # x buckets tiny files)
    write_table(
        terms.repartition(n_tbuckets, "tbucket").sortWithinPartitions("term"),
        os.path.join(seg_dir, "terms"),
        partition_by=["tbucket"],
    )


def load_terms(spark: SparkSession, index_dir: str) -> DataFrame:
    """Term dictionary across segments -> ``(term, df, tbucket)``.

    df is summed across segments (disjoint doc spaces). Falls back to
    deriving from postings for indexes built before the terms table
    existed.
    """
    key = (
        spark.sparkContext.applicationId,
        os.path.abspath(index_dir),
        "terms_derived",
        _index_generation(index_dir),
    )
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    dirs = segment_dirs(index_dir)
    if all(os.path.isdir(os.path.join(d, "terms")) for d in dirs):
        from sparkfts.storage import read_table

        per = [read_table(spark, os.path.join(d, "terms")) for d in dirs]
        if len(per) == 1:
            # single segment: the terms table already has exactly one row
            # per term (written via groupBy at build) — skip the
            # cross-segment summing agg, saving a shuffle on EVERY query's
            # df lookup (a measurable slice of the per-query driver floor)
            out = per[0].select("term", "df", "tbucket")
            _TABLE_CACHE[key] = out
            return out
        from functools import reduce

        unioned = reduce(lambda a, b: a.unionByName(b), per)
    else:
        unioned = load_postings(spark, index_dir).select(
            "term", F.col("df_shard").alias("df"), "tbucket"
        )
    out = unioned.groupBy("term").agg(
        F.sum("df").alias("df"), F.first("tbucket").alias("tbucket")
    )
    _TABLE_CACHE[key] = out
    return out


def salt_check(tokens: DataFrame, n_shards: int, top: int = 10) -> list[dict]:
    """Report the largest (term, shard) groups — the df-skew visibility tool.

    At 10^12 docs, run this on a sample to size n_shards so the max group
    stays within executor memory (SURVEY.md §7.3 'Skew').
    """
    dfs = term_df(tokens, salted=True)
    rows = dfs.orderBy(F.desc("df")).limit(top).collect()
    return [
        {
            "term": r["term"],
            "df": int(r["df"]),
            "max_group_rows": int(r["df"]) // n_shards + 1,
        }
        for r in rows
    ]


def read_meta(index_dir: str) -> dict:
    with open(os.path.join(index_dir, META_FILE)) as f:
        return json.load(f)


def segment_dirs(index_dir: str) -> list[str]:
    """Root (if materialized) + committed segment dirs, in stable order.

    Order defines segment precedence for doc_id dedup at merge time:
    later entries win (root is oldest, segments sorted by name).
    """
    out = []
    if os.path.isdir(os.path.join(index_dir, "postings")):
        out.append(index_dir)
    segs = os.path.join(index_dir, "segments")
    if os.path.isdir(segs):
        for name in sorted(os.listdir(segs)):
            d = os.path.join(segs, name)
            if os.path.isdir(os.path.join(d, "postings")):
                out.append(d)
    return out


def in_list(col: str, values) -> F.Column:
    """``col IN (...)`` as ONE SQL expression.

    ``F.col(c).isin(values)`` makes one py4j round-trip per literal —
    ~0.3 s of driver time for a 250-term batch, a pure fixed cost that
    caps batch-query scaling efficiency. One ``F.expr`` string is one
    round-trip; Catalyst sees the identical IN predicate (same pushdown,
    same row-group pruning). Values are analyzer/int output; single
    quotes are doubled defensively.
    """
    vals = list(values)
    if not vals:
        return F.lit(False)
    if isinstance(vals[0], (int, float)):
        body = ", ".join(str(v) for v in vals)
    else:
        body = ", ".join(
            "'" + str(v).replace("'", "''") + "'" for v in vals
        )
    return F.expr(f"{col} IN ({body})")


def _sql_lit(v) -> str:
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        # repr() is the shortest round-trip form; string->double cast
        # parses to the nearest (= identical) double. A bare decimal
        # literal would land as DECIMAL in Spark SQL, so cast explicitly.
        return f"CAST('{v!r}' AS DOUBLE)"
    return "'" + str(v).replace("'", "''") + "'"


def lit_map(pairs) -> F.Column:
    """Literal ``map(k1, v1, k2, v2, ...)`` as ONE SQL expression.

    ``F.create_map(*[F.lit(k), F.lit(v), ...])`` costs one py4j
    round-trip per literal — ~1.0 s of pure driver time for a 400-query
    batch's k_map, the single largest cluster-size-invariant cost in the
    batch floor (measured; BENCH/BASELINE.md round 4). One ``F.expr``
    string is one round-trip and yields the identical Catalyst literal
    map.
    """
    items = []
    for k, v in pairs:
        items.append(_sql_lit(k))
        items.append(_sql_lit(v))
    if not items:
        return F.expr("map()")
    return F.expr("map(" + ", ".join(items) + ")")


# (applicationId, index_dir, sub, generation) -> lazy DataFrame.
# A loaded table is a pure function of the on-disk index GENERATION
# (root meta mtime + the committed segment-dir list): build/merge/append
# all rewrite meta.json, so the fingerprint changes whenever content
# can. Caching the lazy frame skips per-query file re-listing + union
# plan rebuild (~0.5 s of pure driver time per batch call) — the same
# reason ES caches its IndexReader per segment generation. Tombstones
# are NOT cached here (deletes don't touch meta; sparkfts.deletes loads
# them per call / via Searcher.refresh_deletes).
_TABLE_CACHE: dict = {}
_TABLE_CACHE_MAX = 32


def _index_generation(index_dir: str) -> tuple:
    dirs = segment_dirs(index_dir)
    mp = os.path.join(index_dir, META_FILE)
    m = os.stat(mp).st_mtime_ns if os.path.exists(mp) else 0
    return (tuple(dirs), m)


# generation-keyed driver-side df dictionary (ES keeps the terms
# dictionary in memory per segment reader; same idea). False = "too big
# for the driver, use the per-batch pruned collect".
_DFMAP_CACHE: dict = {}
DF_LOCAL_THRESHOLD = 500_000


def df_map_for(
    spark: SparkSession, index_dir: str, terms: list[str]
) -> dict[str, int]:
    """Global df for ``terms`` with a generation-cached dictionary.

    First call per index generation counts the dictionary; if it fits
    (<= DF_LOCAL_THRESHOLD rows, ~40 MB) the WHOLE terms table is pulled
    once via Arrow and every later batch's df lookup is a driver dict
    hit — removing the per-batch df-collect job entirely (it was the
    largest remaining cluster-size-invariant cost in the warm batch
    floor). Web-scale dictionaries exceed the threshold and fall back to
    the per-batch pruned-scan collect, which stays bounded by the query
    term count. Deletes never change df (ES semantics: idf moves only at
    merge), so generation keying is exact.
    """
    from sparkfts.session import session_cores

    key = (
        spark.sparkContext.applicationId,
        os.path.abspath(index_dir),
        "dfmap",
        _index_generation(index_dir),
    )
    ent = _DFMAP_CACHE.get(key)
    if ent is None:
        t = load_terms(spark, index_dir)
        if t.count() <= DF_LOCAL_THRESHOLD:
            pdf = t.select("term", "df").toPandas()
            ent = dict(zip(pdf["term"], pdf["df"].astype(int)))
        else:
            ent = False
        if len(_DFMAP_CACHE) >= 8:
            _DFMAP_CACHE.pop(next(iter(_DFMAP_CACHE)))
        _DFMAP_CACHE[key] = ent
    if ent is not False:
        return {t: int(ent.get(t, 0)) for t in terms}
    meta = read_meta(index_dir)
    buckets = sorted({term_bucket(t, meta["n_tbuckets"]) for t in terms})
    rows = (
        load_terms(spark, index_dir)
        .where(in_list("tbucket", buckets) & in_list("term", terms))
        .select("term", "df")
        .coalesce(session_cores(spark))
        .collect()
    )
    return {r["term"]: int(r["df"]) for r in rows}


def _load_union(spark: SparkSession, index_dir: str, sub: str) -> DataFrame:
    from functools import reduce

    dirs = segment_dirs(index_dir)
    if not dirs:
        raise FileNotFoundError(f"no {sub} under {index_dir}")
    key = (
        spark.sparkContext.applicationId,
        os.path.abspath(index_dir),
        sub,
        _index_generation(index_dir),
    )
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    from sparkfts.storage import read_table

    dfs = [
        read_table(spark, os.path.join(d, sub)).withColumn(
            "segment_id", F.lit(i)
        )
        for i, d in enumerate(dirs)
    ]
    out = reduce(lambda a, b: a.unionByName(b), dfs)
    if len(_TABLE_CACHE) >= _TABLE_CACHE_MAX:
        _TABLE_CACHE.pop(next(iter(_TABLE_CACHE)))
    _TABLE_CACHE[key] = out
    return out


def load_postings(spark: SparkSession, index_dir: str) -> DataFrame:
    """Postings across root + segments (disjoint doc spaces per shard batch;
    overlapping doc sets must be compacted by sparkfts.merge first)."""
    return _load_union(spark, index_dir, "postings")


def load_docmap(spark: SparkSession, index_dir: str) -> DataFrame:
    return _load_union(spark, index_dir, "docmap")


def load_source(spark: SparkSession, index_dir: str) -> DataFrame:
    """The stored ``_source`` table (doc_id, text, shard, segment_id);
    raises if the index (or any of its segments) was built without
    ``store_source=True``."""
    missing = [
        d
        for d in segment_dirs(index_dir)
        if not os.path.isdir(os.path.join(d, "source"))
    ]
    if missing:
        raise FileNotFoundError(
            f"no _source under {missing} (build_index(store_source=True) "
            "to enable reindex/source retrieval)"
        )
    return _load_union(spark, index_dir, "source")


def index_stats(spark: SparkSession, index_dir: str) -> dict:
    """ES ``_stats``-style introspection: per-segment and total doc /
    term / posting counts, tombstones, on-disk bytes. Columnar reads
    only (df_shard / doclen columns; posting blobs untouched)."""
    import glob

    from sparkfts.deletes import load_tombstones
    from sparkfts.storage import read_table

    meta = read_meta(index_dir)
    segs = []
    for d in segment_dirs(index_dir):
        postings = read_table(spark, os.path.join(d, "postings"))
        agg = postings.agg(
            F.count("*").alias("rows"),
            F.sum("df_shard").alias("postings"),
            F.countDistinct("term").alias("terms"),
        ).collect()[0]
        n_docs = read_table(spark, os.path.join(d, "docmap")).count()
        nbytes = sum(
            os.path.getsize(f)
            for f in glob.glob(os.path.join(d, "**", "*"), recursive=True)
            if os.path.isfile(f)
        )
        segs.append(
            {
                "segment": os.path.relpath(d, index_dir),
                "docs": int(n_docs),
                "terms": int(agg["terms"]),
                "postings": int(agg["postings"] or 0),
                "posting_rows": int(agg["rows"]),
                "bytes": int(nbytes),
            }
        )
    tombs = load_tombstones(spark, index_dir)
    return {
        "n_docs": meta["n_docs"],
        "avgdl": meta["avgdl"],
        "n_shards": meta["n_shards"],
        "n_tbuckets": meta["n_tbuckets"],
        "tombstones": 0 if tombs is None else int(tombs.size),
        "segments": segs,
        "total_bytes": sum(s["bytes"] for s in segs),
        "total_postings": sum(s["postings"] for s in segs),
    }
