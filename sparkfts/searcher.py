"""Warm query serving: an open index with cached postings + term stats.

The reference's search latency profile comes from Elasticsearch keeping
the Lucene index open between requests (reference ElasticsearchHandler.py
creates one client and reuses it across ``dataFetch`` calls). The
cold-path equivalent here (:func:`sparkfts.query.bm25_index_batch`)
re-lists and re-scans parquet per call; :class:`Searcher` is the serving
shape: construct once per index, then issue queries against

  - the postings DataFrame persisted in executor memory (decompressed
    columnar cache; filter-by-term happens in memory, no file listing),
  - a driver-side LRU of term -> global df (the term dictionary is only
    consulted for terms not yet seen — at web scale the dictionary is
    too big to collect, but query-term reuse is Zipfian too).

Scale note: on a cluster the persisted postings live across executors
(MEMORY_AND_DISK, partition-local); a query still touches only the
shards' cached blocks it needs. Nothing is collected to the driver except
k rows per query and the df values of queried terms.
"""

from __future__ import annotations

import string
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparkfts.analysis import tokenize_query
from sparkfts.query import RESULT_SCHEMA, _make_shard_scorer


_CHAR_IDX = {c: i for i, c in enumerate(string.ascii_lowercase + string.digits)}


class Searcher:
    """One open index. Thread-compatible with Spark's driver model."""

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        cache_postings: bool = True,
        df_cache_size: int = 100_000,
        local_threshold: int = 1_000_000,
        local_cache_terms: int = 10_000,
        fuzzy_max_expansions: int | None = 50,
    ) -> None:
        from sparkfts.index import load_docmap, load_postings, load_terms, read_meta

        self.spark = spark
        self.index_dir = index_dir
        self.meta = read_meta(index_dir)
        # query analysis must mirror the index build (latent gap fixed:
        # stopworded/stemmed indexes now analyze identically on the
        # warm-serving paths)
        from sparkfts.analysis import analysis_opts

        self._sw, self._stem = analysis_opts(self.meta)
        self._terms = load_terms(spark, index_dir)
        self._postings = load_postings(spark, index_dir)
        if cache_postings:
            # coalesce the cache to core count first: the file scan uses
            # small maxPartitionBytes for split parallelism, which at
            # ~1M docs leaves 300+ cached partitions — every warm
            # distributed query then pays 300+ task launches just to
            # sweep the cache (~0.6 s measured scheduling floor at 1M
            # docs). Coalesced to defaultParallelism the same sweep is
            # ~0.25 s; per-shard kernel parallelism is unaffected (the
            # groupby("shard") exchange re-spreads work).
            self._postings = self._postings.coalesce(
                spark.sparkContext.defaultParallelism
            ).cache()
        self._docmap = load_docmap(spark, index_dir)
        self._df_lru: OrderedDict[str, int] = OrderedDict()
        self._df_cache_size = df_cache_size
        # coordinator fast path: queries whose total posting volume
        # (sum of df over query terms — known from the dictionary BEFORE
        # any scan) is below this threshold are answered on the driver
        # from decoded-postings cache, skipping the Spark job entirely.
        # 0 disables. At 10^12 docs head terms blow the threshold and
        # fall back to the distributed kernels — same results either way
        # (identical numpy kernels, identical tie-breaks; tested).
        self.local_threshold = int(local_threshold)
        # tombstoned docs (sparkfts.deletes), masked in every kernel; a
        # long-lived Searcher must call refresh_deletes() after new
        # deletes land (tombstones are loaded once here, and every query
        # path reads self.tombstones at call time)
        from sparkfts.deletes import load_tombstones

        self.tombstones = load_tombstones(spark, index_dir)
        self._local_cache: OrderedDict[str, tuple] = OrderedDict()
        self._local_cache_terms = local_cache_terms
        # fuzzy expansion dictionary gate (terms, not postings)
        self.dict_threshold = 1_000_000
        self._dict_cache: list[tuple[str, int]] | None = None
        self._dict_by_len: dict = {}
        self._exp_cache: dict[
            tuple[str, bool], list[tuple[str, float]]
        ] = {}
        # serving-side recall/cost cap on fuzzy expansion (ES default 50):
        # a pathological dictionary (thousands of terms within edit
        # distance) stays bounded. None = exhaustive — that is what the
        # oracle-parity paths (bm25_index_fuzzy_batch default) use.
        # Recall bound: only the `fuzzy_max_expansions` closest dictionary
        # terms (ties by term) contribute; docs matching only dropped
        # expansions are missed, exactly like ES's max_expansions.
        self.fuzzy_max_expansions = fuzzy_max_expansions

    def refresh_deletes(self) -> None:
        """Reload the tombstone set after new deletes land.

        Every query path reads ``self.tombstones`` at call time (the
        decoded-postings caches store RAW postings; the exclude mask is
        applied per query), so a reload is all that's needed — no cache
        invalidation.
        """
        from sparkfts.deletes import load_tombstones

        self.tombstones = load_tombstones(self.spark, self.index_dir)

    # -- term stats ---------------------------------------------------------

    def term_dfs(self, terms: list[str]) -> dict[str, int]:
        """Global df per term, LRU-cached; one pruned scan for the misses."""
        missing = [t for t in terms if t not in self._df_lru]
        if missing:
            from sparkfts.index import term_bucket

            buckets = sorted(
                {term_bucket(t, self.meta["n_tbuckets"]) for t in missing}
            )
            rows = (
                self._terms.where(
                    F.col("tbucket").isin(buckets)
                    & F.col("term").isin(missing)
                )
                .select("term", "df")
                .collect()
            )
            found = {r["term"]: int(r["df"]) for r in rows}
            for t in missing:
                self._df_lru[t] = found.get(t, 0)
        out = {}
        for t in terms:
            self._df_lru.move_to_end(t)
            out[t] = self._df_lru[t]
        while len(self._df_lru) > self._df_cache_size:
            self._df_lru.popitem(last=False)
        return out

    # -- coordinator fast path ---------------------------------------------

    def _local_postings(self, terms: list[str]) -> dict[str, tuple]:
        """Decoded (doc_ids, tfs, doclens) per term, LRU-cached on driver.

        Shard/segment runs merge exactly like the distributed reader's
        (:func:`sparkfts.query.decode_runs`).
        """
        from sparkfts.query import decode_runs

        missing = [t for t in terms if t not in self._local_cache]
        if missing:
            rows = (
                self._postings.where(F.col("term").isin(missing))
                .select("term", "doc_ids", "tfs", "doclens")
                .collect()
            )
            by_term: dict[str, list] = {}
            for r in rows:
                by_term.setdefault(r["term"], []).append(r)
            for t in missing:
                self._local_cache[t] = decode_runs(by_term.get(t))
        out = {}
        for t in terms:
            self._local_cache.move_to_end(t)
            out[t] = self._local_cache[t]
        while len(self._local_cache) > self._local_cache_terms:
            self._local_cache.popitem(last=False)
        return out

    def _search_local(
        self,
        analyzed: list[tuple[int, list[str], int]],
        df_map: dict[str, int],
        mode: str,
        offset: int,
        afters: dict[int, tuple[float, int]] | None = None,
    ) -> list[tuple]:
        """Driver-side scoring with the SAME kernels as the shard UDF."""
        import numpy as np

        from sparkfts.stats import idf as idf_fn
        from sparkfts.wand import score_conjunctive, score_disjunctive

        postings = self._local_postings(
            sorted({t for _, terms, _ in analyzed for t in terms})
        )
        out_rows: list[tuple] = []
        for qid, terms, k_eff in analyzed:
            tp = [postings[t] for t in terms]  # sorted-term order
            idfs = np.array(
                [idf_fn(self.meta["n_docs"], df_map.get(t, 0)) for t in terms],
                np.float64,
            )
            after = (afters or {}).get(qid)
            if mode == "and":
                ids, scores = score_conjunctive(
                    tp, idfs, self.meta["avgdl"], k_eff, after=after,
                    exclude=self.tombstones,
                )
            else:
                ids, scores = score_disjunctive(
                    tp, idfs, self.meta["avgdl"], k_eff, after=after,
                    exclude=self.tombstones,
                )
            for rank0 in range(offset, ids.size):
                out_rows.append(
                    (qid, rank0 + 1, int(ids[rank0]), float(scores[rank0]))
                )
        return out_rows

    # -- querying -----------------------------------------------------------

    def search_batch(
        self,
        queries: list[tuple[int, str, int]],
        mode: str = "and",
        resolve_urls: bool = False,
        offset: int = 0,
        search_after: dict[int, tuple[float, int]] | None = None,
        filter_expr: str | None = None,
        must_not: dict[int, str] | None = None,
    ) -> DataFrame:
        """Same plan + kernels as ``bm25_index_batch``, warm inputs.

        ``filter_expr`` / ``must_not``: ES ``bool.filter`` /
        ``bool.must_not`` (see :func:`sparkfts.query.bm25_index_batch`).
        Both bypass the coordinator fast path (the filter's allowed set
        must never be collected to the driver — it can be
        corpus-proportional) and run the distributed cogroup/exclusion
        kernels instead.
        """
        if search_after and offset:
            raise ValueError("offset and search_after are mutually exclusive")
        analyzed = [
            (qid, tokenize_query(text, self._sw, self._stem), k)
            for qid, text, k in queries
        ]
        analyzed = [(qid, t, k + int(offset)) for qid, t, k in analyzed if t]
        if not analyzed or self.meta["n_docs"] == 0:
            return self.spark.createDataFrame([], RESULT_SCHEMA)

        if mode not in ("and", "or"):
            raise ValueError(f"unknown mode {mode!r}")
        must_not_map: dict[int, list[str]] = {}
        for qid, text in (must_not or {}).items():
            mn_terms = tokenize_query(text, self._sw, self._stem)
            if mn_terms:
                must_not_map[qid] = mn_terms
        all_terms = sorted(
            {t for _, terms, _ in analyzed for t in terms}
            | {t for terms in must_not_map.values() for t in terms}
        )
        df_map = self.term_dfs(all_terms)

        # coordinator fast path: posting volume known from df alone
        total_df = sum(df_map.get(t, 0) for t in all_terms)
        if (
            self.local_threshold
            and not resolve_urls
            and not must_not_map
            and filter_expr is None
            and total_df <= self.local_threshold
        ):
            rows = self._search_local(
                analyzed, df_map, mode, int(offset), afters=search_after
            )
            rows.sort(key=lambda r: (r[0], r[1]))
            return self.spark.createDataFrame(rows, RESULT_SCHEMA)

        from sparkfts.index import in_list

        joined = self._postings.where(in_list("term", all_terms))
        scorer = _make_shard_scorer(
            analyzed,
            self.meta["n_docs"],
            self.meta["avgdl"],
            mode,
            afters=search_after,
            exclude=self.tombstones,
            must_not_map=must_not_map or None,
            filtered=filter_expr is not None,
            df_map=df_map,
        )
        result_schema = "query_id int, doc_id long, score double"
        if filter_expr is not None:
            allowed = (
                self._docmap.where(F.expr(filter_expr))
                .select("shard", "doc_id")
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
        w = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        out = (
            local.withColumn("rank", F.row_number().over(w))
            .where(
                (F.col("rank") <= F.element_at(k_map, F.col("query_id")))
                & (F.col("rank") > F.lit(int(offset)))
            )
            .select("query_id", F.col("rank").cast("int"), "doc_id", "score")
        )
        if resolve_urls:
            urls = self._docmap.select("doc_id", "url")
            out = out.join(urls, "doc_id", "left").select(
                "query_id", "rank", "doc_id", "url", "score"
            )
        return out.orderBy("query_id", "rank")

    def search_rows(
        self,
        queries: list[tuple[int, str, int]],
        mode: str = "and",
        offset: int = 0,
        search_after: dict[int, tuple[float, int]] | None = None,
    ) -> list[tuple[int, int, int, float]]:
        """Serving API: ``(query_id, rank, doc_id, score)`` tuples.

        Eligible queries (total df under ``local_threshold``) are answered
        entirely on the driver — sub-millisecond kernels over cached
        postings, no Spark job, no DataFrame wrapping (measured ~0.5s of
        pure overhead at this result size). Heavy queries transparently
        run the distributed plan and collect.

        ``search_after``: per query_id cursor ``(score, doc_id)`` — O(k)
        pages at any depth (see :func:`sparkfts.query.bm25_index_batch`);
        mutually exclusive with ``offset``.
        """
        if mode not in ("and", "or"):
            raise ValueError(f"unknown mode {mode!r}")
        if search_after and offset:
            raise ValueError("offset and search_after are mutually exclusive")
        analyzed = [
            (qid, tokenize_query(text, self._sw, self._stem),
             k + int(offset))
            for qid, text, k in queries
        ]
        analyzed = [(qid, t, k) for qid, t, k in analyzed if t]
        if not analyzed or self.meta["n_docs"] == 0:
            return []
        all_terms = sorted({t for _, terms, _ in analyzed for t in terms})
        df_map = self.term_dfs(all_terms)
        # per-query gating: a mixed batch splits — df-light queries run on
        # the driver, df-heavy ones go to the cluster in ONE Spark batch
        light = [
            q
            for q in analyzed
            if self.local_threshold
            and sum(df_map.get(t, 0) for t in q[1]) <= self.local_threshold
        ]
        heavy_ids = {q[0] for q in analyzed} - {q[0] for q in light}
        rows: list[tuple[int, int, int, float]] = []
        if light:
            rows.extend(
                self._search_local(
                    light, df_map, mode, int(offset), afters=search_after
                )
            )
        if heavy_ids:
            heavy_queries = [q for q in queries if q[0] in heavy_ids]
            out = self.search_batch(
                heavy_queries,
                mode=mode,
                offset=offset,
                search_after=search_after,
            ).collect()
            rows.extend(
                (r["query_id"], r["rank"], r["doc_id"], r["score"])
                for r in out
            )
        rows.sort(key=lambda r: (r[0], r[1]))
        return rows

    # -- fuzzy serving ------------------------------------------------------

    def _local_dictionary(self) -> list[tuple[str, int]] | None:
        """Driver-cached (term, df) dictionary, or None when too big.

        Gated by ``dict_threshold`` terms: a 10^12-doc dictionary
        (~10^8-10^9 terms) can never be collected, so fuzzy falls back to
        the distributed Levenshtein join there; corpora whose dictionary
        fits get millisecond expansion.
        """
        if self._dict_cache is not None:
            return self._dict_cache or None
        n_terms = self._terms.count()
        if n_terms > self.dict_threshold:
            self._dict_cache = []  # sentinel: known too big
            return None
        rows = self._terms.select("term", "df").collect()
        self._dict_cache = [(r["term"], int(r["df"])) for r in rows]
        # length buckets: expansion for a term of length L with max edit
        # distance d only needs dictionary lengths [L-d, L+d]. Each bucket
        # carries a [n_terms, 36] character-count matrix for the standard
        # vectorized lower bound lev(a,b) >= max(|a|,|b|) - common_chars:
        # the O(len^2) DP then runs on the few surviving candidates only.
        import numpy as np

        self._dict_by_len = {}
        tmp: dict[int, list[tuple[str, int]]] = {}
        for t, df in self._dict_cache:
            tmp.setdefault(len(t), []).append((t, df))
        for ln, entries in tmp.items():
            counts = np.zeros((len(entries), 36), np.int16)
            for i, (t, _) in enumerate(entries):
                for ch in t:
                    counts[i, _CHAR_IDX[ch]] += 1
            self._dict_by_len[ln] = (entries, counts)
        return self._dict_cache

    def fuzzy_search_rows(
        self,
        queries: list[tuple[int, str, int]],
        mode: str = "and",
        offset: int = 0,
        transpositions: bool = False,
    ) -> list[tuple[int, int, int, float]]:
        """Fuzzy (AUTO) serving — the reference's actual query shape
        (every reference search requests fuzziness:AUTO).

        Expansion runs on the driver against the cached dictionary when it
        fits, and the expanded term set reuses the df-gated local/
        distributed scoring split. Results are rank-identical to
        ``bm25_index_fuzzy_batch`` (tested).

        ``transpositions``: ES ``fuzzy_transpositions`` — unrestricted
        Damerau-Levenshtein expansion (the character-count lower bound
        used for pre-filtering stays sound: a transposition changes no
        character multiset, so bound <= damerau holds too).
        """
        import numpy as np

        from sparkfts.analysis import auto_fuzz
        from sparkfts.stats import idf as idf_fn
        from sparkfts.wand import fuzzy_group, score_grouped

        if mode not in ("and", "or"):
            raise ValueError(f"unknown mode {mode!r}")
        analyzed = [
            (qid, tokenize_query(text, self._sw, self._stem),
             k + int(offset))
            for qid, text, k in queries
        ]
        analyzed = [(qid, t, k) for qid, t, k in analyzed if t]
        if not analyzed or self.meta["n_docs"] == 0:
            return []

        dictionary = self._local_dictionary()
        if dictionary is None:
            from sparkfts.query import bm25_index_fuzzy_batch

            out = bm25_index_fuzzy_batch(
                self.spark,
                self.index_dir,
                queries,
                mode=mode,
                max_expansions=self.fuzzy_max_expansions,
                offset=offset,
                transpositions=transpositions,
            ).collect()
            return [
                (r["query_id"], r["rank"], r["doc_id"], r["score"])
                for r in out
            ]

        from oracle.fuzzy import damerau_levenshtein, levenshtein

        dist_fn = damerau_levenshtein if transpositions else levenshtein
        # expansion per distinct q_term (memoized on the searcher — it is
        # a function of the dictionary + distance variant only)
        qvec = np.zeros(36, np.int16)

        def expansions_of(q_term: str) -> list[tuple[str, float]]:
            ckey = (q_term, transpositions)
            if ckey not in self._exp_cache:
                d = auto_fuzz(q_term)
                qvec[:] = 0
                for ch in q_term:
                    qvec[_CHAR_IDX[ch]] += 1
                out = []
                for ln in range(len(q_term) - d, len(q_term) + d + 1):
                    bucket = self._dict_by_len.get(ln)
                    if bucket is None:
                        continue
                    entries, counts = bucket
                    common = np.minimum(counts, qvec).sum(axis=1)
                    bound = max(ln, len(q_term)) - common
                    for i in np.nonzero(bound <= d)[0]:
                        t, df = entries[int(i)]
                        dist = dist_fn(q_term, t)
                        if dist <= d:
                            boost = 1.0 - dist / len(q_term)
                            out.append(
                                (dist, t, boost * idf_fn(self.meta["n_docs"], df))
                            )
                # closest-first cap, same policy as fuzzy_expand_index
                out.sort(key=lambda x: (x[0], x[1]))
                if self.fuzzy_max_expansions is not None:
                    out = out[: self.fuzzy_max_expansions]
                self._exp_cache[ckey] = sorted((t, w) for _, t, w in out)
            return self._exp_cache[ckey]

        all_exp_terms = sorted(
            {
                t
                for _, terms, _ in analyzed
                for q in terms
                for t, _ in expansions_of(q)
            }
        )
        # total posting volume of the expanded term set gates local scoring
        df_by_term = dict(dictionary)
        total_df = sum(df_by_term.get(t, 0) for t in all_exp_terms)
        if not self.local_threshold or total_df > self.local_threshold:
            from sparkfts.query import bm25_index_fuzzy_batch

            out = bm25_index_fuzzy_batch(
                self.spark,
                self.index_dir,
                queries,
                mode=mode,
                max_expansions=self.fuzzy_max_expansions,
                offset=offset,
                transpositions=transpositions,
            ).collect()
            return [
                (r["query_id"], r["rank"], r["doc_id"], r["score"])
                for r in out
            ]

        postings = self._local_postings(all_exp_terms)
        rows: list[tuple[int, int, int, float]] = []
        group_cache: dict[str, tuple] = {}
        for qid, terms, k_eff in analyzed:
            groups = []
            for q_term in terms:  # sorted q_term order (pinned fold)
                virt = group_cache.get(q_term)
                if virt is None:
                    present = [
                        (postings[t], w)
                        for t, w in expansions_of(q_term)
                        if t in postings
                    ]
                    virt = fuzzy_group(present, self.meta["avgdl"])
                    group_cache[q_term] = virt
                groups.append(virt)
            ids, scores = score_grouped(
                groups, k_eff, mode, exclude=self.tombstones
            )
            for rank0 in range(int(offset), ids.size):
                rows.append(
                    (qid, rank0 + 1, int(ids[rank0]), float(scores[rank0]))
                )
        rows.sort(key=lambda r: (r[0], r[1]))
        return rows

    def search(
        self, query: str, k: int = 10, mode: str = "and", **kw
    ) -> DataFrame:
        return self.search_batch(
            [(0, query, k)], mode=mode, **kw
        ).select("rank", "doc_id", "score")

    def warmup(self) -> int:
        """Materialize the postings cache; returns cached row count."""
        return self._postings.count()

    def scroll(
        self, query: str, size: int = 100, mode: str = "and"
    ) -> "Scroll":
        """ES ``_search?scroll`` / point-in-time pagination: iterate the
        FULL match set in ``size``-row pages at O(size) per page (each
        page is a ``search_after`` cursor hop — never deep ``offset``).

        Point-in-time semantics at the Searcher level: the postings
        cache, dictionary and tombstone snapshot were fixed when this
        Searcher opened, so documents ingested (or deleted without
        :meth:`refresh_deletes`) after open do not affect an in-flight
        scroll — ES's scroll-context contract."""
        return Scroll(self, query, size, mode)

    def close(self) -> None:
        self._postings.unpersist()


class Scroll:
    """In-flight scroll cursor (see :meth:`Searcher.scroll`).

    ``next_page()`` -> list of ``(rank, doc_id, score)`` with ranks
    continuing across pages; empty list = exhausted. Iterable:
    ``for page in searcher.scroll(q): ...``.
    """

    def __init__(self, searcher: Searcher, query: str, size: int,
                 mode: str) -> None:
        if size < 1:
            raise ValueError("size must be >= 1")
        self._s = searcher
        self._query = query
        self._size = int(size)
        self._mode = mode
        self._after: tuple[float, int] | None = None
        self._rank = 0
        self._done = False

    def next_page(self) -> list[tuple[int, int, float]]:
        if self._done:
            return []
        rows = self._s.search_rows(
            [(0, self._query, self._size)],
            mode=self._mode,
            search_after={0: self._after} if self._after else None,
        )
        if not rows:
            self._done = True
            return []
        last = rows[-1]
        self._after = (last[3], last[2])  # (score, doc_id) cursor
        if len(rows) < self._size:
            self._done = True
        out = []
        for _, _, doc_id, score in rows:
            self._rank += 1
            out.append((self._rank, doc_id, score))
        return out

    def __iter__(self):
        while True:
            page = self.next_page()
            if not page:
                return
            yield page
