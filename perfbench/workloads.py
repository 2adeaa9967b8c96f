"""The perfbench workloads: ``index`` and ``serve``.

Both report the same end-to-end metrics, each measured on what that
workload does (BENCHMARK.json says what each one means per workload):

  setup_s            process start until the first timed operation
  write_s            wall time spent writing the index
  warm_p50_ms        exact query on a warm Searcher (no Spark job)
  fuzzy_p50_ms       fuzzy AUTO AND query on a warm Searcher
  warm_qps           warm Searcher queries answered per second
  cold_ms            a read that launches Spark jobs
  batch_qps          queries per second in 50-query bm25_index_batch
  index_to_corpus_ratio, peak_rss_mb

Requests served without a Spark job and requests that launch one never
share a percentile.  Work repeated identically within a run (a warm
pass, a batch) reports its fastest repeat; different requests (the cold
bodies) report their median.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import nullcontext

import numpy as np

from perfbench import common as C
from perfbench.gate import Expect, by_query, same
from perfbench.tracing import spark_work
from sparkfts import synth

BATCH = 50


def _doc_ids(tbl) -> list[int]:
    import pandas as pd

    from sparkfts.tokens import sha1_doc_id

    return sha1_doc_id(pd.Series(tbl.column("url").to_pylist())).tolist()


def _span(b, name: str):
    """A span named ``name`` (traced runs only)."""
    return nullcontext() if b.tracer is None else b.tracer.span(name)


def _request(b, label: str):
    """Span + request id around one client request (traced runs only)."""
    if b.tracer is not None:
        b.tracer.request = label
    return _span(b, label.split("#")[0])


def _open_searcher(b, idx, fill=None):
    """Open a Searcher, materialize its postings cache, run ``fill``.

    Returns (searcher, seconds, Spark work counts, cached MB)."""
    from sparkfts.searcher import Searcher

    work: dict = {}
    t0 = time.perf_counter()
    with spark_work(b.spark, "searcher-open", work):
        s = Searcher(b.spark, idx)
        s.warmup()
        if fill is not None:
            fill(s)
    dt = time.perf_counter() - t0
    jsc = b.spark.sparkContext._jsc.sc()
    mem = sum(r.memSize() for r in jsc.getRDDStorageInfo())
    return s, dt, work, mem / 2**20


def _timed(b, label, fn):
    """Run ``fn`` as one request; returns (result, seconds, spark work).

    A request that raises counts as failed and returns ``None``."""
    work: dict = {}
    out = None
    with _request(b, label):
        t0 = time.perf_counter()
        with spark_work(b.spark, label, work):
            try:
                out = fn()
            except Exception as e:  # noqa: BLE001 - counted, run goes on
                b.check(f"{label} raised {type(e).__name__}: {e}", False)
        dt = time.perf_counter() - t0
    return out, dt, work


class WarmStream:
    """Closed loop of single-query requests to a warm Searcher.

    The stream is a fixed block of ``WARM_BLOCK`` requests: Zipf(``ZIPF_S``)
    repeats over a seeded permutation of ``queries``, each one fuzzy AND,
    exact AND or exact OR with probabilities ``SERVE_MIX``.  Each
    :meth:`run` sends the whole block once; the workloads spread these
    passes over the run, between their other operations.

    Single-thread CPU speed on a shared host moves by up to 2x over
    seconds (a fixed pure-Python loop reads 14-33 ms), so a median over
    one run follows the host.  The latencies and the throughput reported
    are therefore those of each request's fastest pass; the raw per-pass
    latencies go to the details."""

    SHAPES = ("fuzzy", "and", "or")

    def __init__(self, b, searcher, queries, label):
        self.b, self.s, self.queries, self.label = b, searcher, queries, label
        rng = np.random.default_rng(C.PLAN_SEED)
        order = rng.permutation(len(queries))
        w = 1.0 / np.arange(1, len(queries) + 1) ** ZIPF_S
        picks = order[rng.choice(len(queries), size=WARM_BLOCK,
                                 p=w / w.sum())]
        kinds = rng.choice(len(self.SHAPES), size=WARM_BLOCK, p=SERVE_MIX)
        self.block = [(qi, self.SHAPES[si])
                      for qi, si in zip(picks.tolist(), kinds.tolist())]
        self.passes: list[tuple[list[float], float]] = []
        self.seen: dict = {}
        self.jobs = 0
        self.n = 0

    def run(self) -> None:
        """One pass over the block."""
        lat = []
        work: dict = {}
        t_start = time.perf_counter()
        with spark_work(self.b.spark, f"{self.label}-warm", work):
            for qi, shape in self.block:
                q = self.queries[qi]
                with _request(self.b, f"{self.label}.request#{self.n}"):
                    t0 = time.perf_counter()
                    if shape == "fuzzy":
                        rows = self.s.fuzzy_search_rows([q], mode="and")
                    else:
                        rows = self.s.search_rows([q], mode=shape)
                    lat.append(time.perf_counter() - t0)
                self.seen.setdefault((qi, shape), rows)
                self.n += 1
        self.passes.append((lat, time.perf_counter() - t_start))
        self.jobs += work["jobs"]

    def best(self, *shapes) -> list[float]:
        """Each request's fastest latency over the passes."""
        return [min(lat[i] for lat, _ in self.passes)
                for i, (_, sh) in enumerate(self.block) if sh in shapes]

    def p50_ms(self, *shapes) -> float:
        return _p50_ms(self.best(*shapes))

    def qps(self) -> float:
        return len(self.block) / sum(self.best(*self.SHAPES))

    def latencies(self, *shapes) -> list[float]:
        return [lat[i] for lat, _ in self.passes
                for i, (_, sh) in enumerate(self.block) if sh in shapes]

    def details(self) -> dict:
        return {
            "warm_exact": C.timing(self.latencies("and", "or")),
            "warm_fuzzy": C.timing(self.latencies("fuzzy")),
            "warm_exact_best_n": len(self.best("and", "or")),
            "warm_fuzzy_best_n": len(self.best("fuzzy")),
            "warm_passes": len(self.passes),
            "warm_all": self.n,
            "warm_window_spark_jobs": self.jobs,
            "steady_state": self.jobs == 0,
        }


def _gate_warm(b, exp, queries, seen, rng, n_checks, cap) -> int:
    """Rank identity on a seeded sample of distinct warm requests."""
    keys = sorted(seen)
    for i in rng.permutation(len(keys))[:n_checks]:
        qi, shape = keys[i]
        qid, text, k = queries[qi]
        got = by_query(seen[(qi, shape)]).get(qid, [])
        want = (exp.fuzzy(text, k, max_expansions=cap) if shape == "fuzzy"
                else exp.bm25(text, k, mode=shape))
        b.check(f"warm {shape} {text!r}", same(got, want))
    return min(n_checks, len(keys))


def _gate_batch(b, exp, batch, rows) -> None:
    got = by_query((r["query_id"], r["rank"], r["doc_id"], r["score"])
                   for r in rows)
    for qid, text, k in batch:
        b.check(f"batch {text!r}", same(got.get(qid, []), exp.bm25(text, k)))


def _batch_of(pool, i: int) -> list[tuple[int, str, int]]:
    """The i-th 50-query slice of the pool (cycling), renumbered."""
    start = (i * BATCH) % len(pool)
    return [(j, t, k) for j, (_, t, k) in
            enumerate(pool[start:start + BATCH])]


def _p50_ms(values_s) -> float:
    return statistics.median(values_s) * 1e3


# -- serve -------------------------------------------------------------------

# The repository holds no request log, so the stream's shape is chosen,
# not measured.  Half the requests are the reference's shape (fuzzy AUTO
# AND); exact AND and exact OR share the other half evenly, so the fuzzy
# and the exact percentiles rest on the same number of samples.  Requests
# repeat with the Zipf exponent synth uses for term frequencies.
SERVE_MIX = (0.5, 0.25, 0.25)   # fuzzy AND, exact AND, exact OR
ZIPF_S = synth.ZIPF_S
WARM_CHECKS = 12
WARM_BLOCK = 256                # requests in one warm pass (~0.2 s)
WARMUP_DOCS = 100               # corpus of the untimed warm-up writes


def _body(shape: str, text: str, k: int) -> dict:
    if shape == "ref":
        # the reference's request: bool.must of a fuzzy multi_match, AND
        return {"query": {"bool": {"must": [{"multi_match": {
            "query": text, "fields": ["text"], "fuzziness": "AUTO",
            "operator": "and"}}]}}, "size": k}
    if shape in ("match_or", "match_and"):
        return {"query": {"match": {"text": {
            "query": text, "operator": shape[6:]}}}, "size": k}
    if shape == "filtered":
        return {"query": {"bool": {
            "must": [{"match": {"text": {"query": text, "operator": "and"}}}],
            "filter": [{"term": {"lang": "en"}}]}}, "size": k}
    raise ValueError(shape)


# ES filter-only bodies.  ADVICE.md #1: they return no hits (or are
# refused) at the commit this benchmark was written against, so they run
# after the timed phases as a known-failure probe, reported by name.
FILTER_ONLY = {
    "term_only": {"query": {"term": {"lang": "en"}}, "size": 10},
    "constant_score": {"query": {"constant_score": {
        "filter": {"term": {"lang": "en"}}}}, "size": 10},
    "bool_filter_only": {"query": {"bool": {
        "filter": [{"term": {"lang": "en"}}]}}, "size": 10},
}

# batches go in pairs: the fastest of six identical batches is reported
COLD_ROTATION = ("ref", "batch", "batch", "match_or", "ref", "batch", "batch",
                 "filtered", "ref", "batch", "batch", "match_and")


def serve(b) -> dict:
    """Reference-shape serving on one index.  Warm phase: a Zipf-repeated
    closed-loop stream to a Searcher whose caches hold the whole working
    set (no Spark job).  Cold phase: ES JSON bodies through
    ``esdsl.run_request`` (Spark jobs per request, no program cache) and
    50-query ``bm25_index_batch`` batches over the on-disk index."""
    from sparkfts.esdsl import run_request
    from sparkfts.query import bm25_index_batch

    spark = b.start_spark()
    tbl = b.corpus(C.N_BASE)
    path = b.base_path = b.write_parquet(tbl, "base.parquet")
    texts = tbl.column("text").to_pylist()
    pool = [(q["query_id"], q["query"], q["k"]) for q in b.queries(texts)]
    rng = np.random.default_rng(b.seed)
    idx = os.path.join(b.work, "idx")
    # untimed warm-up build: a session's first build runs ~50% slower
    with b.untraced():
        small = b.write_parquet(tbl.slice(0, WARMUP_DOCS), "warmup.parquet")
        b.build(spark.read.parquet(small), os.path.join(b.work, "warmup"))
    t0 = time.perf_counter()
    b.build(spark.read.parquet(path), idx)
    build_s = time.perf_counter() - t0
    b.report["index"] = C.index_counters(idx)
    corpus_bytes = os.path.getsize(path)

    def cold(shape, q, label):
        if shape == "batch":
            return _timed(b, label, lambda: bm25_index_batch(
                spark, idx, q).collect())

        def request():
            hits = run_request(spark, idx, _body(shape, q[1], q[2]))["hits"]
            # the scoring plan bool_topk_batch built runs here
            with _span(b, "dsl.execute"):
                return hits.collect()
        return _timed(b, label, request)

    # untimed warm-up of the cold Spark paths
    with b.untraced():
        cold("ref", pool[0], "warmup.ref")
        cold("batch", _batch_of(pool, 0), "warmup.batch")

    def fill(s):
        s.search_rows(pool, mode="and")
        s.fuzzy_search_rows(pool, mode="and")

    s, open_s, open_work, cache_mb = _open_searcher(b, idx, fill)
    setup_s = time.perf_counter() - b.t_start

    # timed window: a warm pass before every cold request
    warm = WarmStream(b, s, pool, "serve")
    cold_lat: dict[str, list[float]] = {k: [] for k in COLD_ROTATION}
    works: dict[str, list[dict]] = {"request": [], "batch": []}
    done = []
    deadline = b.deadline()
    n = 0
    while n < len(COLD_ROTATION) or time.perf_counter() < deadline:
        warm.run()
        shape = COLD_ROTATION[n % len(COLD_ROTATION)]
        # past the pool's fixed head-term shapes, in plan order
        q = (_batch_of(pool, 0) if shape == "batch"
             else pool[(7 + n) % len(pool)])
        rows, dt, work = cold(shape, q, f"dsl.{shape}#{n}")
        cold_lat[shape].append(dt)
        works["batch" if shape == "batch" else "request"].append(work)
        done.append((shape, q, rows))
        n += 1
    b.attempted += warm.n + sum(
        BATCH if sh == "batch" else 1 for sh, _, _ in done)
    cap = s.fuzzy_max_expansions
    s.close()

    langs = tbl.column("lang").to_pylist()
    ids = _doc_ids(tbl)
    with b.untraced():
        b.report["known_failures"] = _filter_only_probe(
            spark, idx, ids, langs)
        exp = Expect(ids, texts, langs=langs)
        checked = _gate_warm(b, exp, pool, warm.seen, rng, WARM_CHECKS, cap)
        for shape, q, rows in done:
            if rows is None:
                continue
            if shape == "batch":
                _gate_batch(b, exp, q, rows)
                continue
            qid, text, k = q
            got = [(r["doc_id"], r["score"])
                   for r in sorted(rows, key=lambda r: r["rank"])]
            if shape == "ref":
                want = exp.fuzzy(text, k)
            elif shape == "filtered":
                want = exp.bm25(text, k, lang="en")
            else:
                want = exp.bm25(text, k, mode=shape[6:])
            b.check(f"dsl {shape} {text!r}", same(got, want))

    cold_exact = (cold_lat["match_or"] + cold_lat["match_and"]
                  + cold_lat["filtered"])
    per_req = works["request"]
    b.report.update({
        "build_s": build_s,
        "searcher_open_s": open_s,
        "searcher_open_spark": open_work,
        "cache_mb": cache_mb,
        **warm.details(),
        "warm_checked": checked,
        "cold": C.timing(cold_exact),
        "cold_ref": C.timing(cold_lat["ref"]),
        "batch": C.timing(cold_lat["batch"]),
        "spark_per_request": {
            k: statistics.mean(w[k] for w in per_req)
            for k in ("jobs", "stages", "tasks")
        },
        "spark_tasks_per_batch":
            statistics.mean(w["tasks"] for w in works["batch"]),
    })
    return {
        "setup_s": setup_s,
        "write_s": build_s,
        "warm_p50_ms": warm.p50_ms("and", "or"),
        "fuzzy_p50_ms": warm.p50_ms("fuzzy"),
        "warm_qps": warm.qps(),
        "cold_ms": _p50_ms(cold_lat["ref"]),
        "batch_qps": BATCH / min(cold_lat["batch"]),
        "index_to_corpus_ratio": C.dir_bytes(idx) / corpus_bytes,
    }


def _filter_only_probe(spark, idx, ids, langs) -> dict:
    """Run the filter-only bodies; 'ok' when the top 10 by doc id match."""
    from sparkfts.esdsl import run_request

    want = sorted(d for d, x in zip(ids, langs) if x == "en")[:10]
    probe = {}
    for name, body in FILTER_ONLY.items():
        try:
            got = run_request(spark, idx, body)["hits"].collect()
        except Exception as e:  # noqa: BLE001 - a refused body is an outcome
            probe[name] = f"raised {type(e).__name__}"
            continue
        ok = sorted(r["doc_id"] for r in got) == want
        probe[name] = "ok" if ok else f"{len(got)} hits, expected 10"
    return {"filter_only": probe, "attempted": len(probe),
            "failed": sum(1 for v in probe.values() if v != "ok")}


# -- index -------------------------------------------------------------------

INDEX_BLOCK = 16
INDEX_PASSES = 3                # warm passes after each step below
INDEX_BATCHES = 4
WARMUP_DELETES = 10
INDEX_CHECKS = 6


def index(b) -> dict:
    """Write path: the base corpus and then micro-batches arrive through
    ``streaming.ingest_batch``, each micro-batch followed by
    ``deletes.delete_docs``.  A Searcher is then reopened from cold caches
    on the segmented, tombstoned index and answers a fixed query block
    (the refresh), then serves the whole query pool warm in passes
    around one 50-query ``bm25_index_batch`` and ``merge.merge_segments``,
    which compacts the index."""
    from sparkfts.deletes import delete_docs
    from sparkfts.index import segment_dirs
    from sparkfts.merge import merge_segments
    from sparkfts.query import bm25_index_batch
    from sparkfts.streaming import ingest_batch

    spark = b.start_spark()
    tbl = b.corpus(C.N_BASE + C.N_BATCH * C.N_BATCHES)
    parts = [tbl.slice(0, C.N_BASE)] + [
        tbl.slice(C.N_BASE + i * C.N_BATCH, C.N_BATCH)
        for i in range(C.N_BATCHES)
    ]
    paths = [b.write_parquet(p, f"part{i}.parquet")
             for i, p in enumerate(parts)]
    b.base_path = paths[0]
    user_bytes = sum(os.path.getsize(p) for p in paths)
    texts = tbl.column("text").to_pylist()
    ids = _doc_ids(tbl)
    pool = [(q["query_id"], q["query"], q["k"])
            for q in b.queries(texts[:C.N_BASE])]
    rng = np.random.default_rng(b.seed)
    victims, dead = [], set()
    live = list(range(C.N_BASE))
    for i in range(C.N_BATCHES):
        live += range(C.N_BASE + i * C.N_BATCH,
                      C.N_BASE + (i + 1) * C.N_BATCH)
        pick = set(rng.choice(len(live), size=C.N_DELETE,
                              replace=False).tolist())
        victims.append([ids[live[j]] for j in sorted(pick)])
        dead.update(victims[-1])
        live = [d for j, d in enumerate(live) if j not in pick]

    idx = os.path.join(b.work, "idx")

    def ingest(i, path=None, out=idx):
        ingest_batch(spark.read.parquet(path or paths[i]), i, out,
                     n_shards=C.N_SHARDS, n_tbuckets=C.N_TBUCKETS)

    # untimed warm-up of every write path on a scratch index: a small
    # micro-batch, a delete and a merge (a session's first call of each
    # runs far slower than the next)
    with b.untraced():
        scratch = os.path.join(b.work, "warmup")
        ingest(0, b.write_parquet(tbl.slice(0, WARMUP_DOCS), "warmup.parquet"),
               scratch)
        delete_docs(spark, scratch, ids[:WARMUP_DELETES])
        merge_segments(spark, scratch)

    # set-up: the base arrives as micro-batch 0; the timed window starts
    # after it.  The base is not a build_index: ingest_batch appended to a
    # build_index base restarts its running statistics at zero, and it
    # raises on an index with doc-value columns, so this index has none.
    t0 = time.perf_counter()
    ingest(0)
    build_s = time.perf_counter() - t0
    b.report["index"] = C.index_counters(idx)
    setup_s = time.perf_counter() - b.t_start

    ingest_s, delete_s = [], []
    for i in range(1, C.N_BATCHES + 1):
        t0 = time.perf_counter()
        ingest(i)
        ingest_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        delete_docs(spark, idx, victims[i - 1])
        delete_s.append(time.perf_counter() - t0)
    segments = len(segment_dirs(idx))
    b.attempted += 2 * C.N_BATCHES

    # refresh: reopen from cold caches and answer the query block
    block = pool[:INDEX_BLOCK]
    cold: dict = {}

    def refresh(s):
        with _request(b, "index.refresh#0"):
            cold["and"] = s.search_rows(block, mode="and")
            cold["fuzzy"] = s.fuzzy_search_rows(block, mode="and")

    s, refresh_s, refresh_work, cache_mb = _open_searcher(b, idx, refresh)
    b.attempted += 2 * len(block)
    # the pool served warm by the refreshed Searcher, in passes after the
    # refresh, after each batch and after the merge; fill its caches first
    s.search_rows(pool, mode="and")
    s.fuzzy_search_rows(pool, mode="and")
    warm = WarmStream(b, s, pool, "index")

    def warm_passes():
        for _ in range(INDEX_PASSES):
            warm.run()

    warm_passes()

    # the first batch on an index runs about twice as long as the next
    # identical one, so it is an untimed warm-up
    q = _batch_of(pool, 0)
    with b.untraced():
        bm25_index_batch(spark, idx, q).collect()
    batches, batch_lat, batch_tasks = [], [], []
    for i in range(INDEX_BATCHES):
        rows, dt, work = _timed(b, f"dsl.batch#{i}", lambda: bm25_index_batch(
            spark, idx, q).collect())
        batches.append((q, rows))
        batch_lat.append(dt)
        batch_tasks.append(work["tasks"])
        warm_passes()
    b.attempted += BATCH * INDEX_BATCHES

    pre_merge_bytes = C.dir_bytes(idx)
    t0 = time.perf_counter()
    merge_segments(spark, idx)
    merge_s = time.perf_counter() - t0
    merged = C.index_counters(idx)
    idx_bytes = C.dir_bytes(idx)
    warm_passes()
    b.attempted += 1 + warm.n
    cap = s.fuzzy_max_expansions
    s.close()

    with b.untraced():
        # before the merge every ingested doc counts in the statistics and
        # tombstoned docs never appear; after it, statistics are exact
        # over the surviving docs
        exp = Expect(ids, texts, deleted=dead)
        got_and, got_fz = by_query(cold["and"]), by_query(cold["fuzzy"])
        for i in rng.permutation(len(block))[:INDEX_CHECKS]:
            qid, text, k = block[i]
            b.check(f"refresh and {text!r}",
                    same(got_and.get(qid, []), exp.bm25(text, k)))
            b.check(f"refresh fuzzy {text!r}",
                    same(got_fz.get(qid, []),
                         exp.fuzzy(text, k, max_expansions=cap)))
        _gate_warm(b, exp, pool, warm.seen, rng, WARM_CHECKS, cap)
        for q, rows in batches:
            if rows is not None:
                _gate_batch(b, exp, q, rows)
        alive = [i for i, d in enumerate(ids) if d not in dead]
        exp_live = Expect([ids[i] for i in alive], [texts[i] for i in alive])
        after = _batch_of(pool, 1)
        _gate_batch(b, exp_live, after,
                    bm25_index_batch(spark, idx, after).collect())
        n_live = spark.read.parquet(os.path.join(idx, "docmap")).count()
        b.check("merged doc count", n_live == len(alive))
        b.attempted += BATCH + 1

    b.report.update({
        "build_s": build_s,
        "ingest_s": statistics.median(ingest_s),
        "delete_s": statistics.median(delete_s),
        "refresh_s": refresh_s,
        "merge_s": merge_s,
        "segments": segments,
        "postings_rewritten": merged["postings"],
        "merge_bytes_per_user_byte": idx_bytes / user_bytes,
        "pre_merge_bytes": pre_merge_bytes,
        "searcher_open_spark": refresh_work,
        "cache_mb": cache_mb,
        **warm.details(),
        "serve_qps": warm.qps(),
        "batch": C.timing(batch_lat),
        "spark_tasks_per_batch": statistics.mean(batch_tasks),
    })
    return {
        "setup_s": setup_s,
        # merge_s is not in it: over ten runs its spread (0.31-0.34 of the
        # median) exceeds any bound the benchmark may set
        "write_s": sum(ingest_s) + sum(delete_s),
        "warm_p50_ms": warm.p50_ms("and", "or"),
        "fuzzy_p50_ms": warm.p50_ms("fuzzy"),
        "warm_qps": warm.qps(),
        "cold_ms": refresh_s * 1e3,
        "batch_qps": BATCH / min(batch_lat),
        "index_to_corpus_ratio": idx_bytes / user_bytes,
    }


WORKLOADS = {"index": index, "serve": serve}
