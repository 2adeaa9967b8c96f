"""sparkfts benchmark: end-to-end metrics (untraced) or per-layer
metrics (traced) for one workload.

    python3 perfbench/run.py --workload {index,serve} --seed N \\
        --seconds S --trace {0,1}

Run from the repository root.  The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``; with
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones (see BENCHMARK.json).  Every metric, including the
ones the JSON line does not carry, is printed by name with its unit and
sample count on standard error, and the full report is written to
``perfbench/out/<workload>-seed<N>-trace<T>.json`` (plus the span log
``...spans.jsonl`` for a traced run).  ``perfbench/report.py`` runs all
workloads both ways and prints the combined table.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

ROOT = os.getcwd()


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def install_tracer(tracer) -> None:
    """Wrap the public functions each per-layer metric is measured at."""
    import oracle.fuzzy
    import sparkfts.analysis
    import sparkfts.booltree
    import sparkfts.codec
    import sparkfts.deletes
    import sparkfts.esdsl
    import sparkfts.index
    import sparkfts.merge
    import sparkfts.query
    import sparkfts.searcher
    import sparkfts.streaming
    import sparkfts.tokens
    import sparkfts.wand
    from sparkfts.analysis import auto_fuzz
    from sparkfts.searcher import Searcher

    def scanned(t, args, kw, result):
        t.count("wand.scanned", sum(len(p[0]) for p in args[0]))
        t.count("wand.hits", len(result[0]))

    def cache_lookup(t, args, kw):
        cache = args[0]._local_cache
        hits = sum(1 for term in args[1] if term in cache)
        t.count("searcher.cache_hits", hits)
        t.count("searcher.cache_lookups", len(args[1]))

    def lev(t, args, kw, result):
        t.count("fuzzy.dp_calls")
        if result <= auto_fuzz(args[0]):
            t.count("fuzzy.dp_kept")

    fuzzy_texts: set[str] = set()

    def fuzzy_queries(t, args, kw, result):
        fuzzy_texts.update(q[1] for q in args[1])
        t.counts["fuzzy.distinct_queries"] = len(fuzzy_texts)

    for owner, attr, name, after in (
        (sparkfts.index, "build_index", "index.build_index", None),
        (sparkfts.streaming, "ingest_batch", "streaming.ingest_batch", None),
        (sparkfts.deletes, "delete_docs", "deletes.delete_docs", None),
        (sparkfts.deletes, "load_tombstones", "deletes.load_tombstones", None),
        (sparkfts.merge, "merge_segments", "merge.merge_segments", None),
        (Searcher, "__init__", "searcher.open", None),
        (Searcher, "warmup", "searcher.warmup", None),
        (Searcher, "term_dfs", "searcher.term_dfs", None),
        (Searcher, "search_rows", "searcher.search_rows", None),
        (Searcher, "fuzzy_search_rows", "searcher.fuzzy_search_rows",
         fuzzy_queries),
        (sparkfts.analysis, "tokenize_query", "analysis.tokenize_query",
         None),
        (sparkfts.codec, "decode_varint", "codec.decode_varint", None),
        (sparkfts.codec, "delta_decode", "codec.delta_decode",
         lambda t, a, k, r: t.count("codec.postings_decoded", len(r))),
        (sparkfts.wand, "score_conjunctive", "wand.score_conjunctive",
         scanned),
        (sparkfts.wand, "score_disjunctive", "wand.score_disjunctive",
         scanned),
        (sparkfts.wand, "score_grouped", "wand.score_grouped", scanned),
        (sparkfts.wand, "fuzzy_group", "wand.fuzzy_group", None),
        (oracle.fuzzy, "levenshtein", "fuzzy.levenshtein", lev),
        (sparkfts.esdsl, "run_request", "esdsl.run_request", None),
        (sparkfts.esdsl, "parse_request", "esdsl.parse_request", None),
        (sparkfts.booltree, "bool_topk_batch", "booltree.bool_topk_batch",
         None),
        (sparkfts.query, "bm25_index_batch", "query.bm25_index_batch",
         None),
    ):
        tracer.wrap(owner, attr, name, after=after)
    tracer.wrap(Searcher, "_local_postings", "searcher.local_postings",
                before=cache_lookup)


def tokens_probe(b) -> dict:
    """Force each build phase on its own into a noop sink."""
    from sparkfts.tokens import build_docmap, prepare_pages, tokenize_docs

    spark = b.spark
    pages = spark.read.parquet(b.base_path)
    out = {}

    def force(name, df):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        out[name] = time.perf_counter() - t0

    with b.tracer.span("tokens.probe"):
        prepared = prepare_pages(pages)
        force("prepare_pages", prepared)
        prepared = prepared.cache()
        prepared.count()
        force("tokenize_docs", tokenize_docs(prepared))
        force("build_docmap", build_docmap(prepared))
        prepared.unpersist()
    return out


def layer_metrics(b, tracer, probe: dict) -> dict:
    """Per-layer metrics from the traced run (0 where a layer is idle)."""
    rep = b.report
    self_t = tracer.self_times()
    total_t = tracer.total_times()
    c = tracer.counts

    def mean(table, name, scale):
        tot, n = table.get(name, (0.0, 0))
        return tot / n * scale if n else 0.0

    def ratio(a, bb):
        return c[a] / c[bb] if c[bb] else 0.0

    idx = rep.get("index", {})
    per_req = rep.get("spark_per_request", {})
    open_spark = rep.get("searcher_open_spark", {})
    m = {
        "tokens.prepare_pages_s": probe.get("prepare_pages", 0.0),
        "tokens.tokenize_docs_s": probe.get("tokenize_docs", 0.0),
        "tokens.build_docmap_s": probe.get("build_docmap", 0.0),
        "index.build_index_s": mean(total_t, "index.build_index", 1.0),
        "index.tokens": idx.get("tokens", 0),
        "index.postings": idx.get("postings", 0),
        "index.terms": idx.get("terms", 0),
        "index.shard_skew": idx.get("shard_skew", 0.0),
        "streaming.ingest_batch_s": mean(total_t, "streaming.ingest_batch",
                                         1.0),
        "streaming.segments": rep.get("segments", 0),
        "deletes.delete_docs_s": mean(self_t, "deletes.delete_docs", 1.0),
        "deletes.load_tombstones_s": mean(self_t, "deletes.load_tombstones",
                                          1.0),
        "merge.merge_segments_s": mean(self_t, "merge.merge_segments", 1.0),
        "merge.postings_rewritten": rep.get("postings_rewritten", 0),
        "merge.bytes_written_per_user_byte":
            rep.get("merge_bytes_per_user_byte", 0.0),
        "searcher.open_s": mean(total_t, "searcher.open", 1.0)
        + mean(total_t, "searcher.warmup", 1.0),
        "searcher.cache_mb": rep.get("cache_mb", 0.0),
        "searcher.spark_jobs_per_refresh": open_spark.get("jobs", 0),
        "analysis.tokenize_query_us": mean(self_t, "analysis.tokenize_query",
                                           1e6),
        "searcher.term_dfs_ms": mean(self_t, "searcher.term_dfs", 1e3),
        "searcher.postings_cache_hit_ratio": ratio(
            "searcher.cache_hits", "searcher.cache_lookups"),
        "codec.decode_varint_ms": mean(self_t, "codec.decode_varint", 1e3),
        "codec.postings_decoded": c["codec.postings_decoded"],
        "wand.score_conjunctive_ms": mean(self_t, "wand.score_conjunctive",
                                          1e3),
        "wand.score_disjunctive_ms": mean(self_t, "wand.score_disjunctive",
                                          1e3),
        "wand.score_grouped_ms": mean(self_t, "wand.score_grouped", 1e3),
        "wand.fuzzy_group_ms": mean(self_t, "wand.fuzzy_group", 1e3),
        "wand.postings_scanned_per_hit": ratio("wand.scanned", "wand.hits"),
        "fuzzy.levenshtein_calls_per_query": ratio(
            "fuzzy.dp_calls", "fuzzy.distinct_queries"),
        "fuzzy.expansion_yield": ratio("fuzzy.dp_kept", "fuzzy.dp_calls"),
        "fuzzy.levenshtein_ms": (
            total_t.get("fuzzy.levenshtein", (0.0, 0))[0] * 1e3
            / c["fuzzy.distinct_queries"]
            if c["fuzzy.distinct_queries"] else 0.0),
        "esdsl.parse_request_ms": mean(self_t, "esdsl.parse_request", 1e3),
        # plan building in bool_topk_batch plus the run of that plan,
        # which happens when the caller collects the hits
        "booltree.bool_topk_batch_ms": (
            total_t.get("booltree.bool_topk_batch", (0.0, 0))[0]
            + total_t.get("dsl.execute", (0.0, 0))[0]) * 1e3
        / max(1, total_t.get("dsl.execute", (0.0, 0))[1]),
        "booltree.plan_ms": mean(self_t, "booltree.bool_topk_batch", 1e3),
        "spark.jobs_per_request": per_req.get("jobs", 0),
        "spark.stages_per_request": per_req.get("stages", 0),
        "spark.tasks_per_request": per_req.get("tasks", 0),
        "query.bm25_index_batch_ms": mean(total_t, "dsl.batch", 1e3),
        "spark.tasks_per_batch": rep.get("spark_tasks_per_batch", 0),
    }
    for k in ("doc_ids", "tfs", "doclens", "blockmax"):
        m[f"codec.bytes_per_posting.{k}"] = idx.get(
            f"bytes_per_posting.{k}", 0.0)
    return m


def print_table(title: str, metrics: dict, units: dict,
                file=sys.stderr) -> None:
    print(f"== {title}", file=file)
    for k, v in metrics.items():
        val = f"{v:.6g}" if isinstance(v, float) else str(v)
        print(f"  {k:<44} {val:>14} {units.get(k, '')}", file=file)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    units = _units()

    for pkg in ("sparkfts", "oracle"):
        if not os.path.isfile(os.path.join(ROOT, pkg, "__init__.py")):
            _fail(f"no {pkg}/ package under {ROOT}; run from the repo root")
    sys.path.insert(0, ROOT)
    # Spark's Python workers import sparkfts from the checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    from perfbench import common
    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; one of {list(WORKLOADS)}")
    tracer = Tracer() if args.trace else None
    if tracer is not None:
        install_tracer(tracer)
    b = common.Bench(ROOT, args.workload, args.seed, args.seconds,
                     T_START, tracer)
    out_dir = os.path.join(ROOT, "perfbench", "out")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(
        out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    try:
        e2e = WORKLOADS[args.workload](b)
        e2e["peak_rss_mb"] = common.peak_rss_mb()
        metrics = e2e
        if tracer is not None:
            probe = tokens_probe(b)
            tracer.paused = True
            metrics = layer_metrics(b, tracer, probe)
    finally:
        b.close()
        if tracer is not None:
            tracer.unwrap_all()
    correct = b.failed == 0
    report = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "correct": correct, "attempted": b.attempted, "failed": b.failed,
        "failures": b.failures, "end_to_end": e2e, "details": b.report,
    }
    if tracer is not None:
        report["per_layer"] = metrics
        report["spans"] = {
            name: {"self_s": st, "total_s": tracer.total_times()[name][0],
                   "calls": n}
            for name, (st, n) in sorted(tracer.self_times().items())
        }
        tracer.dump(stem + ".spans.jsonl")
    with open(stem + ".json", "w") as f:
        json.dump(report, f, indent=1, default=str)

    print_table(f"{args.workload} seed={args.seed} end-to-end", e2e, units)
    print_table(f"{args.workload} details (n = sample count)",
                common.flatten(b.report), units)
    if tracer is not None:
        print_table(f"{args.workload} per-layer", metrics, units)
    print(f"== attempted {b.attempted} failed {b.failed} "
          f"{b.failures[:5]}", file=sys.stderr)
    print(json.dumps({
        "correct": correct, "attempted": b.attempted, "failed": b.failed,
        "metrics": {
            k: {"value": float(v), "unit": units[k]}
            for k, v in metrics.items()
        },
    }), flush=True)


def _units() -> dict:
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"]
            for m in spec["end_to_end"] + spec["per_layer"]}


if __name__ == "__main__":
    main()
