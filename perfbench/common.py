"""Shared set-up for the perfbench workloads: Spark session, seeded
corpus, index build, index counters and timing statistics."""

from __future__ import annotations

import glob
import math
import os
import resource
import shutil
import statistics
import subprocess
import time
from contextlib import contextmanager

import pyarrow.parquet as pq

# The Spark driver process is one closed-loop client; Spark runs local[N].
CORES = min(4, os.cpu_count() or 1)
N_SHARDS = 4
N_TBUCKETS = 4
N_BASE = 1200          # documents in the base index
N_BATCH = 200          # documents per streamed micro-batch
N_BATCHES = 2
N_DELETE = 30          # ids tombstoned after each micro-batch
POOL = 240             # distinct queries in the query pool
# The query plan -- each pool query's tier, term count and k, and the
# order requests are sent in -- is fixed; --seed selects the corpus, so
# the terms themselves come from each seed's documents.  Run-to-run
# spread then measures the program, not a reshuffled query mix.
PLAN_SEED = 43
DOCVALUES = ["lang"]


def percentile(values, p: float) -> float:
    """Nearest-rank percentile."""
    v = sorted(values)
    return v[max(0, math.ceil(p / 100 * len(v)) - 1)]


def tail_percentile(n: int) -> float | None:
    """Highest of p50/p90/p99/p99.9 with at least ten samples beyond it."""
    best = None
    for p in (50, 90, 99, 99.9):
        if n * (1 - p / 100) >= 10:
            best = p
    return best


def on_step(values, p: float, jump: float = 1.5) -> bool:
    """True when percentile ``p`` sits on a step between two modes: the
    values a few percentile points either side differ by more than
    ``jump`` times.  Needs enough samples for the neighbours to differ."""
    width = min(5.0, (100 - p) / 2)
    if len(values) * width / 100 < 1:
        return False
    lo = percentile(values, max(p - width, 0.0))
    hi = percentile(values, min(p + width, 100.0))
    return lo > 0 and hi / lo > jump


def timing(values_s) -> dict:
    """Median and tail of a list of seconds, in ms, with sample count and
    whether either percentile sits on a step between two modes."""
    out = {"n": len(values_s)}
    if values_s:
        out["p50_ms"] = statistics.median(values_s) * 1e3
        out["p50_on_step"] = on_step(values_s, 50)
        p = tail_percentile(len(values_s))
        if p is not None and p > 50:
            out["tail_pct"] = p
            out["tail_ms"] = percentile(values_s, p) * 1e3
            out["tail_on_step"] = on_step(values_s, p)
    return out


def peak_rss_mb() -> float:
    """Peak resident set of this Spark driver process only, in MB."""
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024


def flatten(obj, prefix: str = "", out: dict | None = None) -> dict:
    """Nested dicts -> {"a.b": value}; lists are left out."""
    out = {} if out is None else out
    if isinstance(obj, dict):
        for k, v in obj.items():
            flatten(v, f"{prefix}.{k}" if prefix else str(k), out)
    elif not isinstance(obj, (list, tuple)):
        out[prefix] = obj
    return out


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(f)
        for f in glob.glob(os.path.join(path, "**", "*"), recursive=True)
        if os.path.isfile(f)
    )


class Bench:
    """One benchmark run: work directory, Spark session, seeded inputs."""

    def __init__(self, root: str, workload: str, seed: int, seconds: float,
                 t_start: float, tracer=None) -> None:
        self.t_start = t_start
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.work = os.path.join(
            root, "perfbench", ".work", f"{workload}-{seed}-{os.getpid()}"
        )
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))
        # Spark and Python temp files stay inside the checkout
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "tmp")
        # no JVM perf-data files under the system temp dir
        os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
        self.spark = None
        self.base_path: str | None = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.report: dict = {}

    # -- session -----------------------------------------------------------

    def start_spark(self):
        from sparkfts.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        self.spark = get_spark(
            cores=CORES, app_name="perfbench", shuffle_partitions=CORES,
            driver_mem="2g",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": tmp,
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def close(self) -> None:
        """Stop Spark, end the JVM and wait for it, remove the work dir."""
        if self.spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            self.spark.stop()
            if gateway is not None:
                gateway.shutdown()
                proc = getattr(gateway, "proc", None)
                if proc is not None:
                    if proc.stdin:
                        proc.stdin.close()
                    try:
                        proc.wait(timeout=60)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
            self.spark = None
        shutil.rmtree(self.work, ignore_errors=True)

    # -- inputs ------------------------------------------------------------

    def corpus(self, n_docs: int):
        """Seeded webtext table (``synth.gen_corpus``)."""
        from sparkfts.synth import gen_corpus

        return gen_corpus(n_docs, seed=self.seed)

    def write_parquet(self, tbl, name: str) -> str:
        path = os.path.join(self.work, name)
        pq.write_table(tbl, path, row_group_size=512)
        return path

    def queries(self, texts) -> list[dict]:
        from sparkfts.synth import gen_queries

        return gen_queries(texts, n_queries=POOL, seed=PLAN_SEED)

    def build(self, pages, out_dir: str) -> dict:
        from sparkfts.index import build_index

        return build_index(
            pages, out_dir, n_shards=N_SHARDS, n_tbuckets=N_TBUCKETS,
            docvalue_cols=DOCVALUES,
        )

    # -- outcome bookkeeping -----------------------------------------------

    def check(self, label: str, ok: bool) -> None:
        """Count one gated operation outcome."""
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(label)

    def deadline(self) -> float:
        return time.perf_counter() + self.seconds

    @contextmanager
    def untraced(self):
        """Keep the correctness gate's own calls out of the trace."""
        if self.tracer is not None:
            self.tracer.paused = True
        try:
            yield
        finally:
            if self.tracer is not None:
                self.tracer.paused = False


def index_counters(index_dir: str) -> dict:
    """Deterministic counters of an on-disk index, read from parquet
    footers and meta only (no Spark job): postings, terms, tokens, shard
    skew and bytes per posting split by postings column."""
    from sparkfts.index import read_meta, segment_dirs

    meta = read_meta(index_dir)
    per_shard: dict[int, int] = {}
    col_bytes = {"doc_ids": 0, "tfs": 0, "doclens": 0, "blockmax": 0}
    n_terms = 0
    for d in segment_dirs(index_dir):
        for f in glob.glob(os.path.join(d, "postings", "**", "*.parquet"),
                           recursive=True):
            pf = pq.ParquetFile(f)
            t = pf.read(columns=["shard", "df_shard"])
            for s, n in zip(t.column("shard").to_pylist(),
                            t.column("df_shard").to_pylist()):
                per_shard[s] = per_shard.get(s, 0) + n
            md = pf.metadata
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for c in range(g.num_columns):
                    col = g.column(c)
                    top = col.path_in_schema.split(".")[0]
                    key = ("blockmax" if top.startswith("block_")
                           else top)
                    if key in col_bytes:
                        col_bytes[key] += col.total_compressed_size
        for f in glob.glob(os.path.join(d, "terms", "**", "*.parquet"),
                           recursive=True):
            n_terms += pq.ParquetFile(f).metadata.num_rows
    postings = sum(per_shard.values())
    mean = postings / max(1, meta["n_shards"])
    out = {
        "postings": postings,
        "terms": n_terms,
        "tokens": round(meta["n_docs"] * meta["avgdl"]),
        "shard_skew": (max(per_shard.values()) / mean) if postings else 0.0,
    }
    for k, v in col_bytes.items():
        out[f"bytes_per_posting.{k}"] = v / postings if postings else 0.0
    return out
