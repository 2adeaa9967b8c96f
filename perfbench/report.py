"""Print every perfbench metric by name for every workload.

    python3 perfbench/report.py [--seed N] [--seconds S] [--workloads a,b]

Runs ``perfbench/run.py`` for each workload untraced and then traced,
from the repository root, and prints: the end-to-end metrics with unit
and sample count, attempted and failed operations, the known-failure
probe, every detail metric, the per-layer table of the traced run, and
the tracing overhead (traced minus untraced end-to-end values).  The
per-layer table is also written to ``perfbench/out/layers-seed<N>.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.common import flatten  # noqa: E402


def run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{' '.join(cmd)} exited {proc.returncode}")
    path = os.path.join(
        HERE, "out", f"{workload}-seed{seed}-trace{trace}.json")
    with open(path) as f:
        return json.load(f)


def _n(details: dict, metric: str, workload: str) -> str:
    """Sample count behind an end-to-end metric (see BENCHMARK.json)."""
    key = SAMPLES.get(workload, {}).get(metric)
    if key is None:
        return "1"
    d = details
    for part in key.split("."):
        d = d.get(part, {}) if isinstance(d, dict) else {}
    return str(d) if not isinstance(d, dict) else "?"


# which detail counter holds each end-to-end metric's sample count
SAMPLES = {
    "index": {"warm_p50_ms": "warm_exact_best_n",
              "fuzzy_p50_ms": "warm_fuzzy_best_n",
              "batch_qps": "batch.n", "warm_qps": "warm_passes"},
    "serve": {"warm_p50_ms": "warm_exact_best_n",
              "fuzzy_p50_ms": "warm_fuzzy_best_n",
              "cold_ms": "cold_ref.n", "batch_qps": "batch.n",
              "warm_qps": "warm_passes"},
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--workloads", default=None)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = args.seconds or spec["run_seconds"]
    names = (args.workloads.split(",") if args.workloads
             else [w["name"] for w in spec["workloads"]])
    units = {m["name"]: m["unit"]
             for m in spec["end_to_end"] + spec["per_layer"]}

    plain, traced = {}, {}
    for w in names:
        plain[w] = run(w, args.seed, seconds, 0)
        traced[w] = run(w, args.seed, seconds, 1)

    print(f"# perfbench seed={args.seed} seconds={seconds}")
    for w in names:
        r = plain[w]
        print(f"\n## {w}: correct={r['correct']} attempted={r['attempted']} "
              f"failed={r['failed']} {r['failures'][:5]}")
        kf = r["details"].get("known_failures")
        if kf:
            print(f"   known failures: {kf}")
        print(f"   {'metric':<28}{'value':>14}  {'unit':<6}{'n':>7}"
              f"{'traced-untraced':>18}")
        for m in spec["end_to_end"]:
            k = m["name"]
            v, tv = r["end_to_end"][k], traced[w]["end_to_end"][k]
            print(f"   {k:<28}{v:>14.6g}  {units[k]:<6}"
                  f"{_n(r['details'], k, w):>7}{tv - v:>+18.4g}")
        print("   details:")
        for k, v in flatten(r["details"]).items():
            val = f"{v:.6g}" if isinstance(v, float) else str(v)
            print(f"     {k:<44}{val:>14}")

    # deterministic counters must repeat exactly between the two runs
    for w in names:
        a, t = _counters(plain[w]), _counters(traced[w])
        diff = {k: (a[k], t.get(k)) for k in a if a[k] != t.get(k)}
        print(f"\n{w}: deterministic counters repeat exactly: "
              f"{'yes' if not diff else diff}")

    lines = ["| layer metric | unit | " + " | ".join(names) + " |",
             "|---|---|" + "---|" * len(names)]
    for m in spec["per_layer"]:
        k = m["name"]
        vals = [traced[w]["per_layer"][k] for w in names]
        lines.append(f"| {k} | {units[k]} | "
                     + " | ".join(f"{v:.6g}" for v in vals) + " |")
    table = "\n".join(lines)
    print("\n## per-layer (traced run)\n" + table)
    out = os.path.join(HERE, "out", f"layers-seed{args.seed}.md")
    with open(out, "w") as f:
        f.write(table + "\n")
    print(f"\nper-layer table written to {os.path.relpath(out, ROOT)}")


DETERMINISTIC = ("index.", "segments", "postings_rewritten",
                 "merge_bytes_per_user_byte", "warm_window_spark_jobs")


def _counters(r: dict) -> dict:
    out = {k: v for k, v in flatten(r["details"]).items()
           if k.startswith(DETERMINISTIC)}
    out["index_to_corpus_ratio"] = r["end_to_end"]["index_to_corpus_ratio"]
    return out


if __name__ == "__main__":
    main()
