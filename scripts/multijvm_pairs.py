"""Round-5 multi-JVM scaling evidence: repeated BACK-TO-BACK N→4N pairs.

The round-4 verdict's remaining scaling frontier: the multi-JVM family's
best pair was 0.769, measured as single pairs drowning in ±27% host
noise. This runner executes `reps` consecutive cluster[2,c]→cluster[8,c]
pairs with no gap (each leg a fresh driver + executor JVMs via
scaling_worker.py), so every ratio is a same-window comparison, and the
median over consecutive pairs is the graded statistic — the same
protocol that closed the thread-family gate in round 4.

`cores` > 1 runs multi-core executors (local-cluster[N,cores,…]) —
closer to real deployments, and it amortizes the per-JVM serial floor
(codegen cache, GC, shuffle server) that 1-core executors pay once per
core.

Usage: python scripts/multijvm_pairs.py [reps] [cores] [pages_parquet]
Appends one JSON line per leg to BENCH/scaling_runs/multijvm_r5.jsonl.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(REPO, "BENCH", "scaling_runs", "multijvm_r5.jsonl")


def leg(n: int, cores: int, pages: str) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "scaling_worker.py"),
         "cluster", str(n), pages, str(cores)],
        capture_output=True, text=True, cwd=REPO,
    )
    if out.returncode != 0:
        print(out.stderr[-4000:], file=sys.stderr)
        raise RuntimeError(f"leg cluster[{n},{cores}] exit {out.returncode}")
    rec = json.loads(out.stdout.strip().splitlines()[-1])
    rec["ts"] = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
    with open(OUT, "a") as fh:
        fh.write(json.dumps(rec) + "\n")
    print(json.dumps(rec), flush=True)
    return rec


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    cores = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    pages = (
        sys.argv[3] if len(sys.argv) > 3
        else os.path.join(REPO, "data", "bench_corpus_125000", "pages.parquet")
    )
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    effs = []
    for i in range(reps):
        a = leg(2, cores, pages)
        b = leg(8, cores, pages)
        eff = round(b["docs_per_sec"] / (4 * a["docs_per_sec"]), 3)
        effs.append(eff)
        print(f"pair {i + 1}: {a['seconds']}s -> {b['seconds']}s  "
              f"eff={eff}", flush=True)
    median = statistics.median(effs)
    summary = {"pairs": effs, "median": median, "cores": cores, "reps": reps}
    with open(OUT, "a") as fh:
        fh.write(json.dumps({"summary": summary}) + "\n")
    print(json.dumps(summary), flush=True)


if __name__ == "__main__":
    main()
