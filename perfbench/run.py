#!/usr/bin/env python3
"""Closed-loop benchmark of the linkage pipeline.

Run from the repository root:

    python3 perfbench/run.py --workload dedup_web --seed 1 --seconds 15 --trace 0

One process runs one workload: one pipeline at a time on ``local[nproc]``
with ``nproc`` shuffle partitions and the package's default driver heap,
which grows as the pipeline allocates. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``; failed
checks are printed by name above it. Metric names and units are those of
``BENCHMARK.json``.

``--trace 0`` (end-to-end metrics, tracing off):

1. one set-up, as a batch job pays it: ``get_spark``, which launches the
   JVM, plus registering the input pages (``setup_s``);
2. one cold run, the first in the fresh JVM, over the corpus's first
   ``WARMUP_PAGES`` pages (``cold_cpu_s``): the class loading, code
   generation, JIT compilation and Python worker start-up a one-shot job
   pays before its real work, at a size where little else runs;
3. warm runs of ``link_pages`` over the whole corpus until ``--seconds``
   have passed, and at least ``MIN_WARM_RUNS``; ``run_cpu_s`` is their
   median. The JIT keeps compiling through the first few runs, so each
   run costs less than the one before and the median depends on how many
   runs there were; it stays ``MIN_WARM_RUNS`` while two runs take longer
   than ``--seconds``. Every run starts from a clean slate: no cached
   frame, no persisted RDD (asserted), no checkpoint table. After each, a
   full GC gives the heap the finished run still holds
   (``retained_heap_mb``).

Set-up and runs are timed in CPU seconds (user + system) of the whole
process tree: this Python driver, the JVM with its compiler and GC
threads, and the Python workers. That is the core-seconds a batch job is billed for. Wall
time on a shared host also counts the time other tenants hold the cores:
with two busy-looping processes on a 4-vCPU host, a warm run's wall time
rose 44% and its CPU time 2%; in a run during which the hypervisor stole
12% of the host's CPU time, wall time rose 33% and CPU time 16%. Over
six set-ups, wall time ranged 8.5-13.5 s and CPU time 19.0-20.8 s. Wall
times are reported by the traced run.

``--trace 1`` (per-layer metrics, event log on): a cold ``link_pages``
run gives the reference clusters, a warm untraced run gives the base for
``trace.overhead_s``, then the stage-by-stage mirror (``stages``), then a
checkpointed run and a resume after a simulated crash before scoring.
The resume must equal the full checkpointed run; how many ``(id,
cluster_id)`` rows the checkpointed run differs from ``link_pages`` by is
reported, not checked, because the two pipelines block on different ids.

Corpora are generated from ``--seed`` and cached per (workload, seed)
under ``perfbench/.cache``; scratch files live under ``perfbench/.work``
and are removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass
from typing import Callable

from checks import (
    check_chains,
    check_covers,
    check_dedup,
    check_same,
    pair_f1,
    partition_digest,
)
from corpora import cached_corpus, write_chain_corpus, write_warmup
from eventlog import parse_dir

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
CORES = len(os.sched_getaffinity(0))
CLK_TCK = os.sysconf("SC_CLK_TCK")

DEDUP_ENTITIES = 250  # ≈ 2k pages
N_CHAINS, CHAIN_LEN = 3, 300
WARMUP_PAGES = 128  # more than max_block pages share a host, so salting runs
MIN_WARM_RUNS = 2


@dataclass(frozen=True)
class Workload:
    corpus: str  # names the generator's parameters in the cache key
    build: Callable[[str, int], object]  # (out_dir, seed) → writes the corpus
    chains: bool  # chain corpus: check clusters against the generated chains


def _dedup_corpus(out_dir: str, seed: int) -> None:
    from entity_linking_spark.datagen import write_parquet

    write_parquet(out_dir, n_entities=DEDUP_ENTITIES, seed=seed)


def _chain_corpus(out_dir: str, seed: int) -> None:
    write_chain_corpus(out_dir, seed, N_CHAINS, CHAIN_LEN)


WORKLOADS = {
    "dedup_web": Workload(f"datagen-e{DEDUP_ENTITIES}", _dedup_corpus, chains=False),
    "giant_component": Workload(
        f"chains-{N_CHAINS}x{CHAIN_LEN}", _chain_corpus, chains=True
    ),
}


class Judge:
    """Runs the workload's checks on each output; tallies attempts and
    failures and prints each failed check by name."""

    def __init__(self, wl: Workload, corpus_dir: str):
        import pyarrow.parquet as pq

        lp = pq.read_table(os.path.join(corpus_dir, "labeled_pairs.parquet"))
        self.labeled = list(zip(*(lp.column(c).to_pylist() for c in ("url_a", "url_b", "label"))))
        pg = pq.read_table(os.path.join(corpus_dir, "pages.parquet"), columns=["url", "entity_id"])
        self.truth = dict(zip(pg.column("url").to_pylist(), pg.column("entity_id").to_pylist()))
        self.wl = wl
        self.ref: tuple[float, str] | None = None
        self.f1: float | None = None
        self.attempted = self.failed = 0

    def record(self, failures: list[str]) -> None:
        self.attempted += 1
        self.failed += bool(failures)
        for f in failures:
            print(f"CHECK FAILED {f}", flush=True)

    def output(self, rows) -> None:
        f1 = pair_f1(rows, self.labeled)
        if self.wl.chains:
            fails = check_chains(rows, self.truth, N_CHAINS, CHAIN_LEN)
        else:
            digest = partition_digest(rows)
            fails = check_dedup(f1, digest, self.ref)
            self.ref = self.ref or (f1, digest)
        if self.f1 is None:
            self.f1 = f1
        self.record(fails)

    def attempt(self, prepare, fn):
        """Run ``prepare()`` untimed, then time ``fn()``.
        → (value, CPU seconds), or (None, None) after recording a raise."""
        try:
            prepare()
            c0 = tree_cpu_s()
            value = fn()
        except Exception as e:  # a failed run is counted, not fatal
            self.record([f"run_raised: {type(e).__name__}: {str(e)[:300]}"])
            return None, None
        return value, tree_cpu_s() - c0


def start_session(work: str, trace: bool):
    from entity_linking_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(work, "events")
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"  # one file per app
    return get_spark("perfbench", cores=CORES, shuffle_partitions=CORES, extra_conf=conf)


def setup(corpus_dir: str, work: str, trace: bool):
    """The first ``get_spark`` of the process, which launches the JVM, then
    the input registration. → (spark, pages, CPU seconds of both, wall
    seconds of ``get_spark``)."""
    c0 = tree_cpu_s()
    t0 = time.perf_counter()
    spark = start_session(work, trace)
    get_spark_s = time.perf_counter() - t0
    pages = spark.read.parquet(os.path.join(corpus_dir, "pages.parquet"))
    return spark, pages, tree_cpu_s() - c0, get_spark_s


def clean_slate(spark) -> int:
    """Drop every cached frame, persisted RDD and checkpoint table; assert
    none is left. → the persisted-RDD count found on entry."""
    sc = spark.sparkContext
    leaked = len(sc._jsc.getPersistentRDDs())
    spark.catalog.clearCache()
    # localCheckpoint RDDs survive clearCache()
    for rdd in list(sc._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    for t in spark.catalog.listTables():
        if t.name.startswith("elspark_ckpt_"):
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")
    left = len(sc._jsc.getPersistentRDDs())
    if left:
        raise RuntimeError(f"clean slate: {left} persisted RDDs remain")
    sc._jvm.System.gc()  # no run pays for the previous run's garbage
    return leaked


def link(pages):
    from entity_linking_spark.plans.pipeline import LinkageConfig, link_pages

    return [tuple(r) for r in link_pages(pages, config=LinkageConfig()).collect()]


def _stat(pid) -> list[str]:
    """Fields of ``/proc/<pid>/stat`` after the command name: [0] is the
    state, [1] the parent pid, [11:15] utime, stime, cutime, cstime."""
    with open(f"/proc/{pid}/stat") as fh:
        return fh.read().rsplit(")", 1)[1].split()


def _tree() -> list[int]:
    """This process and its live descendants (the JVM and its Python
    workers)."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            ppid = int(_stat(d)[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system) spent so far by the process tree,
    counting each process's reaped children too."""
    ticks = 0
    for pid in _tree():
        try:
            ticks += sum(int(x) for x in _stat(pid)[11:15])
        except (OSError, IndexError, ValueError):
            continue
    return ticks / CLK_TCK


def retained_heap_mb(spark) -> float:
    """JVM heap in use after a full GC: what a finished run still holds in
    cached frames, persisted RDDs and anything it leaked."""
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    # the context cleaner drops broadcasts and shuffles whose driver
    # objects the GC found unreachable; collect what that frees too
    time.sleep(0.5)
    jvm.System.gc()
    usage = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return usage.getUsed() / 2**20


def run_untraced(judge: Judge, corpus_dir: str, work: str, seconds: float, n_pages: int) -> dict:
    spark, pages, setup_cpu, _ = setup(corpus_dir, work, trace=False)
    warmup = spark.read.parquet(os.path.join(corpus_dir, "warmup.parquet"))

    def one_run(df):
        return judge.attempt(lambda: clean_slate(spark), lambda: link(df))

    rows, cold_cpu = one_run(warmup)
    if rows is not None:
        judge.record(check_covers("cold_run_covers_pages", rows, WARMUP_PAGES))
    samples: list[float] = []
    retained: list[float] = []
    t_start = time.perf_counter()
    tries = 0
    while (
        time.perf_counter() - t_start < seconds
        or len(samples) < MIN_WARM_RUNS and tries < MIN_WARM_RUNS + 2
    ):
        tries += 1
        rows, cpu = one_run(pages)
        if rows is not None:
            judge.output(rows)
            samples.append(cpu)
            retained.append(retained_heap_mb(spark))
    if cold_cpu is None or not samples:
        raise RuntimeError("no successful run to report")
    return untraced_metrics(setup_cpu, cold_cpu, samples, n_pages, retained, judge.f1)


def untraced_metrics(setup_cpu, cold_cpu, samples, n_pages, retained, f1) -> dict:
    """End-to-end metrics from the untraced run's raw measurements, all
    times in CPU seconds; ``samples`` and ``retained`` hold one value per
    warm run."""
    run_cpu = statistics.median(samples)
    return {
        "run_cpu_s": run_cpu,
        "docs_per_cpu_s": n_pages / run_cpu,
        "cold_cpu_s": cold_cpu,
        "setup_s": setup_cpu,
        "retained_heap_mb": statistics.median(retained),
        "pair_f1": f1,
    }


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs
    )


def checkpoint_round(spark, pages, run_dir: str) -> dict:
    """Full checkpointed run (dual-bucket layout), then a crash before the
    scored stage simulated by popping ``scored`` and ``clusters`` from the
    manifest, then a resume from a clean slate."""
    from entity_linking_spark.checkpoint import run_linkage_checkpointed
    from entity_linking_spark.plans.pipeline import LinkageConfig

    sc = spark.sparkContext

    def ckpt_rows():
        out = run_linkage_checkpointed(
            spark, pages, run_dir, LinkageConfig(), bucketed=True, dual_bucket=True
        )
        return [tuple(r) for r in out.collect()]

    sc.setJobGroup("checkpoint_write", "checkpoint_write")
    t0 = time.perf_counter()
    full = ckpt_rows()
    write_s = time.perf_counter() - t0
    written = _du(run_dir)
    manifest_path = os.path.join(run_dir, "manifest.json")
    with open(manifest_path) as fh:
        manifest = json.load(fh)
    for dead in ("scored", "clusters"):
        manifest.pop(dead)
    with open(manifest_path, "w") as fh:
        json.dump(manifest, fh)
    sc.setJobGroup("counters", "counters")
    clean_slate(spark)
    sc.setJobGroup("checkpoint_resume", "checkpoint_resume")
    t0 = time.perf_counter()
    resumed = ckpt_rows()
    resume_s = time.perf_counter() - t0
    return {"full": full, "resumed": resumed, "write_s": write_s, "resume_s": resume_s, "written": written}


def run_traced(judge: Judge, corpus_dir: str, work: str, n_pages: int) -> dict:
    from entity_linking_spark.plans.pipeline import LinkageConfig
    from stages import StageClock, mirror_link_pages

    spark, pages, _, get_spark_s = setup(corpus_dir, work, trace=True)
    sc = spark.sparkContext
    sc.setJobGroup("reference", "reference")
    t0 = time.perf_counter()
    ref = link(pages)  # cold run: reference clusters, and JIT warm-up
    cold_wall_s = time.perf_counter() - t0
    judge.output(ref)
    clean_slate(spark)
    sc.setJobGroup("untraced", "untraced")
    t0 = time.perf_counter()
    untraced = link(pages)
    untraced_s = time.perf_counter() - t0
    judge.record(check_same("untraced_equals_reference", untraced, ref))
    sc.setJobGroup("counters", "counters")
    leaked = clean_slate(spark)
    clock = StageClock(spark)
    rows, ctr = mirror_link_pages(spark, pages, LinkageConfig(), clock)
    judge.record(check_same("mirror_equals_link_pages", rows, ref))
    clean_slate(spark)
    ck = checkpoint_round(spark, pages, os.path.join(work, "run"))
    judge.record(check_same("resume_equals_full", ck["resumed"], ck["full"]))
    # measured, not checked: run_linkage_checkpointed blocks on the raw
    # string ids while link_pages folds them to xxhash64, so salting and
    # capping can keep different block members and the clusters can differ
    ck["differ"] = len(set(ck["full"]) ^ set(ref))
    spark.stop()
    groups = parse_dir(os.path.join(work, "events"))
    return traced_metrics(
        clock.wall, clock.rows, groups, ctr, ck, rows, n_pages,
        input_bytes=os.path.getsize(os.path.join(corpus_dir, "pages.parquet")),
        untraced_s=untraced_s, cold_wall_s=cold_wall_s, leaked=leaked,
        get_spark_s=get_spark_s,
    )


def traced_metrics(
    wall, rows, groups, ctr, ck, clusters, n_pages, *, input_bytes, untraced_s,
    cold_wall_s, leaked, get_spark_s,
) -> dict:
    """Per-layer metrics from the traced run's raw measurements; ``wall``
    and ``rows`` are keyed by stage."""
    empty = {"jobs": 0, "task_s": 0.0, "shuffle_write_bytes": 0, "failed_tasks": 0}
    m: dict[str, float] = {}
    for s in wall:
        g = groups.get(s, empty)
        m[f"{s}.wall_s"] = wall[s]
        m[f"{s}.task_s"] = g["task_s"]
        m[f"{s}.idle_core_s"] = wall[s] * CORES - g["task_s"]
        m[f"{s}.shuffle_write_mb"] = g["shuffle_write_bytes"] / 1e6
        m[f"{s}.rows"] = rows[s]
    sizes: dict = {}
    for _, c in clusters:
        sizes[c] = sizes.get(c, 0) + 1
    stages_sum = sum(wall.values())
    m.update({
        "blocking.rows_per_doc": rows["blocking"] / n_pages,
        "blocking.salted_keys": ctr["salted_keys"],
        "blocking.max_block": ctr["max_block"],
        "pairs.per_doc": rows["pairs"] / n_pages,
        "payload.bytes_per_doc": ctr["payload_bytes"] / n_pages,
        "score.edge_yield": ctr["edges"] / max(rows["pairs"], 1),
        "similarity.jw_pairs_per_s": rows["pairs"] / ctr["jw_s"],
        "cc.jobs": groups.get("cc", empty)["jobs"],
        "cc.converged": int(ctr["converged"]),
        "cc.components": len(sizes),
        "cc.largest_component": max(sizes.values(), default=0),
        "pipeline.leaked_rdds": leaked,
        "pipeline.run_wall_s": untraced_s,
        "pipeline.cold_wall_s": cold_wall_s,
        "checkpoint.write_s": ck["write_s"],
        "checkpoint.bytes_written_per_input_byte": ck["written"] / input_bytes,
        "checkpoint.resume_read_s": ck["resume_s"],
        "checkpoint.rows_differing_from_link_pages": ck["differ"],
        "session.get_spark_s": get_spark_s,
        "trace.stages_sum_s": stages_sum,
        "trace.overhead_s": stages_sum - untraced_s,
        "trace.failed_tasks": sum(g["failed_tasks"] for g in groups.values()),
    })
    return m


def stop_jvm() -> None:
    """Stop the SparkContext and the JVM it runs in, and wait for the JVM
    to exit (it exits when its stdin closes)."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def load_spec(mode: str) -> dict[str, str]:
    """{metric name: unit} that BENCHMARK.json declares for ``mode``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if mode == "trace" else "end_to_end"]}


def result_line(metrics: dict, judge: Judge, mode: str) -> str:
    units = load_spec(mode)
    if set(metrics) != set(units):
        raise RuntimeError(
            f"metric names differ from BENCHMARK.json: {sorted(set(metrics) ^ set(units))}"
        )
    return json.dumps({
        "correct": judge.failed == 0,
        "attempted": judge.attempted,
        "failed": judge.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    })


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    # Python workers import the package too; they inherit this environment
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import entity_linking_spark  # noqa: F401  (fail fast without the package)
    import pyarrow.parquet as pq

    wl = WORKLOADS[args.workload]
    corpus_dir = cached_corpus(
        os.path.join(BENCH, ".cache"), f"{wl.corpus}-seed{args.seed}",
        lambda d: (wl.build(d, args.seed), write_warmup(d, WARMUP_PAGES)),
    )
    n_pages = pq.ParquetFile(os.path.join(corpus_dir, "pages.parquet")).metadata.num_rows
    work = os.path.join(BENCH, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(work, "events"), exist_ok=True)
    # keep temporary files inside the checkout: the launcher and driver
    # JVMs write no perf-data file under /tmp and take their tmpdir here
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    judge = Judge(wl, corpus_dir)
    try:
        if args.trace:
            metrics = run_traced(judge, corpus_dir, work, n_pages)
        else:
            metrics = run_untraced(judge, corpus_dir, work, args.seconds, n_pages)
        line = result_line(metrics, judge, "trace" if args.trace else "e2e")
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(line, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
