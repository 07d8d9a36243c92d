"""The metrics the benchmark prints are exactly those BENCHMARK.json
declares, and every per-layer metric has a row in layers.json."""

import json
import os

import run

SPEC_PATH = os.path.join(run.ROOT, "BENCHMARK.json")
STAGES = ("scan", "blocking", "pairs", "payload", "score", "cc", "id_restore")


def spec():
    with open(SPEC_PATH) as fh:
        return json.load(fh)


def test_end_to_end_names_match_spec():
    m = run.untraced_metrics(19.0, 80.0, [40.0, 41.0], 2000, [400.0, 410.0], 0.99)
    assert set(m) == {e["name"] for e in spec()["end_to_end"]}
    assert all(v > 0 for v in m.values())


def test_per_layer_names_match_spec():
    empty_group = {"jobs": 1, "task_s": 1.0, "shuffle_write_bytes": 1, "failed_tasks": 0}
    m = run.traced_metrics(
        wall=dict.fromkeys(STAGES, 1.0),
        rows=dict.fromkeys(STAGES, 10),
        groups={s: empty_group for s in STAGES},
        ctr={"salted_keys": 0, "max_block": 3, "edges": 5, "payload_bytes": 100,
             "jw_s": 0.5, "converged": True},
        ck={"write_s": 2.0, "resume_s": 1.0, "written": 50, "differ": 0},
        clusters=[("a", "a"), ("b", "a")],
        n_pages=2,
        input_bytes=10,
        untraced_s=6.0,
        cold_wall_s=20.0,
        leaked=9,
        get_spark_s=0.1,
    )
    assert set(m) == {e["name"] for e in spec()["per_layer"]}


def test_result_line_refuses_unknown_names():
    class J:
        failed, attempted = 0, 1

    try:
        run.result_line({"run_cpu_s": 1.0}, J(), "e2e")
    except RuntimeError as e:
        assert "BENCHMARK.json" in str(e)
    else:
        raise AssertionError("missing metrics were not refused")


def test_workloads_and_layers_are_recorded():
    s = spec()
    assert {w["name"] for w in s["workloads"]} == set(run.WORKLOADS)
    with open(os.path.join(run.BENCH, "layers.json")) as fh:
        layers = json.load(fh)["layers"]
    e2e = {e["name"] for e in s["end_to_end"]}
    for m in s["per_layer"]:
        assert m["name"].split(".")[0] in layers, m["name"]
    for row in layers.values():
        for metric, workload in row["moves"]:
            assert metric in e2e and workload in run.WORKLOADS
