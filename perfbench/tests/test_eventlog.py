"""The event-log parser on a tiny recorded log: a local[2] session ran
``count()`` in job group ``count`` and a ``groupBy().count()`` in job group
``shuffle``; the log keeps only the fields the parser reads."""

import json
import os
import shutil

import pytest

from eventlog import parse_dir, parse_events

LOG = os.path.join(os.path.dirname(__file__), "fixtures", "tiny_eventlog.json")


def lines():
    with open(LOG) as fh:
        return fh.read().splitlines()


def test_groups_from_recorded_log():
    g = parse_events(lines())
    assert set(g) == {"count", "shuffle"}
    assert g["count"]["jobs"] == 1 and g["shuffle"]["jobs"] == 1
    assert g["count"]["task_s"] == pytest.approx((112 + 113 + 72) / 1000)
    assert g["shuffle"]["task_s"] == pytest.approx((130 + 132 + 31 + 34) / 1000)
    assert g["count"]["shuffle_write_bytes"] == 2 * 59
    assert g["shuffle"]["shuffle_write_bytes"] == 2 * 182
    assert all(t["failed_tasks"] == 0 and t["output_bytes"] == 0 for t in g.values())


def test_reused_stage_stays_with_first_group_and_failures_count():
    extra = [
        # a later job lists stage 2 again (skipped: its shuffle output is reused)
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [2, 4],
         "Properties": {"spark.jobGroup.id": "reuse"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 4,
         "Task End Reason": {"Reason": "ExceptionFailure"},
         "Task Metrics": {"Executor Run Time": 5}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 4,
         "Task End Reason": {"Reason": "Success"},
         "Task Metrics": {"Executor Run Time": 7,
                          "Output Metrics": {"Bytes Written": 1000}}},
    ]
    g = parse_events(lines() + [json.dumps(e) for e in extra])
    assert g["shuffle"]["task_s"] == pytest.approx(0.327)
    assert g["reuse"]["jobs"] == 1
    assert g["reuse"]["task_s"] == pytest.approx(0.012)
    assert g["reuse"]["failed_tasks"] == 1
    assert g["reuse"]["output_bytes"] == 1000


def test_parse_dir_sums_files_separately(tmp_path):
    # job and stage ids restart in every application's log
    shutil.copy(LOG, tmp_path / "app-1")
    shutil.copy(LOG, tmp_path / "app-2")
    g = parse_dir(str(tmp_path))
    assert g["count"]["jobs"] == 2
    assert g["shuffle"]["task_s"] == pytest.approx(2 * 0.327)
