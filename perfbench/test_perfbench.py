"""Checks of the benchmark's own parts (no Spark session needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json

import pandas as pd

import eventlog
import gen


def _tables_equal(a: dict, b: dict) -> bool:
    return a.keys() == b.keys() and all(a[k].equals(b[k]) for k in a)


def test_serving_catalog_is_seeded():
    a, b, c = (gen.serving_catalog(s, 50) for s in (1, 1, 2))
    assert _tables_equal(a.tables, b.tables) and a.nobs == b.nobs
    assert not _tables_equal(a.tables, c.tables)
    ra, rb = gen.serving_requests(a, 1, 40), gen.serving_requests(b, 1, 40)
    assert [(r.path, r.body, r.expect) for r in ra] == [(r.path, r.body, r.expect) for r in rb]


def test_serving_truth_follows_version_priority():
    cat = gen.serving_catalog(3, 200)
    assert cat.overridden > 0
    # each overridden root gains the two reproc-only visits in pv_live
    gained = [cat.nobs["pv_live"][r] - cat.nobs["pv_base"][r] for r in cat.roots]
    assert set(gained) == {0, 2} and gained.count(2) == cat.overridden
    # a detection re-measured by reproc reports the reproc message in pv_live
    live = [info for rows in cat.brokerinfo["pv_live"].values() for _, _, info in rows]
    assert any('"bpv": "reproc"' in i for i in live)
    assert all('"bpv": "base"' in i for rows in cat.brokerinfo["pv_base"].values()
               for _, _, i in rows)


def test_alert_stream_is_seeded_and_replays_add_nothing():
    a, b, c = (gen.alert_stream(s, 100, 3, 200) for s in (1, 1, 2))
    assert a.batches == b.batches and a.expected_counts == b.expected_counts
    assert a.batches != c.batches
    assert a.replays > 0
    ids = [x["alertId"] for batch in a.batches for x in batch]
    # a replay repeats an alert id; the unique sources grow by one per new alert
    new_sources = len(set(ids))
    assert a.expected_counts[-1]["diasource"] == len(a.tables["diasource"]) + new_sources
    d = gen.alert_stream(1, 100, 3, 200, first_batch_size=50)
    assert [len(batch) for batch in d.batches] == [50, 200, 200]


def test_dedup_corpus_is_seeded_with_planted_verdicts():
    a, b, c = (gen.dedup_corpus(s, 200, 3, 100) for s in (1, 1, 2))
    assert a.batches == b.batches and a.verdicts == b.verdicts and a.removed == b.removed
    assert a.batches != c.batches
    kinds = {v for verdict in a.verdicts for v in verdict.values()}
    assert kinds == {"fresh", "exact", "near", "in_batch_exact", "in_batch_near"}
    fresh = sum(v == "fresh" for verdict in a.verdicts for v in verdict.values())
    assert a.index_size[-1] == len(a.initial_survivors) - len(a.removed) + fresh


def _write_log(path, events):
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")


def test_eventlog_attribution_and_fallbacks(tmp_path):
    props = {"spark.jobGroup.id": "op1", "perfbench.span": "s2", "spark.sql.execution.id": "0"}
    _write_log(tmp_path / "log", [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Stage Infos": [{"Stage ID": 0, "Number of Tasks": 4},
                                              {"Stage ID": 1, "Number of Tasks": 2}],
         "Properties": props},
        # stage 1 never reports a Submission Time
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 1, "Number of Tasks": 2, "Completion Time": 1500}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0, "Number of Tasks": 4, "Submission Time": 1100,
                        "Completion Time": 1400}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Info": {"Failed": False},
         "Task Metrics": {"Input Metrics": {"Records Read": 10, "Bytes Read": 100}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Info": {"Failed": True},
         "Task Metrics": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1600,
         "Job Result": {"Result": "JobSucceeded"}},
        # a job outside any operation, and a task of an unknown stage
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2000,
         "Stage IDs": [], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 9, "Task Info": {}, "Task Metrics": {}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 0, "sparkPlanInfo": {"metrics": [], "children": [
             {"metrics": [{"name": "number of files read", "accumulatorId": 7}]}]}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
         "executionId": 0, "accumUpdates": [[7, 3]]},
    ])
    log = eventlog.parse(str(tmp_path / "log"))
    assert log.stage_window(1) == (1500, 1500)
    assert log.unattributed == 2
    op = log.by_group()["op1"]
    assert (op.jobs, op.stages, op.tasks, op.failed_tasks) == (1, 2, 2, 1)
    assert (op.widest_stage, op.records_read, op.bytes_read, op.files_read) == (4, 10, 100, 3)
    assert op.job_windows == [(1000, 1600)]
    assert log.jobs_by_span() == {"s2": 1}


def test_union_length_merges_overlaps():
    assert eventlog.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert eventlog.union_length([]) == 0


def test_zipf_indices_favour_low_ranks():
    import numpy as np

    idx = gen.zipf_indices(np.random.default_rng(0), 100, 2000)
    counts = pd.Series(idx).value_counts()
    assert counts.iloc[0] > 10 * counts.iloc[-1]
    assert idx.min() >= 0 and idx.max() < 100
