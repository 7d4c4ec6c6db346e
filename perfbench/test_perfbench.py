"""Tests of the benchmark's own logic; no Spark session needed.

The event-log parser runs against ``fixtures/eventlog_small.jsonl``, a
trimmed Spark 4.1 event log of two job groups on ``local[2]``: ``py``
(one ``mapInPandas`` job) and ``jvm`` (a shuffle aggregation that AQE
splits into two jobs).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402
import gen  # noqa: E402
import harness  # noqa: E402
import run  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURE = os.path.join(HERE, "fixtures", "eventlog_small.jsonl")


def test_fixture_totals_per_group():
    groups = eventlog.parse([FIXTURE])
    assert set(groups) == {"py", "jvm"}
    py, jvm = groups["py"], groups["jvm"]
    assert (py.jobs, py.stages, py.tasks, py.failed_tasks) == (1, 1, 2, 0)
    assert (py.py_start_init_ms, py.py_run_ms) == (3909, 4722)
    assert (py.py_bytes_in, py.py_bytes_out) == (33216, 48544)
    assert py.shuffle_write_bytes == 0 and py.gc_ms == 82
    assert (jvm.jobs, jvm.stages, jvm.tasks) == (2, 2, 3)
    assert jvm.shuffle_write_bytes == 339 and jvm.gc_ms == 50
    # a pure-JVM group shows no Python-worker time or bytes
    assert (jvm.py_start_init_ms, jvm.py_run_ms, jvm.py_bytes_in, jvm.py_bytes_out) == (0, 0, 0, 0)


def test_totals_sums_by_prefix():
    groups = eventlog.parse([FIXTURE])
    both = eventlog.totals(groups, "")
    assert both.jobs == 3 and both.tasks == 5
    assert eventlog.totals(groups, "p").as_dict() == groups["py"].as_dict()
    assert eventlog.totals(groups, "none").jobs == 0


def test_failed_task_and_ungrouped_job(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0], "Properties": {}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Properties": {"spark.jobGroup.id": "g"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task End Reason": {"Reason": "Success"},
         "Task Info": {"Accumulables": []}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task End Reason": {"Reason": "ExceptionFailure"},
         "Task Info": {"Accumulables": [{"Name": "internal.metrics.diskBytesSpilled", "Update": 7}]}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
    ]
    path = tmp_path / "events_1_local-1"
    path.write_text("".join(json.dumps(e) + "\n" for e in events))
    groups = eventlog.parse([str(path)])
    assert set(groups) == {"g"}
    g = groups["g"]
    # stage 1 never ran (no StageCompleted): only the executed stage counts
    assert (g.jobs, g.stages, g.tasks, g.failed_tasks, g.spill_bytes) == (1, 1, 1, 1, 7)


def test_event_files_orders_rolled_parts(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    for n in (10, 2, 1):
        (d / f"events_{n}_local-1").write_text("")
    (d / "appstatus_local-1").write_text("")
    names = [os.path.basename(p) for p in eventlog.event_files(str(tmp_path))]
    assert names == ["events_1_local-1", "events_2_local-1", "events_10_local-1"]


def test_benchmark_json_lists_the_metrics_run_reports():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == ["geojoin", "pipeline"]


def test_remap_is_a_bijection_that_keeps_geotag_classes():
    ids = np.arange(3 * gen.GEO_PERIOD, dtype=np.int64)
    out = gen.remap_ids(ids, seed=5)
    assert len(np.unique(out)) == len(ids)
    # ids one period apart stay one period apart: same geotag after remap
    assert np.array_equal(out[gen.GEO_PERIOD:] - out[: -gen.GEO_PERIOD], np.full(2 * gen.GEO_PERIOD, gen.GEO_PERIOD))
    assert not np.array_equal(out, gen.remap_ids(ids, seed=6))


def test_documents_plant_exact_duplicate_count():
    t = gen.documents(seed=3, n=2_000, dup_every=50).to_pandas()
    assert len(t) == 2_000 and t["doc_id"].is_unique
    ilat = (t["doc_id"] * 7919) % 1700
    ilon = (t["doc_id"] * 104729) % 3600
    keyed = t["text"] + "|" + ilat.astype(str) + "|" + ilon.astype(str)
    assert len(t) - keyed.nunique() == 40
    assert gen.documents(seed=3, n=2_000, dup_every=50).equals(gen.documents(seed=3, n=2_000, dup_every=50))


def test_summary_tail_needs_ten_samples_beyond():
    assert "tail_s" not in harness.summary([1.0] * 10)
    s = harness.summary([float(i) for i in range(20)])
    assert (s["n"], s["median_s"], s["tail_pct"], s["tail_s"]) == (20, 9.5, 50.0, 9.0)
