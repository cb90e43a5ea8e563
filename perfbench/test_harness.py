"""Self-tests of the harness's pure helpers.

    python3 -m pytest perfbench/test_harness.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import stats  # noqa: E402


def test_tail_needs_ten_samples_beyond():
    assert stats.tail_index(10) is None
    assert stats.tail_index(11) == 0
    assert stats.tail_index(100) == 89
    assert stats.tail(range(10)) is None
    value, pct = stats.tail(range(1, 101))
    # 90 is the 90th percentile: exactly ten samples (91..100) lie beyond it
    assert value == 90 and pct == 90.0
    # order of input does not matter; 50 samples -> index 39, p80
    assert stats.tail([5.0] * 30 + [1.0] * 20) == (5.0, 80.0)


def test_union_length_merges_overlaps():
    assert stats.union_length([]) == 0.0
    assert stats.union_length([(0, 1), (2, 3)]) == 2
    assert stats.union_length([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]) == 4
    assert stats.union_length([(0, 10), (2, 3)]) == 10


def _span(sid, parent, name, start, end):
    return {"id": sid, "parent": parent, "name": name, "start": start, "end": end}


def test_self_time_subtracts_direct_children_only():
    spans = [
        _span(0, None, "txn.commit", 0.0, 10.0),
        _span(1, 0, "sql.dml_stmt", 1.0, 6.0),
        _span(2, 1, "table.merge", 2.0, 5.0),
        _span(3, 0, "table.merge", 5.0, 8.0),  # overlaps its sibling by 1
        _span(4, None, "txn.commit", 20.0, 21.0),
    ]
    got = stats.self_times(spans)
    assert got["txn.commit"] == (10 - 7) + 1  # children cover [1, 8]
    assert got["sql.dml_stmt"] == 5 - 3
    assert got["table.merge"] == 3 + 3


def test_self_time_clips_children_to_parent():
    spans = [_span(0, None, "a", 0.0, 4.0), _span(1, 0, "b", 3.0, 9.0)]
    assert stats.self_times(spans)["a"] == 3.0


CANNED_LOG = [
    {"Event": "SparkListenerApplicationStart", "App Name": "x"},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
     "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "op-4"}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Stage Attempt ID": 0,
     "Task Metrics": {"Executor CPU Time": 2_000_000, "JVM GC Time": 5,
                      "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
                      "Memory Bytes Spilled": 7, "Disk Bytes Spilled": 3}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Stage Attempt ID": 0,
     "Task Metrics": {"Executor CPU Time": 1_000_000, "JVM GC Time": 0,
                      "Shuffle Write Metrics": {"Shuffle Bytes Written": 50}}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Stage Attempt ID": 0,
     "Task Metrics": {"Executor CPU Time": 500_000}},
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1400},
    # a job outside any group (session housekeeping) is dropped
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1500,
     "Stage IDs": [2], "Properties": {}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Stage Attempt ID": 0,
     "Task Metrics": {"Executor CPU Time": 9_000_000}},
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1600},
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 1700,
     "Stage IDs": [3], "Properties": {"spark.jobGroup.id": "op-4"}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Stage Attempt ID": 1,
     "Task Metrics": {"Executor CPU Time": 0}},
    {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 1750},
]


def test_event_log_fold_per_job_group():
    fold = stats.fold_event_log(json.dumps(e) + "\n" for e in CANNED_LOG)
    assert set(fold) == {"op-4"}
    op = fold["op-4"]
    assert op["jobs"] == 2
    assert op["stages"] == 3
    assert op["tasks"] == 4
    assert op["task_cpu_ms"] == 3.5
    assert op["gc_ms"] == 5
    assert op["shuffle_write_bytes"] == 150
    assert op["spill_bytes"] == 10
    assert op["job_intervals"] == [(1000, 1400), (1700, 1750)]


def test_doc_batch_is_a_function_of_the_seed():
    from perfbench import fixtures

    a = fixtures.doc_batch(7, 2, 100, 0.3)
    assert a.equals(fixtures.doc_batch(7, 2, 100, 0.3))
    assert not a.equals(fixtures.doc_batch(8, 2, 100, 0.3))
    ids = a.column("doc_id").to_pylist()
    assert len(ids) == 130 == len(set(ids))
    # each near-duplicate is a drawn doc with exactly one token dropped
    texts = dict(zip(ids, (t.split() for t in a.column("text").to_pylist())))
    originals = [texts[i] for i in ids[:100]]
    for i in ids[100:]:
        dup = texts[i]
        assert any(len(o) == len(dup) + 1 and any(o[:k] + o[k + 1:] == dup for k in range(len(o)))
                   for o in originals)


def test_benchmark_json_names_what_the_harness_emits():
    from perfbench import run

    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


if __name__ == "__main__":
    for name, fn in sorted(globals().items()):
        if name.startswith("test_"):
            fn()
    print("ok")


def test_stop_children_waits_for_orphaned_grandchildren():
    # in a process of its own, as the subreaper flag cannot be unset
    script = f"""
import os, subprocess, sys
sys.path.insert(0, {os.path.dirname(os.path.dirname(os.path.abspath(__file__)))!r})
from perfbench import run
run.adopt_orphans()
# the shell exits at once; its background sleep is left without a parent
out = subprocess.run(["sh", "-c", "sleep 60 >/dev/null 2>&1 & echo $!"], capture_output=True, text=True)
orphan = int(out.stdout)
assert run.child_pids() == [orphan]
run.stop_children(grace_s=5)
assert run.child_pids() == []
try:
    os.kill(orphan, 0)
    sys.exit("orphan still running")
except ProcessLookupError:
    pass
"""
    subprocess.run([sys.executable, "-c", script], check=True, timeout=60)
