"""Self-tests of the benchmark's own logic (no Spark needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
from collections import Counter

import pytest

import inputs
import tracing


# --- percentile rule ----------------------------------------------------


def test_tail_leaves_ten_samples_beyond():
    values = [float(i) for i in range(100)]
    value, pct, n = tracing.tail(values)
    assert (value, pct, n) == (89.0, 90.0, 100)
    assert sum(v > value for v in values) == 10


def test_tail_ignores_input_order_and_small_counts():
    assert tracing.tail([5.0, 1.0, 3.0] * 7)[0] == 3.0  # n=21: 11th smallest
    value, pct, n = tracing.tail([2.0, 1.0, 3.0])
    assert (value, n) == (1.0, 3)  # nothing has ten beyond it: the smallest
    assert pct == pytest.approx(100 / 3)
    with pytest.raises(ValueError):
        tracing.tail([])


# --- span self time -----------------------------------------------------


def test_union_length_merges_overlaps():
    assert tracing.union_length([(0, 2), (1, 3), (5, 6), (5.5, 5.8)]) == 4
    assert tracing.union_length([]) == 0


def test_self_time_clips_children_to_the_span():
    # children cover [1, 3] and [4, 10]; only [4, 5] of the second is inside
    assert tracing.self_time(0, 5, [(1, 2), (1.5, 3), (4, 10)]) == 2
    assert tracing.self_time(0, 5, [(6, 7)]) == 5


# --- event-log attribution ----------------------------------------------


def _task(stage, run_ms, out_bytes=0, failed=False):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": 0, "Finish Time": run_ms + 5,
                      "Getting Result Time": 0, "Failed": failed},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": run_ms * 10**6,
            "Executor Deserialize Time": 1, "Result Serialization Time": 1,
            "JVM GC Time": 0, "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 50},
            "Output Metrics": {"Bytes Written": out_bytes, "Records Written": 0},
        },
    }


def _stage(sid, start, end, parents=()):
    return {"Event": "SparkListenerStageCompleted", "Stage Info": {
        "Stage ID": sid, "Number of Tasks": 2, "Parent IDs": list(parents),
        "Submission Time": start, "Completion Time": end}}


def test_attribute_assigns_jobs_by_window(tmp_path):
    # op A runs 1000-2000 ms, op B 2000-4000 ms; job 1 reuses stage 0
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1100,
         "Stage IDs": [0]},
        _stage(0, 1100, 1500),
        _task(0, 300),
        _task(0, 200, failed=True),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2100,
         "Stage IDs": [0, 1]},
        _stage(1, 2100, 3000, parents=[0]),
        _task(1, 800, out_bytes=9),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 3000},
    ]
    log = tmp_path / "app"
    log.write_text("".join(json.dumps(e) + "\n" for e in events))
    jobs, stages = tracing.read_event_log(str(log))
    assert [j.job_id for j in jobs] == [0, 1]
    assert stages[0].run_s == pytest.approx(0.5)
    assert stages[0].failed_tasks == 1
    assert stages[0].shuffle_write_bytes == 200
    assert stages[0].sched_delay_s == pytest.approx(0.006)  # 3 ms per task

    a_jobs, a_stages, a_skipped = tracing.attribute(jobs, stages, 1.0, 2.0)
    assert [j.job_id for j in a_jobs] == [0]
    assert [s.stage_id for s in a_stages] == [0] and a_skipped == 0
    b_jobs, b_stages, b_skipped = tracing.attribute(jobs, stages, 2.0, 4.0)
    assert [j.job_id for j in b_jobs] == [1]
    assert [s.stage_id for s in b_stages] == [1] and b_skipped == 1
    assert b_stages[0].parents == [0] and b_stages[0].output_bytes == 9


# --- generators ---------------------------------------------------------


def test_tables_are_a_function_of_the_seed():
    a = inputs.star_schema_tables(7, 0.0005)
    b = inputs.star_schema_tables(7, 0.0005)
    c = inputs.star_schema_tables(8, 0.0005)
    assert set(a) == {"region", "nation", "customer", "supplier", "part",
                      "orders", "lineitem", "events", "documents", "embeddings"}
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == 3000


def test_corpus_is_a_function_of_the_seed():
    files, term = inputs.corpus_lines(3, 2000, vocab=300)
    again, term2 = inputs.corpus_lines(3, 2000, vocab=300)
    other, _ = inputs.corpus_lines(4, 2000, vocab=300)
    assert (files, term) == (again, term2)
    assert files != other
    assert len(files) == 10 and [] in files
    assert sum(map(len, files)) == 2000
    hits = sum(term in line.lower() for lines in files for line in lines)
    assert 0 < hits < 40  # rare, so grep stays selective


def test_expected_outputs_follow_the_group_rule():
    files = [["b a", "A"], [], ["c  b"]]
    wc = inputs.wordcount_mapped(files)
    assert wc == Counter({"a\t1": 2, "b\t1": 2, "c\t1": 1, "\t1": 1})
    out = inputs.expected_outputs(wc, "wordcount", 2)
    # byte order of distinct lines: "\t1" < "a\t1" < "b\t1" < "c\t1"
    assert out == {0: Counter({"\t1": 1, "b\t2": 1}),
                   1: Counter({"a\t2": 1, "c\t1": 1})}
    grep = inputs.grep_mapped([["x B", " b ", "c"], ["x B"]], "b")
    assert inputs.expected_outputs(grep, "grep", 2) == {
        0: Counter({"b": 1}), 1: Counter({"x B": 2})}


# --- BENCHMARK.json -----------------------------------------------------


def test_benchmark_json_matches_the_runner():
    import run

    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


def test_failure_reason_is_the_worker_error():
    import run

    wrapped = RuntimeError(
        "An error occurred while calling o90.collectAndServe.\n"
        ": org.apache.spark.SparkException: Job aborted due to stage failure\n"
        "  File \"/x/worker.py\", line 1, in main\n"
        "ModuleNotFoundError: No module named 'map_reduce_server_spark'\n"
        "\tat org.apache.spark.api.python.BasePythonRunner.read\n")
    assert run._reason(wrapped) == (
        "ModuleNotFoundError: No module named 'map_reduce_server_spark'")
    assert run._reason(ValueError("bad")) == "ValueError('bad')"
