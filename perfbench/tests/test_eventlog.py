"""The event-log parser, on a tiny log a real session wrote (trimmed to
the events and fields the parser reads)."""

import json
import os

import layers

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog_small.jsonl")


def test_parses_jobs_groups_and_task_metrics():
    jobs = layers.parse_event_log(FIXTURE)
    assert sorted(jobs) == [0, 1, 2, 3]
    assert [jobs[j].group for j in sorted(jobs)] == ["pb-0", "pb-0", "pb-1", None]
    assert all(j.end_s >= j.submit_s > 1e9 for j in jobs.values())
    # the groupBy ran as a map-stage job (0) and a result job (1) whose
    # listed map stage was skipped
    assert jobs[0].shuffle_bytes > 0 and jobs[1].shuffle_bytes == 0
    assert jobs[2].written_bytes > 0 and jobs[2].shuffle_bytes == 0  # the parquet write
    assert all(j.exec_cpu_s > 0 for j in jobs.values())


def test_fixture_attributes_to_spans_and_leaves_ungrouped_jobs_out():
    jobs = layers.parse_event_log(FIXTURE)
    t0 = min(j.submit_s for j in jobs.values())
    spans = [
        layers.Span(0, "outer", None, 0, t0 - 1, jobs[2].end_s + 0.01),
        layers.Span(1, "inner", 0, 0, jobs[2].submit_s - 0.01, jobs[2].end_s + 0.005),
    ]
    assert layers.attribute(spans, jobs) == [3]
    assert spans[0].jobs == [0, 1] and spans[1].jobs == [2]


def test_skipped_stage_counts_once_for_the_job_that_ran_it(tmp_path):
    task = {"Executor CPU Time": 2_000_000_000, "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
            "Output Metrics": {"Bytes Written": 0}}
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0, 1], "Properties": {}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": task},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": task},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2000},
        # job 1 reuses stage 0's shuffle output: stage 0 is listed, skipped
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 3000, "Stage IDs": [0, 2], "Properties": {}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 2}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": task},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 4000},
    ]
    path = tmp_path / "log"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    jobs = layers.parse_event_log(str(path))
    assert (jobs[0].exec_cpu_s, jobs[0].shuffle_bytes) == (4.0, 200)
    assert (jobs[1].exec_cpu_s, jobs[1].shuffle_bytes) == (2.0, 100)
    assert (jobs[1].submit_s, jobs[1].end_s) == (3.0, 4.0)
