"""The event-log aggregator on a small hand-written log.

Run from the checkout root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json

import pytest

from perfbench import eventlog

MB = 1024 * 1024


def job_start(jid, t, stages, group=None):
    props = {"spark.job.description": f"job {jid}"}
    if group is not None:
        props["spark.jobGroup.id"] = group
    return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t,
            "Stage IDs": stages, "Properties": props}


def job_end(jid, t):
    return {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": t,
            "Job Result": {"Result": "JobSucceeded"}}


def task(stage, cpu_s, gc_ms=0, shuffle_mb=0.0, spill_mb=0.0, records=0, input_mb=0.0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": {
        "Executor Run Time": int(cpu_s * 1000) + gc_ms,
        "Executor CPU Time": int(cpu_s * 1e9),
        "JVM GC Time": gc_ms,
        "Disk Bytes Spilled": int(spill_mb * MB),
        "Shuffle Write Metrics": {"Shuffle Bytes Written": int(shuffle_mb * MB)},
        "Shuffle Read Metrics": {"Remote Bytes Read": int(shuffle_mb * MB), "Local Bytes Read": 0},
        "Input Metrics": {"Records Read": records, "Bytes Read": int(input_mb * MB)},
    }}


# Span A covers 1000-5000 ms with child span B at 2000-3000 ms, and is
# entered again at 6000-7000 ms.
SPANS = [
    {"name": "A", "start": 1000.0, "end": 5000.0, "parent": None},
    {"name": "B", "start": 2000.0, "end": 3000.0, "parent": 0},
    {"name": "A", "start": 6000.0, "end": 7000.0, "parent": None},
]

EVENTS = [
    # job 0, group A, 1200-1800: two tasks
    job_start(0, 1200, [0], "A"),
    task(0, 1.0, gc_ms=10, shuffle_mb=1.0, spill_mb=2.0, records=100, input_mb=3.0),
    task(0, 1.0, gc_ms=10, shuffle_mb=1.0, records=50),
    job_end(0, 1800),
    # job 1, group B, 2100-2900; it lists stage 0 again (skipped) and runs stage 1
    job_start(1, 2100, [0, 1], "B"),
    task(1, 0.5),
    job_end(1, 2900),
    # job 2: no group, submitted inside A's second entry (6100-6500)
    job_start(2, 6100, [2]),
    task(2, 0.25),
    job_end(2, 6500),
    # job 3: a group no span has, outside every span
    job_start(3, 8000, [3], "elsewhere"),
    task(3, 2.0),
    job_end(3, 8100),
]


def test_self_time_and_driver_time():
    agg = eventlog.aggregate(EVENTS, SPANS)
    a, b = agg["spans"]["A"], agg["spans"]["B"]
    assert a["wall_s"] == pytest.approx(5.0)
    assert a["self_s"] == pytest.approx(4.0)  # minus child B's second
    # self time minus job 0's 0.6 s and job 2's 0.4 s
    assert a["driver_s"] == pytest.approx(3.0)
    assert a["jobs"] == 2 and a["tasks"] == 3
    assert a["task_cpu_s"] == pytest.approx(2.25)
    assert a["gc_s"] == pytest.approx(0.02)
    assert a["shuffle_write_mb"] == pytest.approx(2.0)
    assert a["spill_mb"] == pytest.approx(2.0)
    assert a["records_read"] == 150
    assert a["input_mb"] == pytest.approx(3.0)
    assert a["shuffle_read_mb"] == pytest.approx(2.0)
    assert a["task_run_s"] == pytest.approx(2.27)
    assert b["wall_s"] == pytest.approx(1.0)
    assert b["self_s"] == pytest.approx(1.0)
    assert b["driver_s"] == pytest.approx(0.2)
    assert b["jobs"] == 1
    assert b["task_cpu_s"] == pytest.approx(0.5)  # a re-listed stage belongs to the job that ran it


def test_job_without_a_span_group_goes_to_the_span_open_at_submission():
    agg = eventlog.aggregate(EVENTS, SPANS)
    assert agg["attributed_by_time"] == 1  # job 2, inside A's second entry


def test_jobs_outside_every_span_are_listed():
    agg = eventlog.aggregate(EVENTS, SPANS)
    assert [u["job"] for u in agg["unattributed"]] == [3]
    assert agg["unattributed"][0]["group"] == "elsewhere"
    assert agg["unattributed"][0]["task_cpu_s"] == pytest.approx(2.0)
    assert agg["total"]["jobs"] == 4
    assert agg["total"]["task_cpu_s"] == pytest.approx(4.75)
    spans_cpu = sum(s["task_cpu_s"] for s in agg["spans"].values())
    listed_cpu = sum(u["task_cpu_s"] for u in agg["unattributed"])
    assert spans_cpu + listed_cpu == pytest.approx(agg["total"]["task_cpu_s"])


def test_innermost_open_span_wins():
    events = [job_start(0, 2500, [0]), task(0, 1.0), job_end(0, 2600)]
    agg = eventlog.aggregate(events, SPANS)
    assert agg["spans"]["B"]["jobs"] == 1
    assert agg["spans"]["A"]["jobs"] == 0


def test_read_events_skips_other_events(tmp_path):
    path = tmp_path / "app-1"
    noise = [{"Event": "SparkListenerTaskStart", "Stage ID": 0},
             {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0}}]
    path.write_text("".join(json.dumps(e) + "\n" for e in noise + EVENTS))
    events = list(eventlog.read_events(str(path)))
    assert len(events) == len(EVENTS)
    assert eventlog.aggregate(events, SPANS)["total"]["jobs"] == 4


def test_layer_figures_cover_the_work_spans_per_pass():
    agg = eventlog.aggregate(EVENTS, SPANS)
    out = eventlog.layer_figures(agg, ["A"], passes=2)
    assert {name for name, _, _ in eventlog.LAYERS} == set(out)
    assert out["driver.plan_s"] == (pytest.approx(1.5), "s")
    assert out["spark.job_wall_s"] == (pytest.approx(0.5), "s")  # A's 4 s self time minus 3 s, halved
    assert out["spark.jobs"] == (1.0, "count")
    assert out["executor.cpu_s"] == (pytest.approx(1.125), "s")
    assert out["io.rows_read"] == (75.0, "count")
    # A's 2.25 s of task CPU over all 4.75 s but B's 0.5 s; job 3 escaped every span
    assert out["attribution.cpu_share"] == (pytest.approx(2.25 / 4.25), "ratio")
    assert out["attribution.unattributed_jobs"] == (1, "count")


def test_layer_figures_of_fully_attributed_work():
    agg = eventlog.aggregate(EVENTS[:-3], SPANS)  # without job 3
    out = eventlog.layer_figures(agg, ["A", "B"], passes=1)
    assert out["attribution.cpu_share"][0] == pytest.approx(1.0)
    assert out["attribution.unattributed_jobs"][0] == 0
