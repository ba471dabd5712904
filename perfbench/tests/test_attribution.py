"""The traced bulk load's attribution check on hand-written event logs.

Run from the checkout root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json

import pytest

from perfbench import bulkload, common
from perfbench.tests.test_eventlog import job_end, job_start, task


def check(tmp_path, stages, extra_events=()):
    """bulkload.layers over one 1 s span per stage, each running one job
    of 1 s of task CPU in its own group, plus ``extra_events``."""
    tr = common.Tracer()
    events = []
    for k, name in enumerate(stages):
        t = 1000.0 * (k + 1)
        tr.spans.append({"name": name, "start": t, "end": t + 900.0, "parent": None})
        events += [job_start(k, t + 100, [k], name), task(k, 1.0), job_end(k, t + 800)]
    (tmp_path / "eventlog").mkdir()
    (tmp_path / "eventlog" / "app-1").write_text(
        "".join(json.dumps(e) + "\n" for e in events + list(extra_events)))
    out, detail = bulkload.layers(common.WorkDir.attach(str(tmp_path)), tr)
    return out, detail["problems"], detail["spans"]


def test_every_job_in_a_stage_span_passes(tmp_path):
    out, problems, spans = check(tmp_path, bulkload.STAGES)
    assert problems == []
    assert out["attribution.cpu_share"][0] == pytest.approx(1.0)
    assert out["attribution.unattributed_jobs"][0] == 0
    assert out["executor.cpu_s"][0] == pytest.approx(len(bulkload.STAGES))
    assert spans["pipeline.cc"]["task_cpu_s"] == pytest.approx(1.0)


def test_a_job_outside_every_span_fails(tmp_path):
    late = [job_start(99, 60000, [99], "elsewhere"), task(99, 0.5), job_end(99, 60100)]
    out, problems, _ = check(tmp_path, bulkload.STAGES, late)
    n = len(bulkload.STAGES)
    assert out["attribution.unattributed_jobs"][0] == 1
    assert out["attribution.cpu_share"][0] == pytest.approx(n / (n + 0.5))
    assert len(problems) == 2  # the job, and the task CPU it takes from the stages


def test_a_missing_stage_span_fails(tmp_path):
    _, problems, spans = check(tmp_path, [s for s in bulkload.STAGES if s != "pipeline.cc"])
    assert problems == ["no span pipeline.cc"]
    assert "pipeline.cc" not in spans
