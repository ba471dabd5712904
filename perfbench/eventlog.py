"""Aggregate a Spark event log into per-span figures.

A span (see ``common.Tracer``) names a Spark job group.  Each job is
attributed to the span whose name equals its job group.  A job with no
matching group (a thread pool inside the program drops the caller's group)
is attributed by time instead, to the innermost span open when the job was
submitted; that is sound because the traced runs open their spans one
after another on one thread.  Every job left over is listed as
unattributed, never dropped.

Per span name (all entries of that name added up):

- ``wall_s``: the spans' duration;
- ``self_s``: duration minus the part covered by child spans;
- ``driver_s``: self time not covered by any of the span's own jobs, which
  is plan building and driver-side Python;
- ``jobs``, ``tasks``, ``task_run_s`` (executor run time), ``task_cpu_s``,
  ``gc_s``, ``shuffle_write_mb``, ``shuffle_read_mb``, ``spill_mb`` (bytes
  spilled to disk), ``input_mb`` and ``records_read`` (bytes and rows read
  from input sources and cached blocks), summed over the span's jobs.

``layer_figures`` turns an aggregate into the benchmark's per-layer
metrics, which every workload reports under the same names.
"""

from __future__ import annotations

import json
from collections.abc import Iterable, Iterator

MB = 1024.0 * 1024.0
_WANTED = ("SparkListenerJobStart", "SparkListenerJobEnd", "SparkListenerTaskEnd")


def read_events(path: str) -> Iterator[dict]:
    with open(path) as f:
        for line in f:
            head = line[:48]
            if any(w in head for w in _WANTED):
                yield json.loads(line)


def _merge(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[tuple[float, float]] = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], e))
        else:
            out.append((s, e))
    return out


def _subtract(base: list[tuple[float, float]], cut: list[tuple[float, float]]) -> list[tuple[float, float]]:
    """Parts of the (merged) base intervals not covered by any cut interval."""
    cut = _merge(cut)
    out = []
    for s, e in base:
        cur = s
        for cs, ce in cut:
            if ce <= cur or cs >= e:
                continue
            if cs > cur:
                out.append((cur, cs))
            cur = max(cur, ce)
        if cur < e:
            out.append((cur, e))
    return out


def _measure(intervals: list[tuple[float, float]]) -> float:
    return sum(e - s for s, e in _merge(intervals))


def _zero() -> dict:
    return {"tasks": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0, "shuffle_write_b": 0, "shuffle_read_b": 0,
            "spill_b": 0, "input_b": 0, "records_read": 0}


def _add_task(acc: dict, metrics: dict) -> None:
    shuffle_read = metrics.get("Shuffle Read Metrics") or {}
    source = metrics.get("Input Metrics") or {}
    acc["tasks"] += 1
    acc["run_ms"] += metrics.get("Executor Run Time", 0)
    acc["cpu_ns"] += metrics.get("Executor CPU Time", 0)
    acc["gc_ms"] += metrics.get("JVM GC Time", 0)
    acc["shuffle_write_b"] += (metrics.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    acc["shuffle_read_b"] += shuffle_read.get("Remote Bytes Read", 0) + shuffle_read.get("Local Bytes Read", 0)
    acc["spill_b"] += metrics.get("Disk Bytes Spilled", 0)
    acc["input_b"] += source.get("Bytes Read", 0)
    acc["records_read"] += source.get("Records Read", 0)


def _figures(acc: dict) -> dict:
    return {
        "tasks": acc["tasks"],
        "task_run_s": acc["run_ms"] / 1e3,
        "task_cpu_s": acc["cpu_ns"] / 1e9,
        "gc_s": acc["gc_ms"] / 1e3,
        "shuffle_write_mb": acc["shuffle_write_b"] / MB,
        "shuffle_read_mb": acc["shuffle_read_b"] / MB,
        "spill_mb": acc["spill_b"] / MB,
        "input_mb": acc["input_b"] / MB,
        "records_read": acc["records_read"],
    }


def _collect_jobs(events: Iterable[dict]) -> tuple[dict[int, dict], dict]:
    """Jobs by id, each with its group, interval and summed task metrics,
    plus the metrics of tasks whose stage no job listed."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    orphan = _zero()  # tasks of stages no job listed
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jid = e["Job ID"]
            jobs[jid] = {
                "group": props.get("spark.jobGroup.id"),
                "description": props.get("spark.job.description"),
                "start": float(e["Submission Time"]),
                "end": None,
                "acc": _zero(),
            }
            for sid in e.get("Stage IDs", ()):
                stage_job[sid] = jid  # the latest job to list a stage runs it
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = float(e["Completion Time"])
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(e["Stage ID"])
            _add_task(jobs[jid]["acc"] if jid is not None else orphan, e.get("Task Metrics") or {})

    for job in jobs.values():
        if job["end"] is None:
            job["end"] = job["start"]
    return jobs, orphan


def aggregate(events: Iterable[dict], spans: list[dict]) -> dict:
    """``spans``: dicts with ``name``, ``start``, ``end`` (epoch ms, the
    event log's clock) and ``parent`` (index into ``spans`` or None)."""
    jobs, orphan = _collect_jobs(events)
    names = {s["name"] for s in spans}
    children: dict[int, list[int]] = {}
    for i, s in enumerate(spans):
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(i)

    def innermost_open(t: float) -> str | None:
        best = None
        for s in spans:
            if s["start"] <= t <= s["end"] and (best is None or s["start"] >= best["start"]):
                best = s
        return best["name"] if best else None

    by_span: dict[str, list[dict]] = {n: [] for n in names}
    unattributed = []
    by_time = 0
    for jid, job in sorted(jobs.items()):
        name = job["group"] if job["group"] in names else None
        if name is None:
            name = innermost_open(job["start"])
            by_time += name is not None
        if name is None:
            unattributed.append({
                "job": jid,
                "group": job["group"],
                "description": job["description"],
                "task_cpu_s": job["acc"]["cpu_ns"] / 1e9,
            })
        else:
            by_span[name].append(job)

    out: dict[str, dict] = {}
    for name in sorted(names):
        entries = [i for i, s in enumerate(spans) if s["name"] == name]
        own = [(s["start"], s["end"]) for s in (spans[i] for i in entries)]
        self_iv: list[tuple[float, float]] = []
        for i in entries:
            kids = [(spans[k]["start"], spans[k]["end"]) for k in children.get(i, ())]
            self_iv += _subtract([(spans[i]["start"], spans[i]["end"])], kids)
        job_iv = [(j["start"], j["end"]) for j in by_span[name]]
        acc = _zero()
        for j in by_span[name]:
            for k in acc:
                acc[k] += j["acc"][k]
        out[name] = {
            "wall_s": sum(e - s for s, e in own) / 1e3,
            "self_s": _measure(self_iv) / 1e3,
            "driver_s": _measure(_subtract(_merge(self_iv), job_iv)) / 1e3,
            "jobs": len(by_span[name]),
            **_figures(acc),
        }

    total = _zero()
    for j in jobs.values():
        for k in total:
            total[k] += j["acc"][k]
    for k in total:
        total[k] += orphan[k]
    return {
        "spans": out,
        "total": {"jobs": len(jobs), **_figures(total)},
        "orphan_tasks": orphan["tasks"],
        "attributed_by_time": by_time,
        "unattributed": unattributed,
    }


# The per-layer metrics every workload reports: (name, unit, figure of the
# work spans summed, or None for the ones computed below).  Each is per pass.
LAYERS = (
    ("driver.plan_s", "s", "driver_s"),
    ("spark.job_wall_s", "s", None),
    ("spark.jobs", "count", "jobs"),
    ("spark.tasks", "count", "tasks"),
    ("executor.run_s", "s", "task_run_s"),
    ("executor.cpu_s", "s", "task_cpu_s"),
    ("executor.gc_s", "s", "gc_s"),
    ("shuffle.write_mb", "MB", "shuffle_write_mb"),
    ("shuffle.read_mb", "MB", "shuffle_read_mb"),
    ("io.input_mb", "MB", "input_mb"),
    ("io.rows_read", "count", "records_read"),
    ("attribution.cpu_share", "ratio", None),
    ("attribution.unattributed_jobs", "count", None),
)


def layer_figures(agg: dict, work: Iterable[str], passes: int) -> dict[str, tuple[float, str]]:
    """The per-layer metrics of the spans named in ``work`` (the timed
    work, leaving out the benchmark's own set-up and warm-up), per pass.
    ``attribution.cpu_share`` is their task CPU over all task CPU outside
    the other spans: 1.0 when no job of the work escaped its spans."""
    work = set(work)
    figs = [f for name, f in agg["spans"].items() if name in work]
    summed = {k: sum(f[k] for f in figs) for k in figs[0]} if figs else {}
    other_cpu = sum(f["task_cpu_s"] for name, f in agg["spans"].items() if name not in work)
    work_cpu = summed.get("task_cpu_s", 0.0)
    outside = agg["total"]["task_cpu_s"] - other_cpu
    out = {}
    for name, unit, key in LAYERS:
        if key is not None:
            out[name] = (summed.get(key, 0) / passes, unit)
    out["spark.job_wall_s"] = ((summed.get("self_s", 0.0) - summed.get("driver_s", 0.0)) / passes, "s")
    out["attribution.cpu_share"] = (work_cpu / outside if outside else 0.0, "ratio")
    out["attribution.unattributed_jobs"] = (len(agg["unattributed"]), "count")
    return out
