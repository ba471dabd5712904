"""``serve_read`` and ``serve_mixed``: SPARQL over HTTP against the endpoint.

A child process (``serve_child.py``) builds an SPO store and serves it
through ``endpoint.SparqlEndpoint``.  This process is the load generator: a
closed-loop caller that sends its next request only after the previous
reply, like a SPARQL protocol caller.  A pass is one cycle of a fixed
schedule: reads in six SELECT shapes with seeded parameters, and in
``serve_mixed`` an INSERT DATA and a matching DELETE DATA of quads in a
benchmark-only graph.  Every read's row count is checked against an
answer computed with pyarrow/pandas over the store's SPO parquet, and the
final store size against the initial size plus inserts minus deletes.
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys
import time
import urllib.parse
import urllib.request

from perfbench import common, eventlog

NEEDS_SPARK = False
STORE_FILES = 250
UPDATE_TRIPLES = 4
WARMUP_CYCLES = 1  # a fresh JVM serves its first cycle about twice as slow; not timed
MIN_CYCLES = 3  # a run times at least this many cycles, whatever --seconds says
BENCH_GRAPH = "<urn:bench:graph>"
P = {name: f"<urn:p:{name}>" for name in ("imports", "definesClass", "atPath", "lang", "inRepo")}


class Reference:
    """Expected answers from the store's SPO parquet, computed in pandas."""

    def __init__(self, store: str):
        import pyarrow.parquet as pq

        q = pq.read_table(f"{store}/spo", columns=["subj", "pred", "obj", "ctx"]).to_pandas()
        self.rows = len(q)
        self.files = sorted(q.loc[q.pred == P["atPath"], "subj"].unique())
        self.modules = sorted(q.loc[q.pred == P["imports"], "obj"].unique())
        self.graphs = sorted(q.loc[q.pred == P["inRepo"], "ctx"].dropna().unique())
        self.by_subj = q.groupby("subj").size()
        self.by_ctx = q.groupby("ctx").size()
        self.imports = q[q.pred == P["imports"]]
        classes = q[q.pred == P["definesClass"]]
        self.classes_per_file = classes.groupby("subj").size()
        self.lang = q[q.pred == P["lang"]].groupby("subj").size()
        self.paths = q[q.pred == P["atPath"]].groupby("subj").size()

    def pick(self, rng: random.Random) -> dict:
        return {"f": rng.choice(self.files), "f2": rng.choice(self.files),
                "m": rng.choice(self.modules), "g": rng.choice(self.graphs)}

    def expected(self, shape: str, a: dict) -> tuple[int, int | None]:
        """(row count, value of the count column or None) a read must return."""
        if shape == "subject":
            return int(self.by_subj.get(a["f"], 0)), None
        if shape == "pred_obj":
            return int((self.imports.obj == a["m"]).sum()), None
        if shape == "join":
            importers = self.imports.loc[self.imports.obj == a["m"], "subj"]
            return int(self.classes_per_file.reindex(importers).fillna(0).sum()), None
        if shape == "graph_count":
            return 1, int(self.by_ctx.get(a["g"], 0))
        if shape == "optional":
            return int(self.paths.get(a["f"], 0)) * max(1, int(self.classes_per_file.get(a["f"], 0))), None
        if shape == "values_undef":
            return int(self.lang.get(a["f"], 0)) + int(self.by_subj.get(a["f2"], 0)), None
        raise ValueError(shape)


QUERIES = {
    "subject": "SELECT ?p ?o WHERE {{ {f} ?p ?o }}",
    "pred_obj": "SELECT ?s WHERE {{ ?s <urn:p:imports> {m} }}",
    "join": "SELECT ?f ?c WHERE {{ ?f <urn:p:imports> {m} . ?f <urn:p:definesClass> ?c }}",
    "graph_count": "SELECT (COUNT(*) AS ?n) WHERE {{ GRAPH {g} {{ ?s ?p ?o }} }}",
    "optional": "SELECT ?path ?c WHERE {{ {f} <urn:p:atPath> ?path OPTIONAL {{ {f} <urn:p:definesClass> ?c }} }}",
    "values_undef": (
        "SELECT ?s ?p ?o WHERE {{ VALUES (?s ?p) {{ ({f} <urn:p:lang>) ({f2} UNDEF) }} ?s ?p ?o }}"
    ),
}
# One pass: each of the six shapes three times, in this order.  No traffic
# was observed to weight them by, so each has an equal share; a fixed
# schedule makes every run time the same mix, and the seed picks only each
# read's parameters.  serve_mixed makes every tenth request an update: an
# INSERT DATA after the first nine reads and the DELETE DATA of the same
# quads after the last nine, so every pass leaves the store as it found it.
SHAPES = tuple(QUERIES)
READS = SHAPES * 3


def schedule(mixed: bool) -> list[str]:
    half = len(READS) // 2
    if not mixed:
        return list(READS)
    return list(READS[:half]) + ["INSERT"] + list(READS[half:]) + ["DELETE"]


class Loop:
    """The closed-loop load generator.  Every request is recorded with its
    epoch-millisecond interval, the event log's clock, and the Spark job
    group the serving process gives it."""

    def __init__(self, port: int, ref: Reference, seed: int, mixed: bool):
        self.base = f"http://127.0.0.1:{port}/sparql"
        self.ref = ref
        self.rng = random.Random(seed)
        self.plan = schedule(mixed)
        self.records: list[dict] = []
        self.updates = 0

    def read(self, shape: str, args: dict, req: str) -> dict:
        query = QUERIES[shape].format(**args)
        url = f"{self.base}?" + urllib.parse.urlencode({"query": query, "bench_req": req})
        with urllib.request.urlopen(url, timeout=120) as resp:
            body = json.load(resp)
        bindings = body["results"]["bindings"]
        value = int(bindings[0]["n"]["value"]) if shape == "graph_count" and bindings else None
        return {"kind": shape, "group": f"read:{req}", "args": args, "rows": len(bindings), "value": value}

    def update(self, op: str, quads: list[str]) -> dict:
        """INSERT DATA or DELETE DATA of ``quads`` in the benchmark's graph."""
        text = f"{op} DATA {{ GRAPH {BENCH_GRAPH} {{ {' '.join(quads)} }} }}"
        req = urllib.request.Request(self.base, data=text.encode(), method="POST",
                                     headers={"Content-Type": "application/sparql-update"})
        with urllib.request.urlopen(req, timeout=120) as resp:
            status = resp.status
        # the serving process numbers updates in the order it receives them
        self.updates += 1
        delta = len(quads) if op == "INSERT" else -len(quads)
        return {"kind": "update", "group": f"update:{self.updates - 1}", "status": status, "delta": delta}

    def cycle(self, n: int, timed: bool) -> dict:
        """One pass of the schedule; a failed request counts and the pass
        goes on."""
        quads = [f'<urn:bench:c{n}:t{j}> <urn:bench:p> "v{j}" .' for j in range(UPDATE_TRIPLES)]
        t_cycle = time.perf_counter()
        for i, op in enumerate(self.plan):
            start = time.time() * 1000
            t0 = time.perf_counter()
            try:
                if op in QUERIES:
                    rec = self.read(op, self.ref.pick(self.rng), f"{n}-{i}")
                else:
                    rec = self.update(op, quads)
            except Exception as exc:
                rec = {"kind": "error", "group": None, "error": repr(exc)[:300]}
            rec.update(ms=(time.perf_counter() - t0) * 1000, start=start, end=time.time() * 1000, timed=timed)
            self.records.append(rec)
        return {"wall_s": common.wall_s(t_cycle),
                "ops": [(r["kind"], r["ms"]) for r in self.records[-len(self.plan):]]}

    def measure(self, seconds: float) -> list[dict]:
        """Untimed warm-up cycles, then timed cycles until ``seconds`` and
        MIN_CYCLES are reached.  Warm-up requests are checked like the
        rest."""
        self.warmup_walls_s = [self.cycle(n, timed=False)["wall_s"] for n in range(WARMUP_CYCLES)]
        passes: list[dict] = []
        while len(passes) < MIN_CYCLES or sum(p["wall_s"] for p in passes) < seconds:
            passes.append(self.cycle(WARMUP_CYCLES + len(passes), timed=True))
        return passes


class Child:
    """The serving process and its command pipe."""

    def __init__(self, work: common.WorkDir, cpus: int, trace: bool):
        self.log = open(work.sub("serve_child.log"), "w")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "serve_child.py"),
             "--work", work.path, "--cpus", str(cpus), "--files", str(STORE_FILES), "--trace", str(int(trace))],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self.log, text=True, cwd=common.ROOT,
        )

    def line(self) -> dict:
        while True:
            text = self.proc.stdout.readline()
            if not text:
                raise common.BenchError(f"serving process ended (rc={self.proc.poll()}); see its log")
            if text.startswith("{"):
                return json.loads(text)

    def send(self, cmd: str) -> None:
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()

    def close(self) -> None:
        if self.proc.poll() is None:
            try:
                self.proc.stdin.close()  # the serving process stops on EOF
                self.proc.wait(timeout=90)
            except (OSError, subprocess.TimeoutExpired):
                self.proc.kill()
                self.proc.wait()
        self.log.close()
        common.wait_for_descendants()


def run(workload: str, work: common.WorkDir, cpus: int, seed: int, seconds: float, trace: bool) -> dict:
    mixed = workload == "serve_mixed"
    bench_spans = [{"name": "bench.setup", "start": time.time() * 1000}]
    child = Child(work, cpus, trace)
    try:
        ready = child.line()
        bench_spans[0]["end"] = time.time() * 1000
        ref = Reference(ready["store"])
        loop = Loop(ready["port"], ref, seed, mixed)
        passes = loop.measure(seconds)
        bench_spans.append({"name": "bench.stop", "start": time.time() * 1000})
        child.send("count")
        final_count = child.line()["count"]
        child.send("stop")
        traced = child.line()["traced"]
        bench_spans[-1]["end"] = time.time() * 1000
    finally:
        child.close()
    t = [s[k] / 1000 for s in bench_spans for k in ("start", "end")]
    phases = {"child_ready": t[1] - t[0], "loop": t[2] - t[1], "stop": t[3] - t[2], "close": time.time() - t[3]}

    recs = loop.records
    wrong = []
    for r in recs:
        if r["kind"] in QUERIES:
            want = ref.expected(r["kind"], r["args"])
            r["ok"] = (r["rows"], r["value"]) == want
            if not r["ok"]:
                wrong.append({"shape": r["kind"], "args": r["args"], "got": (r["rows"], r["value"]), "want": want})
        else:
            r["ok"] = r.get("status") == 204
    want_count = ref.rows + sum(r["delta"] for r in recs if r["kind"] == "update" and r["ok"])
    timed = [r for r in recs if r["timed"]]
    result = {
        "attempted": len(recs) + 1,  # every request, plus the final store-size check
        "failed": sum(not r["ok"] for r in recs) + (final_count != want_count),
        "setup_walls_s": ready["setup_walls_s"],
        "passes": passes,
        "info": {
            "java": ready["java"], "store_files": STORE_FILES, "store_rows": ref.rows, "build_s": ready["build_s"],
            "reads": common.latency_summary([r["ms"] for r in timed if r["kind"] in QUERIES]),
            "ops_per_s": len(timed) / sum(p["wall_s"] for p in passes), "warmup_walls_s": loop.warmup_walls_s,
            "p50_ms_by_kind": {k: common.median([r["ms"] for r in timed if r["kind"] == k])
                               for k in SHAPES + ("update",) if any(r["kind"] == k for r in timed)},
            "final_count": final_count, "want_count": want_count, "phases_s": phases,
            "wrong": wrong[:20], "errors": [r["error"] for r in recs if r["kind"] == "error"][:20],
        },
    }
    if trace:
        result["layers"], result["detail"] = layers(work, traced, recs, bench_spans, len(passes))
    return result


def layers(work: common.WorkDir, traced: dict, recs: list[dict], bench_spans: list[dict],
           passes: int) -> tuple[dict, dict]:
    """The per-layer figures of the timed requests, per pass, and the
    serving process's own timings: the planner, the result serializer and
    the HTTP rest of each read, and the update path."""
    spans = [{"name": r["group"], "start": r["start"], "end": r["end"], "parent": None} for r in recs if r["group"]]
    spans += [dict(s, parent=None) for s in bench_spans]
    agg = eventlog.aggregate(eventlog.read_events(common.event_log_file(work)), spans)
    timed = [r for r in recs if r["timed"] and r["group"]]
    out = eventlog.layer_figures(agg, [r["group"] for r in timed], passes)

    reads = {r["group"][5:]: r for r in timed if r["kind"] in QUERIES}
    pairs = [(reads[k], v) for k, v in traced["reads"].items() if k in reads]
    detail = {
        "plan_ms": common.median([s["plan_ms"] for _, s in pairs]),
        "exec_ms": common.median([s["exec_ms"] for _, s in pairs]),
        "http_ms": common.median([r["ms"] - s["plan_ms"] - s["exec_ms"] for r, s in pairs]),
        "unattributed": agg["unattributed"],
        "total": agg["total"],
    }
    ups = traced["updates"]
    if ups:
        update_groups = [f"update:{u['n']}" for u in ups]
        detail.update({
            "update_apply_ms": common.median([u["apply_ms"] for u in ups]),
            "update_rows_written_per_row_changed": common.median([u["rows"] for u in ups]) / UPDATE_TRIPLES,
            "update_shuffle_mb": sum(agg["spans"].get(g, {}).get("shuffle_write_mb", 0.0)
                                     for g in update_groups) / len(ups),
        })
    return out, detail
