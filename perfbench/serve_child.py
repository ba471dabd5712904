"""Serving process for the ``serve_*`` workloads.

Builds an SPO store, serves it through ``endpoint.SparqlEndpoint`` and
prints one JSON line when ready.  The store holds the quads the bulk-load
pipeline emits for a ``corpus.generate_src`` corpus, as the independent
emitter ``tests/golden.py`` computes them (the ``bulkload`` workload checks
the pipeline against the same emitter), written by the pipeline's own
range-sorted SPO writer ``materialize.write_sorted``.  Running the whole
pipeline here would add a cold ``run_pipeline`` of about 15 s to every
run, which the benchmark's time budget cannot carry.

It then reads commands from standard input: ``count`` prints the store's
current row count, ``stop`` prints the traced figures (if any), stops the
endpoint and Spark, and exits.

Traced, it wraps the endpoint's calls into the planner, the result
serializer and the update path with timers, and gives every request its
own Spark job group (``read:<id>``, ``update:<n>``) so the event log splits
jobs per request.  A read's id comes from the ``bench_req`` request
parameter, which the endpoint passes to ``substitute_params``.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import sys
import threading
import time
import urllib.parse
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402

CONTENT_SCALE = 10
SETUP_REPEATS = 5
FIRST_QUERY = "SELECT (COUNT(*) AS ?n) WHERE { ?s <urn:p:lang> ?o }"


def instrument(spark) -> dict:
    """Wrap the endpoint's calls with timers and per-request job groups."""
    import halyard_spark.endpoint as ep_mod

    frame_class = type(spark.range(1))  # the concrete class updates return
    sc = spark.sparkContext
    local = threading.local()
    reads: dict[str, dict] = {}
    updates: list[dict] = []
    counter = itertools.count()
    orig_subst, orig_select, orig_pick = ep_mod.substitute_params, ep_mod.sparql_select, ep_mod.pick_format
    orig_update, orig_checkpoint = ep_mod.sparql_update, frame_class.localCheckpoint

    def substitute_params(query, params):
        local.req = (params or {}).get("bench_req", [None])[0]
        if local.req is not None:
            sc.setJobGroup(f"read:{local.req}", "read")
        return orig_subst(query, params)

    def sparql_select(*args, **kwargs):
        t0 = time.perf_counter()
        df = orig_select(*args, **kwargs)
        local.plan_ms = (time.perf_counter() - t0) * 1000
        return df

    def pick_format(accept):
        mtype, serialize = orig_pick(accept)

        def timed(df):
            t0 = time.perf_counter()
            out = serialize(df)
            if getattr(local, "req", None) is not None:
                reads[local.req] = {"plan_ms": local.plan_ms, "exec_ms": (time.perf_counter() - t0) * 1000}
            return out

        return mtype, timed

    def sparql_update(triples, text, *args, **kwargs):
        local.update = next(counter)
        sc.setJobGroup(f"update:{local.update}", "update")
        local.update_t0 = time.perf_counter()
        return orig_update(triples, text, *args, **kwargs)

    def local_checkpoint(self, *args, **kwargs):
        out = orig_checkpoint(self, *args, **kwargs)
        t0 = getattr(local, "update_t0", None)
        if t0 is not None:
            local.update_t0 = None
            # the checkpoint's rows are counted after the loop, outside the request
            updates.append({"n": local.update, "apply_ms": (time.perf_counter() - t0) * 1000, "frame": out})
        return out

    ep_mod.substitute_params = substitute_params
    ep_mod.sparql_select = sparql_select
    ep_mod.pick_format = pick_format
    ep_mod.sparql_update = sparql_update
    frame_class.localCheckpoint = local_checkpoint
    return {"reads": reads, "updates": updates}


def build_store(spark, files: int, store: str) -> int:
    import pandas as pd

    from halyard_spark import corpus
    from halyard_spark.pipeline import materialize
    from tests.golden import golden_triples

    src = corpus.generate_src(spark, files, content_scale=CONTENT_SCALE).toPandas()
    quads = sorted(golden_triples(src), key=lambda q: tuple(x or "" for x in q))
    df = spark.createDataFrame(pd.DataFrame(quads, columns=["subj", "pred", "obj", "ctx"]),
                               "subj string, pred string, obj string, ctx string")
    materialize.write_sorted(df, f"{store}/spo", materialize.INDEXES["spo"])
    return len(quads)


def first_answer(port: int) -> None:
    url = f"http://127.0.0.1:{port}/sparql?query=" + urllib.parse.quote(FIRST_QUERY)
    with urllib.request.urlopen(url, timeout=120) as resp:
        json.load(resp)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--work", required=True)
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--files", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()

    from halyard_spark.endpoint import SparqlEndpoint
    from halyard_spark.pipeline import materialize

    work = common.WorkDir.attach(args.work)
    spark = common.start_spark(work, args.cpus, bool(args.trace), "perfbench-serve")
    try:
        t0 = time.perf_counter()
        store = work.sub("store")
        build_store(spark, args.files, store)
        build_s = common.wall_s(t0)

        traced = instrument(spark) if args.trace else None
        setup_walls, ep = [], None
        for k in range(SETUP_REPEATS):  # open the store and answer a first query
            if ep is not None:
                ep.stop()
            t0 = time.perf_counter()
            ep = SparqlEndpoint(materialize.read_index(spark, store, "spo")).start()
            first_answer(ep.port)
            setup_walls.append(common.wall_s(t0))
        print(json.dumps({
            "port": ep.port, "store": store, "build_s": build_s, "setup_walls_s": setup_walls,
            "java": common.java_version(spark),
        }), flush=True)

        for line in sys.stdin:
            cmd = line.strip()
            if cmd == "count":
                print(json.dumps({"count": ep.triples.count()}), flush=True)
            elif cmd == "stop":
                break
        ep.stop()
        if traced:
            spark.sparkContext.setJobGroup("bench.stop", "count")
            for u in traced["updates"]:
                u["rows"] = u.pop("frame").count()
        print(json.dumps({"traced": traced}), flush=True)
    finally:
        common.stop_spark(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())
