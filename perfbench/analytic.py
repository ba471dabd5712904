"""``analytic``: the twelve headline queries of ``__spark_entry__``.

A pass runs the queries one after another in one Spark session over
seeded tables half the size of scale factor 0.1 (``perfbench/tables.py``);
each query is an operation, timed around ``DataFrame.toArrow()``: every
output column of every row is computed and handed to the client, which
``count()`` would not do (Catalyst prunes unused columns).  A warm-up over
tables a hundredth of scale factor 0.1 runs first, so the timed pass
measures compiled, warm code rather than JVM warm-up.  Each Arrow result
is then checked, outside the timed region, against the query's DuckDB
oracle with the order-insensitive normalisation of
``tests/test_oracle_parity.py``.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor

from perfbench import common, eventlog, tables

# query -> the package module that does its work (its span prefix)
MODULE = {
    "q1_pricing_summary": "query.algebra",
    "bgp_join_region": "query.algebra",
    "order_limit_topk": "query.algebra",
    "kg_triples": "nt",
    "kg_bgp": "query.pattern",
    "path_closure": "query.path",
    "cc_components": "pipeline.cc",
    "dedup_minhash": "ops.dedup",
    "simsearch_topk": "ops.simsearch",
    "text_quality": "ops.text",
    "events_window_agg": "spark",  # plain DataFrame code: a control
    "window_topk_group": "spark",  # plain DataFrame code: a control
}
ITERATIVE = ("path_closure", "cc_components", "dedup_minhash")
SETUP_REPEATS = 5
SCALE = 0.5  # of scale factor 0.1
WARMUP_SCALE = 0.01  # the warm-up pass runs on tables a hundredth of scale factor 0.1
WARMUP_QUERIES = ("q1_pricing_summary", "bgp_join_region", "dedup_minhash", "simsearch_topk")
# the figures of each query span the details line reports
SPAN_METRICS = ("wall_s", "driver_s", "jobs", "task_cpu_s", "shuffle_write_mb")


def headline() -> list[str]:
    from bench_extra import HEADLINE

    if set(HEADLINE) != set(MODULE):
        raise common.BenchError(f"headline list changed: {sorted(set(HEADLINE) ^ set(MODULE))}")
    return list(HEADLINE)


def span_name(query: str) -> str:
    return f"{MODULE[query]}.{query}"


def canonical(table):
    """Order-insensitive form of an Arrow result: columns in name order, each
    value as ``_norm`` of ``tests/test_oracle_parity.py`` leaves it, rows
    sorted.  Two results are equal as multisets exactly when their forms
    are equal.  Integer and string columns skip ``_norm``, which returns
    them unchanged; other values become the ``repr`` of their normal form."""
    import pyarrow as pa
    import pyarrow.types as pt

    from tests.test_oracle_parity import _norm

    names = sorted(table.column_names)
    cols = []
    for name in names:
        col = table.column(name)
        if pt.is_integer(col.type):
            cols.append(col.cast(pa.int64()))
        elif pt.is_string(col.type) or pt.is_large_string(col.type):
            cols.append(col.cast(pa.string()))
        else:
            cols.append(pa.array([repr(_norm(v)) for v in col.to_pylist()], pa.string()))
    form = pa.table(cols, names=names)
    return form.sort_by([(n, "ascending") for n in names]) if names else form


def oracle_answers(data: str, names: list[str], tmp: str) -> dict:
    import duckdb

    import __spark_entry__ as entry
    from tests.test_oracle_parity import TABLES

    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    sql = entry.oracle_sql()
    out = {name: canonical(con.execute(sql[name]).arrow()) for name in names}
    con.close()
    return out


def run(spark, work: common.WorkDir, seed: int, seconds: float, trace: bool) -> dict:
    import __spark_entry__ as entry

    tr = common.Tracer(spark.sparkContext if trace else None)
    names = headline()
    queries = entry.queries()
    data, small = work.sub("tables"), work.sub("tables_warmup")
    setup_walls = []
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        tables.write(data, seed, scale=SCALE)
        setup_walls.append(common.wall_s(t0))
    tables.write(small, seed, scale=WARMUP_SCALE)

    # the oracle answers are computed while the warm-up pass runs
    with ThreadPoolExecutor(max_workers=1) as pool:
        oracle = pool.submit(oracle_answers, data, names, work.sub("tmp"))
        warmup_s = {}
        with tr.span("bench.warmup"):
            for name in WARMUP_QUERIES:
                t0 = time.perf_counter()
                queries[name](spark, small).toArrow()
                warmup_s[name] = common.wall_s(t0)
        expected = oracle.result()

    # One timed pass: a second one would cost as much again, and its
    # queries would run on data the first left in the OS cache.
    ops: list[tuple[str, float]] = []
    failed = 0
    wrong: list[str] = []
    for name in names:
        try:
            with tr.span(span_name(name)):
                t0 = time.perf_counter()
                result = queries[name](spark, data).toArrow()
                ops.append((name, common.wall_s(t0) * 1000))
            ok = canonical(result).equals(expected[name])
        except Exception as exc:  # a failed query counts; the pass goes on
            ok = False
            wrong.append(f"{name}: {exc!r}"[:300])
        if not ok:
            failed += 1
            wrong.append(name)
    walls = dict(ops)
    passes = [{"wall_s": sum(walls.values()) / 1000, "ops": ops}] if len(ops) == len(names) else []

    result = {
        "attempted": len(names),
        "failed": failed,
        "setup_walls_s": setup_walls,
        "passes": passes,
        "info": {"query_ms": walls, "wrong": wrong, "warmup_s": warmup_s,
                 "iterative_s": sum(v for q, v in walls.items() if q in ITERATIVE) / 1000,
                 "relational_s": sum(v for q, v in walls.items() if q not in ITERATIVE) / 1000},
    }
    if trace and passes:
        result["layers"], result["detail"] = layers(work, tr, names)
    return result


def layers(work: common.WorkDir, tr: common.Tracer, names: list[str]) -> tuple[dict, dict]:
    """The per-layer figures of the traced pass over the query spans, and
    each query span's own figures."""
    agg = eventlog.aggregate(eventlog.read_events(common.event_log_file(work)), tr.spans)
    spans = [span_name(q) for q in names]
    detail = {
        "spans": {s: {k: agg["spans"][s][k] for k in SPAN_METRICS} for s in spans},
        "unattributed": agg["unattributed"],
        "total": agg["total"],
    }
    return eventlog.layer_figures(agg, spans, passes=1), detail
