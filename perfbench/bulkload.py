"""``bulkload``: the bulk-load pipeline over the synthetic source corpus.

A pass is two operations on a fresh output directory: a ``load``, which is
``pipeline.run.run_pipeline`` called as a user calls it, and a ``resume``,
the same call again on the finished output, which must find every stage
done from its lineage and skip it.  Traced, the load runs the same stage
functions one at a time, each under its own span: ``run_pipeline``
overlaps stages on driver threads, and a job group does not follow a job
onto another thread, so its stage walls cannot be split per layer.

Every load is checked against the independent reference emitter in
``tests/golden.py`` (precision and recall >= 0.95) and its POS and OSP
mirrors must hold exactly as many rows as SPO.
"""

from __future__ import annotations

import os
import shutil
import time

from perfbench import common, eventlog

BASE_FILES = 3000
CONTENT_SCALE = 10
SETUP_REPEATS = 5
MIN_PR = 0.95
MAX_UNATTRIBUTED = 0.01  # share of the load's task CPU the stage spans may miss

STAGES = (
    "pipeline.extract",
    "pipeline.link.dictionary",
    "pipeline.link",
    "pipeline.cc",
    "pipeline.triples",
    "pipeline.materialize",
    "pipeline.stats",
    "pipeline.lineage",
    "pipeline.resume",
)
# the figures of each stage span the details line reports
SPAN_METRICS = ("wall_s", "driver_s", "jobs", "tasks", "task_cpu_s", "gc_s", "shuffle_write_mb", "spill_mb")


def n_files(seed: int) -> int:
    """``generate_src`` has no seed of its own; the seed picks the corpus
    size within 2% of the base, which changes every file's import targets."""
    return BASE_FILES + seed % 40


def make_source(spark, work: common.WorkDir, files: int) -> tuple[object, list[float]]:
    from halyard_spark import corpus

    walls = []
    for k in range(SETUP_REPEATS):
        path = work.sub(f"src{k}")
        t0 = time.perf_counter()
        corpus.generate_src(spark, files, content_scale=CONTENT_SCALE).write.mode("overwrite").parquet(path)
        src = spark.read.parquet(path)
        walls.append(common.wall_s(t0))
    return src, walls


class Checker:
    """Scores a finished store against ``golden_triples`` of the source."""

    def __init__(self, src_path: str):
        import pyarrow.parquet as pq

        from tests.golden import golden_triples

        self.expected = golden_triples(pq.read_table(src_path).to_pandas())

    def check(self, store: str, reported: int) -> tuple[bool, dict]:
        import pyarrow.parquet as pq

        from tests.golden import precision_recall

        spo = pq.read_table(f"{store}/spo", columns=["subj", "pred", "obj", "ctx"]).to_pydict()
        actual = set(zip(spo["subj"], spo["pred"], spo["obj"], spo["ctx"]))
        precision, recall = precision_recall(actual, self.expected)
        rows = {ix: pq.ParquetDataset(f"{store}/{ix}").read(columns=[]).num_rows for ix in ("spo", "pos", "osp")}
        ok = (
            precision >= MIN_PR and recall >= MIN_PR
            and rows["spo"] == rows["pos"] == rows["osp"] == reported
        )
        return ok, {"precision": precision, "recall": recall, "rows": rows, "reported": reported}


def store_bytes(store: str) -> int:
    total = 0
    for ix in ("spo", "pos", "osp"):
        for dirpath, _, files in os.walk(f"{store}/{ix}"):
            total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files if f.endswith(".parquet"))
    return total


def staged_load(spark, src, out: str, tr: common.Tracer) -> int:
    """``run_pipeline``'s stages in order, each under its own span.  Mirrors
    ``pipeline/run.py::_run_pipeline`` on a fresh output directory."""
    from pyspark.sql import functions as F

    from halyard_spark import nt
    from halyard_spark.pipeline import cc, extract, lineage, link, materialize, stats, triples
    from halyard_spark.pipeline.run import _entity_edges
    from halyard_spark.session import adaptive_shuffle_width

    prev_width = spark.conf.get("spark.sql.shuffle.partitions")
    rows: dict[str, int] = {}

    def stage(span: str, name: str, path: str, builder, fp: str):
        with tr.span("pipeline.lineage"):
            lineage.stage_done(spark, out, name, fp, path)
        t0 = time.time()
        with tr.span(span):
            builder().write.mode("overwrite").parquet(path)
            df = spark.read.parquet(path)
            rows[name] = df.count()
        with tr.span("pipeline.lineage"):
            lineage.record_stage(spark, out, name, fp, rows[name], int((time.time() - t0) * 1000))
        return df

    try:
        with tr.span("pipeline.extract"):
            spark.conf.set("spark.sql.shuffle.partitions", str(adaptive_shuffle_width(spark, src)))
        with tr.span("pipeline.lineage"):
            src_fp = lineage.fingerprint(src, ["repo", "path", "commit"])
        mentions = stage("pipeline.extract", "extract", f"{out}/mentions",
                         lambda: extract.extract_mentions(src), src_fp)
        with tr.span("pipeline.lineage"):
            fp = src_fp + "|" + lineage.fingerprint(mentions, ["repo", "path", "kind", "name", "content_sha256"])

        dictionary = stage("pipeline.link.dictionary", "dictionary", f"{out}/dictionary",
                           lambda: link.build_dictionary(mentions), fp)
        linked = stage("pipeline.link", "link", f"{out}/linked",
                       lambda: link.link_mentions(mentions, dictionary, dict_rows=rows["dictionary"]), fp)

        def canon():
            entities = (
                mentions.filter(F.col("kind").isin("module", "class", "function"))
                .select("kind", "name").distinct()
                .select(nt.nt_iri(F.format_string("urn:entity:%s:%s", F.col("kind"), F.col("name"))).alias("entity"))
            )
            return cc.canonical_map(_entity_edges(mentions), entities)

        canonical = stage("pipeline.cc", "canonicalize", f"{out}/canonical", canon, fp)

        store = f"{out}/store"
        with tr.span("pipeline.lineage"):
            lineage.stage_done(spark, out, "triples", fp, f"{store}/spo")
        t0 = time.time()
        with tr.span("pipeline.triples"):
            src_meta = mentions.where(F.col("kind") == "file").select("repo", "path", "commit", "lang", "content_sha256")
            emitted = triples.emit_triples(src_meta, mentions, linked, canonical, spark)
            materialize.write_sorted(emitted, f"{store}/spo", materialize.INDEXES["spo"], None)
            quads = materialize.read_index(spark, store, "spo")
            count = quads.count()
        with tr.span("pipeline.lineage"):
            lineage.record_stage(spark, out, "triples", fp, count, int((time.time() - t0) * 1000))
            lineage.stage_done(spark, out, "materialize", fp, f"{store}/pos")
        t0 = time.time()
        with tr.span("pipeline.materialize"):
            materialize.write_mirrors(quads, store, None, indexes=["pos", "osp"])
            manifest = materialize.write_manifest(store, count, None, spark=spark)
        with tr.span("pipeline.lineage"):
            lineage.record_stage(spark, out, "materialize", fp, count, int((time.time() - t0) * 1000), manifest)
        stage("pipeline.stats", "stats", f"{out}/void_stats", lambda: stats.void_stats(quads), fp)
        stage("pipeline.lineage", "partition_lineage", f"{out}/lineage_partitions",
              lambda: lineage.partition_lineage(mentions, quads), fp)
        return count
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_width)


def resumed(report: dict, count: int) -> bool:
    """A second ``run_pipeline`` on a finished output skips every stage."""
    stages = [v for k, v in report.items() if not k.startswith("_")]
    return bool(stages) and all(v["skipped"] for v in stages) and report["_total"]["triples"] == count


def run(spark, work: common.WorkDir, seed: int, seconds: float, trace: bool) -> dict:
    from halyard_spark.pipeline import run as pipeline_run

    tr = common.Tracer(spark.sparkContext if trace else None)
    files = n_files(seed)
    with tr.span("bench.setup"):
        src, setup_walls = make_source(spark, work, files)
        checker = Checker(work.sub(f"src{SETUP_REPEATS - 1}"))

    # One pass, cold: a bulk load is a batch job whose users pay a fresh
    # JVM every time, and a second load in this JVM would run warm.
    out = work.sub("kg")
    rec: dict = {}
    passes: list[dict] = []
    try:
        t0 = time.perf_counter()
        if trace:
            count = staged_load(spark, src, out, tr)
        else:
            count = pipeline_run.run_pipeline(spark, src, out)["_total"]["triples"]
        load_s = common.wall_s(t0)
        t1 = time.perf_counter()
        with tr.span("pipeline.resume"):
            report = pipeline_run.run_pipeline(spark, src, out)
        resume_s = common.wall_s(t1)
        rec.update(load_s=load_s, resume_s=resume_s, triples=count,
                   load_triples_per_s=count / load_s, bytes_per_triple=store_bytes(f"{out}/store") / max(count, 1))
        rec["ok"], rec["check"] = checker.check(f"{out}/store", count)
        rec["resumed"] = resumed(report, count)
        failed = (not rec["ok"]) + (not rec["resumed"])
        passes.append({"wall_s": load_s + resume_s, "ops": [("load", load_s * 1000), ("resume", resume_s * 1000)]})
    except Exception as exc:  # a failed load fails both operations
        rec.update(error=repr(exc)[:500])
        failed = 2
    finally:
        shutil.rmtree(out, ignore_errors=True)

    result = {
        "attempted": 2,  # the load and the resume
        "failed": failed,
        "setup_walls_s": setup_walls,
        "passes": passes,
        "info": {"n_files": files, "content_scale": CONTENT_SCALE, "pass": rec},
    }
    if trace and passes:  # the attribution check counts as one more operation
        result["layers"], result["detail"] = layers(work, tr)
        result["attempted"] += 1
        result["failed"] += bool(result["detail"]["problems"])
    return result


def layers(work: common.WorkDir, tr: common.Tracer) -> tuple[dict, dict]:
    """The per-layer figures of the traced pass, and its details: each stage
    span's own figures, and the ways the event log fails the attribution
    check (a stage span missing, a job outside every span, or stage task
    CPU more than MAX_UNATTRIBUTED short of the pass's)."""
    agg = eventlog.aggregate(eventlog.read_events(common.event_log_file(work)), tr.spans)
    out = eventlog.layer_figures(agg, STAGES, passes=1)
    problems = [f"no span {name}" for name in STAGES if name not in agg["spans"]]
    share = out["attribution.cpu_share"][0]
    if share < 1.0 - MAX_UNATTRIBUTED:
        problems.append(f"stage spans hold {share:.4f} of the pass's task CPU")
    if agg["unattributed"]:
        problems.append(f"{len(agg['unattributed'])} jobs outside every span")
    detail = {
        "problems": problems,
        "spans": {name: {k: agg["spans"][name][k] for k in SPAN_METRICS} for name in STAGES if name in agg["spans"]},
        "unattributed": agg["unattributed"],
        "attributed_by_time": agg["attributed_by_time"],
        "total": agg["total"],
    }
    return out, detail
