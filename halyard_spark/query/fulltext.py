"""Full-text search scan — the `halyard:search` analog.

In the reference, an object literal typed ``halyard:search`` triggers an
Elasticsearch ``query_string`` query whose hits become OSP scan keys
(sail/.../HBaseSail.java:612-683; datatype dispatch :392-398; vocab
strategy/.../vocab/HALYARD.java:56).  Without an external index, the
Spark-native equivalent is a distributed scan over the OSP-sorted mirror
with the match compiled into pushable column predicates: tokens become
case-insensitive CONTAINS conjuncts, quoted phrases exact substrings.
At scale this reads only the ``obj`` column (column pruning) and streams;
with an external search service the same operator would instead join the
hit-id list against the OSP mirror, which is why it is factored here.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from halyard_spark import nt
from halyard_spark.query.algebra import values_table

SEARCH_DATATYPE = nt.NS + "search"  # mirrors halyard:search (HALYARD.java:56)


def parse_query(query: str) -> list[str]:
    """query_string subset: bare terms AND quoted phrases, all must match."""
    parts = re.findall(r'"((?:[^"\\]|\\.)*)"|(\S+)', query)
    return [phrase if phrase else term for phrase, term in parts]


def match_condition(obj: Column, query: str) -> Column:
    """Case-insensitive conjunction of term/phrase containment over the
    literal's label."""
    label = F.lower(nt.nt_str(obj))
    cond = nt.nt_is_literal(obj)
    for term in parse_query(query):
        cond = cond & label.contains(term.lower())
    return cond


def fulltext_scan(triples: DataFrame, query: str) -> DataFrame:
    """Statements whose literal object matches the search query —
    the packaged rlike/contains-over-OSP fallback for HBaseSail's ES scan.
    Feed it the OSP mirror so the object predicate prunes row groups."""
    return triples.where(match_condition(F.col("obj"), query))


MAX_BATCH_QUERIES = 10_000  # compiled-predicate width guard


def search_literals(triples: DataFrame, patterns_df: DataFrame) -> DataFrame:
    """Batch form: match a DataFrame of (query_id, query) search literals
    against the store — each query's hits tagged with its id.

    Set-oriented: the query set (small, protocol-side — it is collected,
    like the reference serializes its bounded query list) is compiled into
    ONE array-of-matched-ids projection evaluated in a SINGLE store scan,
    then exploded.  No per-query scan branches: at Q queries the old
    union-of-Q-scans shape read the store Q times; this reads it once and
    evaluates Q whole-stage-codegen'd contains-conjunctions per row.
    Substring semantics (term 'cust' matches 'Customer#...') rule out a
    token-equality join, which would silently drop partial-word hits."""
    from pyspark.sql.types import StringType, StructField, StructType

    qid_type = patterns_df.schema["query_id"].dataType
    queries = [(r["query_id"], r["query"]) for r in patterns_df.collect()]
    if not queries:
        return values_table(
            patterns_df.sparkSession,
            [],
            StructType(
                [StructField("query_id", qid_type)]
                + [StructField(c, StringType()) for c in ("subj", "pred", "obj")]
            ),
        )
    if len(queries) > MAX_BATCH_QUERIES:
        raise ValueError(
            f"search_literals: {len(queries)} queries exceeds the compiled-"
            f"predicate limit {MAX_BATCH_QUERIES}; shard the pattern set"
        )
    obj = F.col("obj")
    # preserve the caller's query_id type (int ids must come back as ints
    # so joins against the pattern DataFrame still match)
    whens = [
        F.when(match_condition(obj, q), F.lit(qid).cast(qid_type))
        for qid, q in queries
    ]
    hits = triples.select(
        "subj", "pred", "obj", F.array_compact(F.array(*whens)).alias("__qids")
    ).where(F.size("__qids") > 0)
    return hits.select(
        F.explode("__qids").alias("query_id"), "subj", "pred", "obj"
    )
