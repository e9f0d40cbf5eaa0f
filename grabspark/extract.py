"""X1/P3/P4/P6 — link explosion, same-host filter, next-frontier build.

Reproduces the reference's link processing
(/root/reference/functions/main_functions.go:64-72,131-148):

* links explode in DOM order (posexplode preserves array position ->
  ``link_idx``) [REF-EXACT: FIFO push order is parent order then DOM order]
* same-host filter: link host == page host, case-sensitive, unparsable
  links silently dropped (host UDF yields null)
* push-time seen check (P6): anti-join against the seen table INCLUDING
  this round's scheduled rows.  The reference checks visited at push time
  without inserting (:66-71); checking against the full round's seen set
  is trace-equivalent because any link to a page fetched later in the
  same round would be skipped at its own pop anyway (SURVEY.md §2.2 P6).
* links are pushed RAW (:69); canonicalization recomputed for the key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from . import udfs

FRONTIER_SCHEMA = StructType(
    [
        StructField("seed_idx", IntegerType()),
        StructField("url", StringType()),
        StructField("url_canon", StringType()),
        StructField("host", StringType()),
        StructField("parent_seq", LongType()),
        StructField("link_idx", IntegerType()),
        StructField("birth_round", IntegerType()),
    ]
)

FRONTIER_COLS = [f.name for f in FRONTIER_SCHEMA.fields]


def links_to_frontier(trace_batch: DataFrame, seen: DataFrame, next_round: int) -> DataFrame:
    """Explode a round's trace into next-round frontier rows."""
    exploded = (
        trace_batch.filter(F.col("ok"))
        .select(
            "seed_idx",
            "host",
            F.col("fetch_seq").alias("parent_seq"),
            F.posexplode_outer("links").alias("link_idx", "url"),
        )
        .filter(F.col("url").isNotNull())
    )
    filtered = (
        # one Arrow pass yields link host + canon together (the regex
        # parse dominates; twice-parsing doubled the Python cost), and
        # the host filter below must not re-run it
        exploded.withColumn("_p", udfs.url_parts_once_udf(F.col("url")))
        # P4 [REF-EXACT]: exact, case-sensitive host equality; null link
        # host (unparsable) never matches
        .filter(F.col("_p.host") == F.col("host"))
        .withColumn("url_canon", F.col("_p.url_canon"))
        .drop("_p")
        .withColumn("birth_round", F.lit(next_round).cast("int"))
        .withColumn("link_idx", F.col("link_idx").cast("int"))
    )
    # P6: push-time seen check (no insert)
    pushed = filtered.join(
        seen.select("seed_idx", "url_canon"), ["seed_idx", "url_canon"], "left_anti"
    )
    return pushed.select(*FRONTIER_COLS)


def dedupe_first_occurrence(frontier: DataFrame) -> DataFrame:
    """A1 [REF-EXACT]: one row per (seed_idx, url_canon), first occurrence
    in FIFO order (min (parent_seq, link_idx)) wins — matches the pop-time
    visited check keeping only the first pop of a canon
    (main_functions.go:45-51)."""
    other = [c for c in frontier.columns if c not in ("seed_idx", "url_canon")]
    return (
        frontier.groupBy("seed_idx", "url_canon")
        .agg(
            F.min_by(F.struct(*other), F.struct("parent_seq", "link_idx")).alias("_r")
        )
        .select("seed_idx", "url_canon", "_r.*")
        .select(*frontier.columns)
    )
