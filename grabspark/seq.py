"""W2 — global FIFO sequence assignment (REF-EXACT ordering).

The reference's total fetch order is its sequential FIFO pop order
(/root/reference/functions/main_functions.go:34-76).  In the round-based
engine that order is reified as the sort key ``(parent_seq, link_idx)``
within each seed: parents were numbered in a previous round, links carry
their DOM position, so a round's scheduled set is totally ordered without
any cross-round coordination.

Two physical strategies (SURVEY.md §7.6):

* ``window`` — one ``row_number`` window per seed.  Fine up to ~10^5 rows
  per (seed, round); each seed's window is a single partition.
* ``distributed`` — the classic distributed zipWithIndex: range-partition
  by the sort key, count rows per (partition, seed), broadcast the prefix
  offsets, then rank inside each partition in parallel.  No single-
  partition bottleneck; used above ``seq_window_threshold``.

Both produce the identical numbering (equality is property-tested).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

ORDER_COLS = ["parent_seq", "link_idx"]


def assign_fetch_seq_counted(
    df: DataFrame,
    seq_bases: dict[int, int],
    threshold: int = 200_000,
    n_partitions: int = 32,
) -> tuple[DataFrame, int, dict[int, int]]:
    """Fused scheduled-count + sequence assignment: ONE driver action per
    round instead of two (VERDICT r2 #5 — every blocking action is
    Amdahl serial time the extra cores can't shrink).  Range-partitions
    the scheduled set once, collects the tiny per-(partition, seed)
    count table, derives n_sched = sum(counts) from it for free, and
    picks the window/distributed strategy AFTER the fact (the counts are
    already in hand either way).  Returns (df_with_fetch_seq, n_sched,
    per-seed counts) — the per-seed dict lets the engine advance its seq
    bases without a separate per-seed stats job (one trace row is written
    per scheduled row, ok or failed, so scheduled count == trace count).
    The input ends up persisted — the caller's round-end cache clear
    releases it."""
    part = df.repartitionByRange(n_partitions, "seed_idx", *ORDER_COLS).withColumn(
        "_pid", F.spark_partition_id()
    )
    part = part.persist()
    counts = part.groupBy("_pid", "seed_idx").count().collect()
    n_sched = sum(int(r["count"]) for r in counts)
    per_seed: dict[int, int] = {}
    for r in counts:
        per_seed[int(r["seed_idx"])] = per_seed.get(int(r["seed_idx"]), 0) + int(r["count"])
    if n_sched == 0:
        return part.drop("_pid"), 0, per_seed
    if n_sched <= threshold:
        # small round: a per-seed window on the already-persisted frame
        # is one task per seed — cheaper than the offset join
        return _assign_window(part.drop("_pid"), seq_bases), n_sched, per_seed
    return _assign_from_counts(part, seq_bases, counts), n_sched, per_seed


def _base_expr(seq_bases: dict[int, int]):
    """Per-seed sequence base as ONE expression, built with a single
    py4j call whatever the seed count (a ``when`` chain costs several
    calls per seed, every round): an array literal indexed by
    ``seed_idx``, O(1) per row; a seed past its end reads 0."""
    top = max((s for s, b in seq_bases.items() if b), default=-1)
    if top < 0:
        return F.lit(0)
    arr = ",".join(f"{int(seq_bases.get(s, 0))}L" for s in range(top + 1))
    return F.expr(f"coalesce(try_element_at(array({arr}), seed_idx + 1), 0L)")


def _assign_window(df: DataFrame, seq_bases: dict[int, int]) -> DataFrame:
    w = Window.partitionBy("seed_idx").orderBy(*ORDER_COLS)
    return df.withColumn(
        "fetch_seq", (F.row_number().over(w) - 1 + _base_expr(seq_bases)).cast("long")
    )


def _assign_from_counts(part: DataFrame, seq_bases: dict[int, int], counts) -> DataFrame:
    """Rank inside each range partition, offset by the per-(pid, seed)
    prefix sums derived from the collected count table."""
    # prefix offset per (pid, seed): rows of the same seed in lower pids
    by_seed: dict[int, list[tuple[int, int]]] = {}
    for r in counts:
        by_seed.setdefault(r["seed_idx"], []).append((r["_pid"], r["count"]))
    offsets: dict[tuple[int, int], int] = {}
    for seed, lst in by_seed.items():
        acc = seq_bases.get(seed, 0)
        for pid, cnt in sorted(lst):
            offsets[(pid, seed)] = acc
            acc += cnt
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    off_schema = StructType(
        [
            StructField("_pid", IntegerType()),
            StructField("seed_idx", IntegerType()),
            StructField("_off", LongType()),
        ]
    )
    off_df = part.sparkSession.createDataFrame(
        [(pid, seed, off) for (pid, seed), off in offsets.items()], off_schema
    )
    w = Window.partitionBy("_pid", "seed_idx").orderBy(*ORDER_COLS)
    out = (
        part.join(F.broadcast(off_df), ["_pid", "seed_idx"], "left")
        .withColumn("fetch_seq", (F.row_number().over(w) - 1 + F.coalesce("_off", F.lit(0))).cast("long"))
        .drop("_pid", "_off")
    )
    return out
