"""Snapshot-table row-level operators, graded against DuckDB.

The reference's remaining relational surface (SURVEY.md §2.5/§2.6):

* ``upsert_merge`` ≙ ``UPDATE Users SET Token=... WHERE id=?`` plus the
  insert path (/root/reference/database/mysql.go:57-65) — Iceberg-style
  copy-on-write MERGE on SnapshotTable (bucket-pruned file rewrite).
* ``ttl_delete``  ≙ the hourly ``DELETE FROM Users WHERE
  token_expires_at < NOW()`` event (/root/reference/database/
  migration.sql:14-17) — ``DELETE ... WHERE`` as a copy-on-write commit.
* ``bloom_partitioned_antijoin`` — the J2 scale mode (BloomConfig
  mode="cuckoo"): per-shard filter files built and probed executor-side,
  co-partitioned with the key; result must equal the exact anti-join
  (advisory-filter invariant).
* ``cuckoo_ttl_antijoin`` — the same probe after TTL deletes from the
  filter, which only the cuckoo filter can express.

Each query exercises the REAL SnapshotTable/PartitionedCuckoo code paths
in a temp dir, then returns the resulting DataFrame for the value gate.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .common import T

# updates: every customer key divisible by 20 gets zeroed balance +
# segment 'UPDATED'; plus 50 brand-new keys above the existing key space.
_N_NEW = 50
_NEW_BASE = 90_000_000


def _updates_df(spark: SparkSession, sf: str) -> DataFrame:
    c = T(spark, sf, "customer").select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
    upd = (
        c.filter(F.col("c_custkey") % 20 == 0)
        .withColumn("c_acctbal", F.lit(0.0))
        .withColumn("c_mktsegment", F.lit("UPDATED"))
    )
    new = spark.range(_N_NEW).select(
        (F.col("id") + _NEW_BASE).cast("long").alias("c_custkey"),
        F.concat(F.lit("Customer#new"), F.col("id").cast("string")).alias("c_name"),
        F.lit(1.0).alias("c_acctbal"),
        F.lit("INSERTED").alias("c_mktsegment"),
    )
    return upd.unionByName(new)


def upsert_merge(spark: SparkSession, sf: str) -> DataFrame:
    from ..snapshots import SnapshotTable

    base = T(spark, sf, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    ).withColumn("bucket", F.pmod(F.col("c_custkey"), F.lit(8)).cast("int"))
    updates = _updates_df(spark, sf).withColumn(
        "bucket", F.pmod(F.col("c_custkey"), F.lit(8)).cast("int")
    )
    tbl = SnapshotTable(
        spark, tempfile.mkdtemp(prefix="grabspark-upsert-"), partition_col="bucket"
    )
    tbl.overwrite(base)
    tbl.upsert(updates, keys=["c_custkey"])
    return tbl.read().select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")


_UPSERT_SQL = f"""
WITH updates AS (
  SELECT c_custkey, c_name, 0.0 AS c_acctbal, 'UPDATED' AS c_mktsegment
  FROM customer WHERE c_custkey % 20 = 0
  UNION ALL
  SELECT {_NEW_BASE} + i AS c_custkey, 'Customer#new' || i AS c_name,
         1.0 AS c_acctbal, 'INSERTED' AS c_mktsegment
  FROM (SELECT unnest(generate_series(0, {_N_NEW - 1})) AS i)
)
SELECT c.c_custkey, c.c_name, c.c_acctbal, c.c_mktsegment
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM updates u WHERE u.c_custkey = c.c_custkey)
UNION ALL
SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM updates
"""


def ttl_delete(spark: SparkSession, sf: str) -> DataFrame:
    from ..snapshots import SnapshotTable

    e = T(spark, sf, "events").select("event_id", "user_id", "event_type", "ts")
    tbl = SnapshotTable(spark, tempfile.mkdtemp(prefix="grabspark-ttl-"))
    tbl.overwrite(e)
    # TTL: expire everything before the corpus midpoint day (ts is NTZ in
    # the fixture parquet; cast like the other event queries do)
    tbl.delete_where(
        F.col("ts").cast("timestamp") < F.lit("2024-01-04 00:00:00").cast("timestamp")
    )
    return tbl.read()


_TTL_SQL = """
SELECT event_id, user_id, event_type, ts
FROM events
WHERE NOT (ts < TIMESTAMP '2024-01-04 00:00:00')
"""


def _cuckoo_of(keys: DataFrame, key_col: str):
    """A partitioned cuckoo filter holding the (distinct) ``keys``, sized
    from their count at ~0.6 load (a fixed size hit 0.92 load at sf0.1 —
    the cuckoo viability edge — and failed intermittently); the count is
    one cheap action on the distinct keys."""
    from ..cuckoo import PartitionedCuckoo

    n_keys = keys.count()
    n_shards = 8
    n_buckets = 1 << max(9, (n_keys // (n_shards * 4 * 6 // 10)).bit_length())
    pc = PartitionedCuckoo(
        tempfile.mkdtemp(prefix="grabspark-pcuckoo-"), n_buckets=n_buckets, n_shards=n_shards
    )
    pc.create()
    pc.update(keys, key_col)
    return pc


def _prefiltered_antijoin(spark: SparkSession, c: DataFrame, pc, seen: DataFrame):
    """Customers whose key is not an ``o_custkey`` of ``seen``: the filter's definitely-new rows skip
    the exact anti-join, its maybe-seen rows go through it."""
    from ..cuckoo import partitioned_prefilter

    tagged = partitioned_prefilter(
        c, F.col("c_custkey").cast("string"), pc.make_contains(spark), pc.n_shards, out_col="_maybe"
    )
    sure_new = tagged.filter(~F.col("_maybe")).drop("_maybe")
    maybe = tagged.filter(F.col("_maybe")).drop("_maybe")
    out = sure_new.unionByName(maybe.join(seen, maybe.c_custkey == seen.o_custkey, "left_anti"))
    return out.select("c_custkey", "c_name", "c_mktsegment")


def bloom_partitioned_antijoin(spark: SparkSession, sf: str) -> DataFrame:
    """Same result contract as relational.bloom_prefilter_antijoin, but
    through the PARTITIONED filter: distributed shard build (executor-side
    insert, driver commits metadata only) + shard-co-partitioned probe."""
    c = T(spark, sf, "customer")
    o = T(spark, sf, "orders")
    seen_keys = o.select(F.col("o_custkey").cast("string").alias("_k")).distinct()
    return _prefiltered_antijoin(spark, c, _cuckoo_of(seen_keys, "_k"), o)


_ANTI_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


# TTL cutoff for the cuckoo demo: customers whose LAST order predates it
# are expired from the seen side (re-crawl candidates)
_CUCKOO_CUTOFF = "2001-01-01 00:00:00"


def cuckoo_ttl_antijoin(spark: SparkSession, sf: str) -> DataFrame:
    """J2 cuckoo mode (north rule "bloom/cuckoo"): the TTL re-crawl flow Bloom
    cannot express.  Seen = customers with orders; customers whose last
    order predates the TTL cutoff are DELETED from the cuckoo filter
    (mirroring a seen-table delete_where), so they come back as
    definitely-new without a rebuild.  Advisory-filter invariant: the
    result must equal the exact anti-join against the live seen set —
    "contains" rows still flow through it, deletion can only send rows
    down the definitely-new fast path."""
    c = T(spark, sf, "customer")
    o = T(spark, sf, "orders")
    seen_keys = o.select(F.col("o_custkey").cast("string").alias("_k")).distinct()
    last_order = o.groupBy("o_custkey").agg(F.max("o_orderdate").alias("_last"))
    expired_keys = last_order.filter(
        F.col("_last") < F.lit(_CUCKOO_CUTOFF).cast("timestamp")
    ).select(F.col("o_custkey").cast("string").alias("_k"))
    live = last_order.filter(
        F.col("_last") >= F.lit(_CUCKOO_CUTOFF).cast("timestamp")
    ).select("o_custkey")

    pc = _cuckoo_of(seen_keys, "_k")
    pc.delete(expired_keys, "_k")
    return _prefiltered_antijoin(spark, c, pc, live)


_CUCKOO_SQL = f"""
WITH live AS (
  SELECT o_custkey FROM orders
  GROUP BY o_custkey
  HAVING max(o_orderdate) >= TIMESTAMP '{_CUCKOO_CUTOFF}'
)
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM live WHERE o_custkey = c_custkey)
"""


QUERIES = {
    "upsert_merge": upsert_merge,
    "ttl_delete": ttl_delete,
    "bloom_partitioned_antijoin": bloom_partitioned_antijoin,
    "cuckoo_ttl_antijoin": cuckoo_ttl_antijoin,
}

ORACLES = {
    "upsert_merge": _UPSERT_SQL,
    "ttl_delete": _TTL_SQL,
    "bloom_partitioned_antijoin": _ANTI_SQL,
    "cuckoo_ttl_antijoin": _CUCKOO_SQL,
}
