"""Shared helpers for the ops layer."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def memo_key(spark: SparkSession, sf: str, src_name: str, *caches: dict) -> tuple:
    """(session_token, path, mtime_ns, size) memo key + eviction for
    per-session write-once artifacts (near-dup edge sets, PQ code
    tables): entries from stopped sessions, and entries whose source
    parquet was rewritten at the same path, are dropped so the dicts
    stay bounded and never serve stale frames (ADVICE r3).  mtime_ns +
    size (ADVICE r4) instead of float mtime: second-granularity
    filesystems can rewrite a fixture in-place without moving the float
    clock, and the size catches same-nanosecond rewrites too.  The
    values are ``localCheckpoint()`` frames, whose blocks belong to an
    internal RDD that ``DataFrame.unpersist()`` does not touch.
    Eviction therefore only drops the dict's reference; Spark's
    ContextCleaner frees the blocks once the JVM collects that RDD."""
    tok = session_token(spark)
    path = os.path.normpath(sf)
    src = os.path.join(path, src_name)
    try:
        st = os.stat(src)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = (0, 0)
    key = (tok, path, stamp)
    for cache in caches:
        for k in [k for k in cache if k[0] != tok or (k[1] == path and k != key)]:
            del cache[k]
    return key


def materialize_report(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Eagerly evaluate a REPORT-SIZED result (a handful of audit rows —
    per-method recall, per-radius band recall) and return it as a local
    DataFrame.  Lets the producer release its persisted intermediates in
    a ``finally`` instead of leaking them until session end: the caller's
    later action replays nothing because the rows are already local.
    Never use for data-scale frames."""
    # report-sized collect: bounded by the report's group count, not data
    rows = df.collect()
    return spark.createDataFrame(rows, df.schema)


def session_token(spark: SparkSession) -> str:
    """Stable cache key for per-session memos.  id(spark) is NOT safe:
    CPython reuses addresses, so a stopped-and-collected session's id can
    resurface on a new session and serve it artifacts registered in a
    dead catalog.  A uuid attribute stamped on the live object cannot be
    inherited by a different object."""
    import uuid

    tok = getattr(spark, "_grabspark_cache_token", None)
    if tok is None:
        tok = uuid.uuid4().hex
        spark._grabspark_cache_token = tok
    return tok
