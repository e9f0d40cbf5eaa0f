"""CK1 — Iceberg-shaped snapshot tables (SURVEY.md §7.3).

No Iceberg runtime jar exists in this sandbox, so this module provides an
Iceberg-*shaped* table: immutable parquet data files under ``<path>/data``,
one JSON manifest per committed snapshot under ``<path>/snapshots/v{N}.json``
(file list + row counts + engine metadata + parent pointer), and a
``<path>/CURRENT`` symlink to the committed manifest.  This gives the
properties the north rule exercises — append-only snapshots, versioned
time-travel reads for exact resume, per-snapshot lineage/metadata — with
the same ``append``/``overwrite``/``read(version)`` surface an Iceberg
catalog would provide, so a real Iceberg catalog can replace it by config
when a jar is present.

Data files are written by the tasks' Python workers with pyarrow, each
task reporting the files it wrote (``_write_batch``), rather than through
``df.write.parquet``: without libhadoop, Hadoop's local filesystem forks
a ``chmod`` process from the Spark JVM for every file and directory it
creates, ~70 per engine round, and each fork briefly doubles the JVM's
resident set as seen from ``/proc``.

Commit protocol: data files are written first, the manifest next, and the
CURRENT pointer last (``swap_current``): a new symlink to the manifest is
created under a temp name and renamed over CURRENT, one atomic
``rename(2)``.  A crash between steps leaves orphan data files (or a
stray ``CURRENT.tmp.*`` link, which nothing reads) but never a torn
table.  The pointer is a symlink rather than a small file because ext4
(``auto_da_alloc``) flushes a freshly written file synchronously when it
is renamed over an existing one: ~50-60 ms per commit on a virtio disk,
five commits per engine round.  A symlink has no data blocks to flush,
so the swap costs microseconds.  Durability is unchanged: the pointer
stays atomic under a process crash, and after a power loss it is the
old or the new link, since a short symlink's target lives in its
journaled inode.  Neither manifests nor data files are fsynced (adding
a flush would pay the same ~50 ms again).  On a real cluster the same
protocol works against any filesystem with atomic rename (HDFS) or
conditional put (S3).
"""

from __future__ import annotations

import functools
import json
import os
import re
import threading
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def _serialized(fn):
    """Serialize committing methods per table instance.  The engine
    overlaps independent tables' jobs from driver threads; two
    read-modify-write commits on the SAME table (e.g. a retried round
    racing a leaked in-flight commit) would both read parent v and write
    v+1, silently dropping one.  A per-instance lock makes same-table
    writers strictly sequential; cross-table concurrency is untouched."""

    @functools.wraps(fn)
    def wrapper(self, *args, **kwargs):
        with self._commit_lock:
            return fn(self, *args, **kwargs)

    return wrapper


def _file_bytes(files: list[str]) -> int:
    return sum(os.path.getsize(f) for f in files)


# -- CURRENT pointer: the one writer and reader shared with cuckoo.py ----------

_VERSION_RE = re.compile(r"v(\d+)\.json$")


def swap_current(dirpath: str, target: str) -> None:
    """Atomically point ``<dirpath>/CURRENT`` at ``target``, a manifest
    path relative to ``dirpath`` whose name ends in ``v{N}.json``.  The
    manifest must already be written.  The rename's source is a symlink,
    so ext4 has no data blocks to flush (see the module docstring)."""
    cur = os.path.join(dirpath, "CURRENT")
    tmp = f"{cur}.tmp.{uuid.uuid4().hex}"
    os.symlink(target, tmp)
    os.replace(tmp, cur)


def current_version(dirpath: str) -> int | None:
    """Version ``N`` of the manifest ``<dirpath>/CURRENT`` links to, or
    None before the first commit."""
    try:
        target = os.readlink(os.path.join(dirpath, "CURRENT"))
    except FileNotFoundError:
        return None
    return int(_VERSION_RE.search(target).group(1))


def _parquet_writer(batch_dir: str, part_col: str | None):
    """``mapInArrow`` body for ``SnapshotTable._write_batch``: write one
    task's batches under ``batch_dir`` and yield one row per file.  With
    ``part_col`` each batch is stably sorted on it and every run of equal
    values goes to that bucket's file in ``_pb=<v>/`` (a null bucket to
    Hive's default dir name, recorded with no bucket), so a file holds
    its bucket's rows in task order."""

    def write(batches):
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        tag = uuid.uuid4().hex
        sinks: dict = {}  # bucket -> [writer, path, rows]

        def put(key, rb):
            s = sinks.get(key)
            if s is None:
                d = batch_dir
                if part_col is not None:
                    d = os.path.join(
                        batch_dir, f"_pb={'__HIVE_DEFAULT_PARTITION__' if key is None else key}"
                    )
                os.makedirs(d, exist_ok=True)
                path = os.path.join(d, f"part-{len(sinks):05d}-{tag}.parquet")
                s = sinks[key] = [pq.ParquetWriter(path, rb.schema), path, 0]
            s[0].write_batch(rb)
            s[2] += rb.num_rows

        try:
            for rb in batches:
                if rb.num_rows == 0:
                    continue
                if part_col is None:
                    put(None, rb)
                    continue
                rb = rb.take(
                    pc.sort_indices(rb, [(part_col, "ascending")], null_placement="at_end")
                )
                runs = pc.run_end_encode(rb.column(part_col))
                start = 0
                for end, key in zip(runs.run_ends.to_pylist(), runs.values.to_pylist()):
                    put(key, rb.slice(start, end - start))
                    start = end
        finally:
            for w, _path, _rows in sinks.values():
                w.close()
        yield pa.RecordBatch.from_pydict(
            {
                "path": [s[1] for s in sinks.values()],
                "bucket": [None if k is None else int(k) for k in sinks],
                "rows": [s[2] for s in sinks.values()],
            },
            schema=pa.schema([("path", pa.string()), ("bucket", pa.int64()), ("rows", pa.int64())]),
        )

    return write


class SnapshotTable:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        schema: StructType | None = None,
        partition_col: str | None = None,
    ):
        """``partition_col`` names an existing (integer-ish) column to
        bucket data files by — e.g. the engine's salted host-hash bucket
        (SURVEY D5/§4.3).  Files are laid out under ``_pb=<v>`` dirs and
        the manifest records each file's bucket, so per-bucket reads are
        pruned at the METADATA level (the Iceberg manifest-pruning
        pattern) — no directory listing, no full scan.  The column stays
        in the data files (the hive-style dir key is a shadow copy), so
        direct file reads keep the full schema."""
        self.spark = spark
        self.path = path
        self._commit_lock = threading.RLock()
        self._schema = schema
        self.partition_col = partition_col
        os.makedirs(os.path.join(path, "data"), exist_ok=True)
        os.makedirs(os.path.join(path, "snapshots"), exist_ok=True)

    # -- manifest plumbing ---------------------------------------------------

    def current_version(self) -> int | None:
        return current_version(self.path)

    def manifest(self, version: int | None = None) -> dict | None:
        v = self.current_version() if version is None else version
        if v is None:
            return None
        with open(os.path.join(self.path, "snapshots", f"v{v}.json")) as f:
            return json.load(f)

    def meta(self, version: int | None = None) -> dict:
        m = self.manifest(version)
        return {} if m is None else m.get("meta", {})

    def row_count(self, version: int | None = None) -> int:
        m = self.manifest(version)
        return 0 if m is None else int(m.get("rows", 0))

    def data_bytes(self, version: int | None = None) -> int:
        """Total size of the snapshot's data files: O(1) from the
        manifest; a manifest written without the total stats its files."""
        m = self.manifest(version)
        if m is None:
            return 0
        b = m.get("bytes")
        return int(b) if b is not None else _file_bytes(m["files"])

    def _commit(
        self,
        files: list[str],
        rows: int,
        meta: dict,
        parent: int | None,
        added: list[str] | None = None,
        parts: dict | None = None,
        nbytes: int | None = None,
    ) -> int:
        """``nbytes`` is the data-file total when the caller knows it;
        otherwise the files are stat'ed."""
        v = 0 if parent is None else parent + 1
        manifest = {
            "version": v,
            "parent": parent,
            "files": files,
            "added": added if added is not None else files,
            "rows": rows,
            "bytes": _file_bytes(files) if nbytes is None else int(nbytes),
            "meta": meta,
            # per-file partition value (bucket) — the manifest-level
            # pruning index for read(bucket=...)
            "parts": parts or {},
            "schema": json.loads(self._schema.json()) if self._schema else None,
        }
        mpath = os.path.join(self.path, "snapshots", f"v{v}.json")
        with open(mpath, "w") as f:
            json.dump(manifest, f)
        # the manifest is a new name and CURRENT a symlink swap, so no
        # written file is renamed over another (no ext4 flush)
        swap_current(self.path, f"snapshots/v{v}.json")
        return v

    # -- writes --------------------------------------------------------------

    def _write_batch(self, df: DataFrame) -> tuple[list[str], int, dict]:
        """Write ``df`` as one batch of new parquet files: each task's
        Python worker writes its rows with pyarrow (one file per bucket
        under ``_pb=<v>/`` for a bucketed table) and reports one
        ``(path, bucket, rows)`` row per file, so the manifest lists
        exactly the files of the successful task attempts (the Iceberg
        writer -> DataFile-list commit, the same shape as the cuckoo
        filter's shard files; why not ``df.write``: module docstring).
        An empty ``df`` writes no file."""
        batch_dir = os.path.join(self.path, "data", f"batch-{uuid.uuid4().hex}")
        bucketed = self.partition_col is not None and self.partition_col in df.columns
        written = df.mapInArrow(
            _parquet_writer(batch_dir, self.partition_col if bucketed else None),
            "path string, bucket long, rows long",
        ).collect()  # tiny: one (path, bucket, rows) row per written file
        files = sorted(r["path"] for r in written)
        parts = {r["path"]: int(r["bucket"]) for r in written if r["bucket"] is not None}
        if self._schema is None:
            self._schema = df.schema
        return files, sum(int(r["rows"]) for r in written), parts

    def _count_parquet_rows(self, files: list[str]) -> int:
        import pyarrow.parquet as pq

        return sum(pq.ParquetFile(f).metadata.num_rows for f in files)

    def _align(self, df: DataFrame) -> DataFrame:
        """Schema enforcement for incremental writes: cast the incoming
        batch to the committed table schema.  Without this a batch whose
        inferred types differ (e.g. python int -> int64 vs a stored
        int32 column) writes mixed-physical-type parquet files, and the
        vectorized reader fails on the narrowing side of the mix."""
        schema = self.schema()
        if schema is None:
            return df
        return df.select([F.col(f.name).cast(f.dataType) for f in schema.fields])

    @_serialized
    def append(self, df: DataFrame, meta: dict | None = None) -> int:
        """Append-only commit: new files + parent's files (O(new) IO)."""
        parent = self.current_version()
        prev = self.manifest(parent) if parent is not None else None
        files, rows, parts = self._write_batch(self._align(df))
        all_files = (prev["files"] if prev else []) + files
        all_rows = (prev["rows"] if prev else 0) + rows
        all_bytes = self.data_bytes(parent) + _file_bytes(files)
        all_parts = dict(prev.get("parts", {}) if prev else {})
        all_parts.update(parts)
        m = dict(prev["meta"] if prev else {})
        m.update(meta or {})
        return self._commit(
            all_files, all_rows, m, parent, added=files, parts=all_parts, nbytes=all_bytes
        )

    @_serialized
    def overwrite(self, df: DataFrame, meta: dict | None = None) -> int:
        parent = self.current_version()
        files, rows, parts = self._write_batch(df)
        return self._commit(files, rows, meta or {}, parent, parts=parts)

    # prepare/commit split of ``overwrite``: the engine runs the (big)
    # data write CONCURRENTLY with other tables' jobs and serializes only
    # the manifest commit once every version it references is known.
    # Identical on-disk result; a crash between prepare and commit leaves
    # an orphan batch dir that no manifest references (same as any torn
    # write — resume ignores it).

    def prepare_overwrite(self, df: DataFrame) -> tuple[list[str], int, dict]:
        return self._write_batch(df)

    @_serialized
    def commit_prepared(self, prepared: tuple[list[str], int, dict], meta: dict | None = None) -> int:
        files, rows, parts = prepared
        return self._commit(files, rows, meta or {}, self.current_version(), parts=parts)

    @_serialized
    def rollback(self, version: int) -> int:
        """Point CURRENT at ``version``'s state via a new commit (time
        travel for exact resume after a torn engine round)."""
        parent = self.current_version()
        if parent == version:
            return parent
        m = self.manifest(version)
        if m is None:
            raise ValueError(f"no snapshot v{version} in {self.path}")
        return self._commit(
            m["files"], m["rows"], m.get("meta", {}), parent, added=[],
            parts=m.get("parts", {}), nbytes=self.data_bytes(version),
        )

    @_serialized
    def commit_meta(self, meta: dict) -> int:
        """New snapshot with unchanged data, updated metadata."""
        parent = self.current_version()
        prev = self.manifest(parent)
        files = prev["files"] if prev else []
        rows = prev["rows"] if prev else 0
        m = dict(prev["meta"] if prev else {})
        m.update(meta)
        return self._commit(
            files, rows, m, parent, parts=prev.get("parts", {}) if prev else {},
            nbytes=self.data_bytes(parent),
        )

    # -- row-level ops (copy-on-write, Iceberg MERGE/DELETE-shaped) ----------

    @_serialized
    def upsert(self, updates: DataFrame, keys: list[str], meta: dict | None = None) -> int:
        """MERGE: rows matching ``keys`` are replaced by ``updates``; new
        keys are inserted (≙ the reference's ``UPDATE Users SET ... WHERE
        id=?`` + insert path, /root/reference/database/mysql.go:57-65).

        Copy-on-write: for a bucket-partitioned table, only files whose
        bucket appears in the incoming batch are rewritten — untouched
        buckets' files carry over verbatim (manifest-level pruning on
        write, the Iceberg copy-on-write MERGE pattern)."""
        parent = self.current_version()
        prev = self.manifest(parent) if parent is not None else None
        if prev is None or not prev["files"]:
            return self.overwrite(updates, meta=meta)
        updates = self._align(updates)
        parts = prev.get("parts", {})
        keep_files: list[str] = []
        rewrite_files: list[str] = []
        if self.partition_col is not None and parts and self.partition_col in updates.columns:
            touched = {
                int(r[0])
                for r in updates.select(self.partition_col).distinct().collect()
            }
            for f in prev["files"]:
                (rewrite_files if parts.get(f) in touched else keep_files).append(f)
        else:
            rewrite_files = list(prev["files"])
        old = (
            self._read_files(rewrite_files)
            if rewrite_files
            else self.spark.createDataFrame([], self.schema())
        )
        keep_old = old.join(updates.select(*keys).distinct(), keys, "left_anti")
        merged = keep_old.unionByName(updates.select(*[f.name for f in self.schema().fields]))
        files, rows, new_parts = self._write_batch(merged)
        all_files = keep_files + files
        kept_rows = self._count_parquet_rows(keep_files)
        all_parts = {f: parts[f] for f in keep_files if f in parts}
        all_parts.update(new_parts)
        m = dict(prev["meta"])
        m.update(meta or {})
        return self._commit(all_files, kept_rows + rows, m, parent, added=files, parts=all_parts)

    @_serialized
    def compact(self, target_file_bytes: int = 128 << 20, meta: dict | None = None) -> int:
        """Iceberg ``rewrite_data_files``-shaped compaction: rewrite the
        current live file set into ~``target_file_bytes`` files (one file
        per bucket for a partitioned table) and commit the result as a
        new snapshot.  A long crawl appends one small batch per round per
        table — thousands of files at 10^10-frontier scale — and every
        per-round read pays the open/footer cost per file; compaction
        restores O(data) reads.

        Old manifests still reference the old files (nothing is deleted),
        so time-travel ``read(v)`` and ``rollback(v)`` across the
        compaction boundary keep working — exact resume (CK1) is
        unaffected.  ``read_delta`` of the compaction version returns the
        whole rewritten set, so it is NOT a data delta; engine round
        deltas are never compaction versions."""
        parent = self.current_version()
        prev = self.manifest(parent) if parent is not None else None
        if prev is None or not prev["files"]:
            return parent if parent is not None else self.overwrite(
                self.spark.createDataFrame([], self.schema()), meta=meta
            )
        df = self.read(parent)
        if self.partition_col is not None and self.partition_col in df.columns:
            # one task per live bucket -> exactly one file per bucket
            df = df.repartition(F.col(self.partition_col))
        else:
            total = self.data_bytes(parent)
            df = df.repartition(max(1, -(-total // target_file_bytes)))
        files, rows, parts = self._write_batch(df)
        m = dict(prev["meta"])
        m.update(meta or {})
        return self._commit(files, rows, m, parent, parts=parts)

    def live_file_count(self, version: int | None = None) -> int:
        m = self.manifest(version)
        return 0 if m is None else len(m["files"])

    @_serialized
    def expire_snapshots(self, keep_last: int = 1) -> dict:
        """Iceberg ``expire_snapshots``-shaped retention: keep the newest
        ``keep_last`` snapshots (always including CURRENT), delete older
        manifests and every data file referenced ONLY by them.  This is
        what reclaims the space ``compact()`` leaves behind — without it
        a compacting table's old small files live forever.

        Time travel to expired versions is gone by construction (that is
        the point); rollback targets must stay within ``keep_last``.
        Returns ``{"removed_files": n, "removed_snapshots": m,
        "freed_bytes": b}``.  File deletes happen after the manifest
        deletes, so a crash mid-expire leaves orphan data files but
        never a manifest pointing at a missing file."""
        cur = self.current_version()
        if cur is None:
            return {"removed_files": 0, "removed_snapshots": 0, "freed_bytes": 0}
        snap_dir = os.path.join(self.path, "snapshots")
        versions = sorted(
            int(f[1:-5]) for f in os.listdir(snap_dir)
            if f.startswith("v") and f.endswith(".json")
        )
        keep = set(versions[-max(1, keep_last):]) | {cur}
        expired = [v for v in versions if v not in keep]
        if not expired:
            return {"removed_files": 0, "removed_snapshots": 0, "freed_bytes": 0}
        referenced: set[str] = set()
        for v in keep:
            m = self.manifest(v)
            referenced.update(m["files"])
        doomed: set[str] = set()
        for v in expired:
            m = self.manifest(v)
            doomed.update(f for f in m["files"] if f not in referenced)
        # manifests first: no surviving manifest may reference a file
        # we are about to delete
        for v in expired:
            os.remove(os.path.join(snap_dir, f"v{v}.json"))
        freed = 0
        for f in sorted(doomed):
            try:
                freed += os.path.getsize(f)
                os.remove(f)
            except FileNotFoundError:
                pass
        return {
            "removed_files": len(doomed),
            "removed_snapshots": len(expired),
            "freed_bytes": freed,
        }

    @_serialized
    def delete_where(self, condition, meta: dict | None = None) -> int:
        """DELETE FROM ... WHERE condition (≙ the reference's token delete
        and the hourly TTL event, /root/reference/database/mysql.go:83-91,
        migration.sql:14-17).  Copy-on-write full rewrite of the kept
        rows; condition is a Column or SQL string."""
        parent = self.current_version()
        cond = F.expr(condition) if isinstance(condition, str) else condition
        kept = self.read().filter(~cond)
        files, rows, parts = self._write_batch(kept)
        prev = self.manifest(parent) if parent is not None else None
        m = dict(prev["meta"] if prev else {})
        m.update(meta or {})
        return self._commit(files, rows, m, parent, parts=parts)

    # -- reads ---------------------------------------------------------------

    def schema(self) -> StructType | None:
        if self._schema is not None:
            return self._schema
        m = self.manifest()
        if m and m.get("schema"):
            self._schema = StructType.fromJson(m["schema"])
        return self._schema

    def read(self, version: int | None = None, bucket: int | None = None) -> DataFrame:
        """Read a snapshot; ``bucket`` prunes to that partition's files at
        the MANIFEST level (no other file is opened or listed) — the
        per-host read path for a host-bucketed table."""
        m = self.manifest(version)
        if m is None or not m["files"]:
            schema = self.schema()
            if schema is None and m is not None and m.get("schema"):
                schema = StructType.fromJson(m["schema"])
            if schema is None:
                raise ValueError(f"empty table with unknown schema: {self.path}")
            return self.spark.createDataFrame([], schema)
        files = m["files"]
        if bucket is not None:
            parts = m.get("parts", {})
            files = [f for f in files if parts.get(f) == bucket]
            if not files:
                return self.spark.createDataFrame([], self.schema())
        return self._read_files(files)

    def files_for_bucket(self, bucket: int, version: int | None = None) -> list[str]:
        m = self.manifest(version) or {"files": [], "parts": {}}
        parts = m.get("parts", {})
        return [f for f in m["files"] if parts.get(f) == bucket]

    def read_delta(self, version: int) -> DataFrame:
        """Only the files added by commit ``version`` (one round's batch)."""
        m = self.manifest(version)
        if m is None:
            raise ValueError(f"no snapshot v{version} in {self.path}")
        added = m.get("added", m["files"])
        if not added:
            return self.spark.createDataFrame([], self.schema())
        return self._read_files(added)

    def _read_files(self, files: list[str]) -> DataFrame:
        """Read with the committed schema: without one, Spark runs a
        schema-inference job on every read.  (A snapshot of more files
        than ``spark.sql.sources.parallelPartitionDiscovery.threshold``
        still pays Spark's parallel file-listing job.)"""
        schema = self.schema()
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        return reader.parquet(*files)
