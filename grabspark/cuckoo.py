"""J2 scale mode — partitioned cuckoo URL-seen filter (north-rule extension).

The north rule names a "partitioned Bloom/cuckoo URL-seen filter".  The
broadcast Bloom (``bloom.ShardedBloom``) covers the filter that fits an
executor; past that, this cuckoo filter (Fan, Andersen, Kaminsky,
Mitzenmacher, "Cuckoo Filter: Practically Better Than Bloom", CoNEXT
2014 — public paper) is the one partitioned mode.  It buys the one
capability Bloom fundamentally lacks: **deletion**.  A crawl that
re-crawls on TTL must remove expired URLs from the seen side; with Bloom
that means rebuilding the filter, with cuckoo it is a per-key delete
that mirrors the snapshot table's ``delete_where``.

Shape (standard cuckoo, sharded):

* each key routes to exactly one shard (``shard_of``, a hash independent
  of the fingerprint/bucket pair), so build and probe touch one shard
  per key and nothing ever holds, broadcasts or ships the whole filter;
* a shard is a ``(n_buckets, bucket_size)`` uint16 table of 16-bit
  fingerprints (0 = empty). fp and both candidate buckets derive from
  the key's stable siphashes; ``i2 = i1 XOR h(fp)`` (partial-key
  cuckooing — the alternate bucket is computable from (bucket, fp)
  alone, which is what makes eviction and deletion possible);
* insert: place in a free slot of i1/i2, else displace a resident
  fingerprint to ITS alternate bucket (bounded kick chain).  Build is
  sequential per shard — the price of deletability vs Bloom's
  commutative OR — but shards build in parallel executor-side;
* delete: remove ONE matching fingerprint from i1/i2.  Safe for any
  key that was actually inserted: two distinct keys colliding in both
  fingerprint and bucket pair occupy two slots, so deleting one leaves
  the other's membership intact (multiset semantics);
* contains: fingerprint present in bucket i1 or i2 — fully vectorized
  numpy (no per-key loop on the probe path); ``partitioned_prefilter``
  repartitions the probed rows on the same shard routing, so each task
  loads only its own shard files.

Membership is insertion-order independent (eviction only ever moves a
fingerprint between its two legal buckets), so query results are
deterministic even though shard file bytes may differ run-to-run.
False-positive rate ~ 2*bucket_size / 2^16 (~0.012% at bucket_size 4);
false negatives are impossible for inserted-and-not-deleted keys.

Versioned {shard: filename} manifests ``manifest-v{N}.json`` give
immutable files + rollback for exact resume (Iceberg-style data/metadata
split); ``CURRENT`` is a symlink to the committed manifest, swapped by
the same pointer protocol as the snapshot tables
(``snapshots.swap_current``).  The driver only ever sees shard ids and
filenames.
"""

from __future__ import annotations

import json
import os
import uuid
from typing import Iterator

import numpy as np
import pandas as pd
from pandas.util import hash_array
from pyspark.sql import functions as F

from .bloom import key_hashes
from .snapshots import current_version, swap_current

BUCKET_SIZE = 4
MAX_KICKS = 500
_FP_MULT = np.uint64(0x5BD1E995)  # small odd multiplier for the fp hash
_HKS = "grabspark-shard0"  # 16-byte hash key for shard routing


def shard_of(keys: pd.Series, n_shards: int) -> np.ndarray:
    """Key -> owning shard (independent hash from the fingerprint/bucket
    pair, so shard routing doesn't bias in-shard positions)."""
    arr = keys.astype(str).to_numpy(dtype=object)
    return (hash_array(arr, hash_key=_HKS, categorize=False) % np.uint64(n_shards)).astype(
        np.int64
    )


def _shard_udf(n_shards: int):
    return F.pandas_udf(lambda s: pd.Series(shard_of(s, n_shards)), "long")


def _fp_and_buckets(keys: pd.Series, n_buckets: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(fingerprint, bucket1, bucket2) per key; n_buckets must be a
    power of two so i1 ^ h(fp) is an involution (i1 <-> i2)."""
    h1, h2 = key_hashes(keys)
    fp = (h2 & np.uint64(0xFFFF)).astype(np.uint16)
    fp[fp == 0] = 1  # 0 is the empty-slot sentinel
    mask = np.uint64(n_buckets - 1)
    i1 = (h1 & mask).astype(np.int64)
    i2 = (i1.astype(np.uint64) ^ ((fp.astype(np.uint64) * _FP_MULT) & mask)).astype(np.int64)
    return fp, i1, i2


def _alt_bucket(bucket: int, fp: int, n_buckets: int) -> int:
    return int(np.uint64(bucket) ^ ((np.uint64(fp) * _FP_MULT) & np.uint64(n_buckets - 1)))


def _insert_into(table: np.ndarray, fp: np.ndarray, i1: np.ndarray, i2: np.ndarray) -> int:
    """Sequential cuckoo insertion of all keys into one shard table
    (mutates ``table``); returns the number of failed insertions (shard
    over capacity — size shards with headroom so this stays 0)."""
    n_buckets = table.shape[0]
    failed = 0
    for k in range(len(fp)):
        f, b1, b2 = int(fp[k]), int(i1[k]), int(i2[k])
        placed = False
        for b in (b1, b2):
            row = table[b]
            empties = np.flatnonzero(row == 0)
            if len(empties):
                row[empties[0]] = f
                placed = True
                break
        if placed:
            continue
        # kick chain: displace a resident fp to its alternate bucket
        b, cur = b1, f
        for kick in range(MAX_KICKS):
            # victim slot varies with the in-flight fingerprint, not just
            # the kick counter: a pure kick%4 policy revisits buckets with
            # a period-4 slot pattern and can walk short cycles to
            # exhaustion at high load; mixing cur decorrelates the walk
            # (deterministic, so task retries replay identically)
            slot = (cur + kick) % BUCKET_SIZE
            victim = int(table[b, slot])
            table[b, slot] = cur
            cur = victim
            b = _alt_bucket(b, cur, n_buckets)
            row = table[b]
            empties = np.flatnonzero(row == 0)
            if len(empties):
                row[empties[0]] = cur
                placed = True
                break
        if not placed:
            failed += 1
    return failed


def _delete_from(table: np.ndarray, fp: np.ndarray, i1: np.ndarray, i2: np.ndarray) -> int:
    """Remove ONE copy of each key's fingerprint from its bucket pair;
    returns the number of keys with no matching fingerprint (deleting a
    never-inserted key — a caller bug, reported not silently ignored)."""
    missing = 0
    for k in range(len(fp)):
        f = int(fp[k])
        for b in (int(i1[k]), int(i2[k])):
            slots = np.flatnonzero(table[b] == f)
            if len(slots):
                table[b, slots[0]] = 0
                break
        else:
            missing += 1
    return missing


def _contains_in(table: np.ndarray, fp: np.ndarray, i1: np.ndarray, i2: np.ndarray) -> np.ndarray:
    """Vectorized membership: fp present in bucket i1 or i2."""
    f = fp[:, None]
    return (table[i1] == f).any(axis=1) | (table[i2] == f).any(axis=1)


class PartitionedCuckoo:
    """A cuckoo filter split into ``n_shards`` independent per-shard
    fingerprint tables with a data/metadata split: executor tasks write
    immutable shard .npy files, the driver commits only {shard: filename}
    manifests.  Capacity per shard is
    ``n_buckets * BUCKET_SIZE`` slots; keep load under ~0.95."""

    def __init__(self, dirpath: str, n_buckets: int = 1 << 12, n_shards: int = 16):
        assert n_buckets & (n_buckets - 1) == 0, "n_buckets must be a power of two"
        self.dirpath = dirpath
        self.n_buckets = int(n_buckets)
        self.n_shards = int(n_shards)

    # -- manifest plumbing ---------------------------------------------------

    def _manifest_path(self, v: int) -> str:
        return os.path.join(self.dirpath, f"manifest-v{v}.json")

    def current_version(self) -> int | None:
        return current_version(self.dirpath)

    def manifest(self, version: int | None = None) -> dict | None:
        v = self.current_version() if version is None else version
        if v is None:
            return None
        with open(self._manifest_path(v)) as f:
            return json.load(f)

    def shard_files(self, version: int | None = None) -> dict[int, str]:
        m = self.manifest(version)
        if m is None:
            return {}
        return {int(s): os.path.join(self.dirpath, "files", f) for s, f in m["shards"].items()}

    def _commit(self, shards: dict[int, str], parent: int | None) -> int:
        v = 0 if parent is None else parent + 1
        m = {
            "version": v,
            "parent": parent,
            "n_buckets": self.n_buckets,
            "n_shards": self.n_shards,
            "bucket_size": BUCKET_SIZE,
            "shards": {str(s): f for s, f in sorted(shards.items())},
        }
        with open(self._manifest_path(v), "w") as f:
            json.dump(m, f)
        swap_current(self.dirpath, f"manifest-v{v}.json")
        return v

    def create(self) -> int:
        os.makedirs(os.path.join(self.dirpath, "files"), exist_ok=True)
        if self.current_version() is None:
            return self._commit({}, None)
        return self.current_version()

    def rollback(self, version: int) -> int:
        m = self.manifest(version)
        if m is None:
            raise ValueError(f"no PartitionedCuckoo manifest v{version} in {self.dirpath}")
        cur = self.current_version()
        if cur == version:
            return cur
        return self._commit({int(s): f for s, f in m["shards"].items()}, cur)

    @classmethod
    def load(cls, dirpath: str) -> "PartitionedCuckoo":
        with open(os.path.join(dirpath, "CURRENT")) as f:
            m = json.load(f)
        return cls(dirpath, m["n_buckets"], m["n_shards"])

    # -- distributed update / delete ----------------------------------------

    def _apply(self, keys_df, key_col: str, op: str) -> int:
        """One shuffle (repartition by shard); each task loads its shards'
        parent files, inserts or deletes its keys, writes new immutable
        files; the driver commits the manifest."""
        parent = self.current_version()
        if parent is None:
            parent = self.create()
        parent_files = {s: os.path.basename(p) for s, p in self.shard_files(parent).items()}
        files_dir = os.path.join(self.dirpath, "files")
        n_buckets, n_shards = self.n_buckets, self.n_shards
        pf = dict(parent_files)

        def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            tables: dict[int, np.ndarray] = {}
            bad = 0
            for pdf in it:
                if not len(pdf):
                    continue
                keys = pdf[key_col]
                shards = pdf["_shard"].to_numpy()
                fp, i1, i2 = _fp_and_buckets(keys, n_buckets)
                for s in np.unique(shards):
                    s = int(s)
                    t = tables.get(s)
                    if t is None:
                        prev = pf.get(s)
                        if prev is not None:
                            t = np.load(os.path.join(files_dir, prev)).copy()
                        else:
                            t = np.zeros((n_buckets, BUCKET_SIZE), dtype=np.uint16)
                        tables[s] = t
                    m = shards == s
                    if op == "insert":
                        bad += _insert_into(t, fp[m], i1[m], i2[m])
                    else:
                        bad += _delete_from(t, fp[m], i1[m], i2[m])
            out_shards, out_files = [], []
            for s, t in tables.items():
                fname = f"s{s}-{uuid.uuid4().hex}.npy"
                np.save(os.path.join(files_dir, fname), t)
                out_shards.append(s)
                out_files.append(fname)
            if out_shards or bad:
                yield pd.DataFrame(
                    {"shard": out_shards + [-1] * (1 if bad else 0),
                     "file": out_files + [str(bad)] * (1 if bad else 0)}
                )

        touched = (
            keys_df.select(F.col(key_col))
            .withColumn("_shard", _shard_udf(n_shards)(F.col(key_col)))
            .repartition(n_shards, "_shard")
            .mapInPandas(gen, schema="shard long, file string")
            .collect()  # tiny: (shard id, filename) rows only — no table bytes
        )
        bad_total = sum(int(r["file"]) for r in touched if r["shard"] == -1)
        if bad_total:
            raise RuntimeError(
                f"cuckoo {op} failed for {bad_total} keys "
                f"(shard over capacity or delete of a never-inserted key)"
            )
        shards = dict(parent_files)
        for row in touched:
            if row["shard"] >= 0:
                shards[int(row["shard"])] = row["file"]
        return self._commit(shards, parent)

    def update(self, keys_df, key_col: str) -> int:
        return self._apply(keys_df, key_col, "insert")

    def delete(self, keys_df, key_col: str) -> int:
        return self._apply(keys_df, key_col, "delete")

    # -- map-side probe ------------------------------------------------------

    def make_contains(self, spark):
        """Arrow membership UDF reading per-shard files lazily with the
        process-level cache; pair with a shard repartition
        (``partitioned_prefilter``) so each worker loads only the shards
        co-partitioned with its rows.  ``._bc`` is the payload broadcast,
        exposed so long-lived callers can destroy stale rounds."""
        from pyspark.sql.types import BooleanType

        files = {s: os.path.basename(p) for s, p in self.shard_files().items()}
        payload = {
            "files_dir": os.path.join(self.dirpath, "files"),
            "files": files,
            "n_buckets": self.n_buckets,
            "n_shards": self.n_shards,
        }
        bc = spark.sparkContext.broadcast(payload)

        @F.pandas_udf(BooleanType())
        def contains(keys: pd.Series) -> pd.Series:
            p = bc.value
            cache = _shard_cache()
            shards = shard_of(keys, p["n_shards"])
            fp, i1, i2 = _fp_and_buckets(keys, p["n_buckets"])
            hit = np.zeros(len(keys), dtype=bool)
            for s in np.unique(shards):
                s = int(s)
                fname = p["files"].get(str(s), p["files"].get(s))
                if fname is None:
                    continue  # empty shard: definitely not present
                path = os.path.join(p["files_dir"], fname)
                table = cache.get(path)
                if table is None:
                    table = np.load(path)
                    cache[path] = table
                m = shards == s
                hit[m] = _contains_in(table, fp[m], i1[m], i2[m])
            return pd.Series(hit)

        contains._bc = bc
        return contains

    @classmethod
    def sized_for_bits(cls, dirpath: str, n_bits: int, n_shards: int) -> "PartitionedCuckoo":
        """Size from a BloomConfig-style bit budget: 16-bit slots, so
        n_bits/16 total slots, rounded up to power-of-two buckets per
        shard (target load stays under ~0.95 when keys ~ n_bits/9.6·0.6
        — comfortably below slot capacity for any Bloom-sized budget)."""
        slots = max(n_bits // 16, BUCKET_SIZE * n_shards)
        per_shard_buckets = max(-(-slots // (BUCKET_SIZE * n_shards)), 1)
        n_buckets = 1 << (per_shard_buckets - 1).bit_length()
        return cls(dirpath, n_buckets=n_buckets, n_shards=n_shards)

    def load_factor(self) -> float:
        used = total = 0
        for path in self.shard_files().values():
            t = np.load(path)
            used += int((t != 0).sum())
            total += t.size
        return used / total if total else 0.0


_SHARD_CACHE: dict = {}


def _shard_cache(max_entries: int = 256) -> dict:
    """Per-Python-worker cache of immutable shard files (worker reuse
    keeps it warm across batches/rounds)."""
    if len(_SHARD_CACHE) > max_entries:
        _SHARD_CACHE.clear()
    return _SHARD_CACHE


def partitioned_prefilter(df, key_expr, contains, n_shards: int, out_col: str = "_maybe_seen"):
    """Tag rows with filter membership (``contains`` from
    ``PartitionedCuckoo.make_contains``), co-partitioned with the filter:
    repartition on the shard of the key (the same routing the build
    used), so each task probes only its own shards (map-side, no
    broadcast of the filter)."""
    return (
        df.withColumn("_bloom_key", key_expr)
        .withColumn("_shard", _shard_udf(n_shards)(F.col("_bloom_key")))
        .repartition(n_shards, "_shard")
        .withColumn(out_col, contains(F.col("_bloom_key")))
        .drop("_bloom_key", "_shard")
    )
