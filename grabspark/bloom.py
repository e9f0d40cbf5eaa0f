"""J2 — sharded Bloom URL-seen prefilter (north-rule extension).

Advisory prefilter in front of the exact seen anti-join (J1): rows whose
key is definitely-not-seen skip the anti-join entirely (at scale: skip
the shuffle of the certain-new majority); "maybe seen" rows still flow
through the exact anti-join, so false positives can never drop URLs and
false negatives are impossible for inserted keys (SURVEY.md §2.7 J2).

Representation: the bit space is split into ``n_shards`` independent
numpy bit arrays.  Build is distributed — each partition emits its
partial per-shard bitmaps via mapInPandas, the driver ORs them (bitmap
OR is associative/commutative, so merge order is irrelevant) — and
membership runs map-side from a broadcast.  This is BloomConfig
mode="broadcast", right while the filter fits an executor; past that the
scale mode is the per-shard-file cuckoo filter (``cuckoo.py``).

Hashing: pandas' stable siphash (``pandas.util.hash_array``) with two
fixed hash keys, combined by double hashing — vectorized, deterministic
across processes/runs, no per-row Python.
"""

from __future__ import annotations

import os
from typing import Iterator

import numpy as np
import pandas as pd
from pandas.util import hash_array
from pyspark.sql import functions as F

_HK1 = "grabspark-hash-1"  # hash_key must be exactly 16 bytes
_HK2 = "grabspark-hash-2"


def key_hashes(keys: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    arr = keys.astype(str).to_numpy(dtype=object)
    h1 = hash_array(arr, hash_key=_HK1, categorize=False)
    h2 = hash_array(arr, hash_key=_HK2, categorize=False)
    return h1, h2 | np.uint64(1)  # odd step so double-hash cycles the space


class ShardedBloom:
    """Flat bitmap internally (vectorized O(n*k) membership with direct
    byte indexing — no per-shard loop); ``shards`` exposes equal-sized
    contiguous views for distributed build / merge / persistence."""

    def __init__(self, n_bits: int = 1 << 20, n_hashes: int = 7, n_shards: int = 16):
        assert n_bits % (8 * n_shards) == 0
        self.n_bits = int(n_bits)
        self.n_hashes = int(n_hashes)
        self.n_shards = int(n_shards)
        self.shard_bits = self.n_bits // self.n_shards
        self._bits = np.zeros(self.n_bits // 8, dtype=np.uint8)
        # insertions-so-far (upper bound of distinct keys: re-inserted keys
        # count again), maintained across add/merge/save/load so est_fpp()
        # is O(1) — the saturation signal a fixed-size filter needs at
        # scale (an overfull Bloom silently degrades to fpp ~1.0: every
        # probe then costs hash work and prunes nothing)
        self.n_inserted = 0

    @property
    def shards(self) -> list[np.ndarray]:
        sb = self.shard_bits // 8
        return [self._bits[i * sb : (i + 1) * sb] for i in range(self.n_shards)]

    @shards.setter
    def shards(self, arrays: list[np.ndarray]) -> None:
        self._bits = np.concatenate([np.asarray(a, dtype=np.uint8) for a in arrays])
        assert self._bits.size == self.n_bits // 8

    # -- positions -----------------------------------------------------------

    def _positions(self, keys: pd.Series) -> np.ndarray:
        """(n_hashes, n_keys) flat bit positions via double hashing —
        per-hash in-place ops, no large broadcast temporaries."""
        h1, h2 = key_hashes(keys)
        out = np.empty((self.n_hashes, len(h1)), dtype=np.uint64)
        nb = np.uint64(self.n_bits)
        for i in range(self.n_hashes):
            np.multiply(h2, np.uint64(i), out=out[i])
            out[i] += h1
            out[i] %= nb
        return out

    # -- local ops -----------------------------------------------------------

    def add(self, keys: pd.Series) -> None:
        if len(keys) == 0:
            return
        self.n_inserted += int(len(keys))
        pos = self._positions(keys).ravel()
        np.bitwise_or.at(
            self._bits, (pos >> np.uint64(3)).astype(np.int64), (1 << (pos & np.uint64(7))).astype(np.uint8)
        )

    def contains(self, keys: pd.Series) -> np.ndarray:
        if len(keys) == 0:
            return np.zeros(0, dtype=bool)
        pos = self._positions(keys)  # (k, n)
        hit = np.ones(pos.shape[1], dtype=bool)
        for i in range(self.n_hashes):
            p = pos[i]
            hit &= (
                self._bits[(p >> np.uint64(3)).astype(np.int64)]
                & (1 << (p & np.uint64(7))).astype(np.uint8)
            ) != 0
        return hit

    def or_merge(self, other: "ShardedBloom") -> None:
        assert (other.n_bits, other.n_shards) == (self.n_bits, self.n_shards)
        self.n_inserted += other.n_inserted
        np.bitwise_or(self._bits, other._bits, out=self._bits)

    def fill_ratio(self) -> float:
        return int(np.unpackbits(self._bits).sum()) / self.n_bits

    def est_fpp(self) -> float:
        """Analytic false-positive estimate from the insertion count:
        (1 - e^{-k n / m})^k.  n counts insertions, not distinct keys, so
        the estimate is conservative (>= the true fpp) — the right bias
        for a bypass decision.  O(1): no bit scan."""
        return est_bloom_fpp(self.n_inserted, self.n_bits, self.n_hashes)

    # -- persistence (resume) ------------------------------------------------

    def save(self, dirpath: str) -> None:
        os.makedirs(dirpath, exist_ok=True)
        np.savez_compressed(
            os.path.join(dirpath, "bloom.npz"),
            meta=np.array(
                [self.n_bits, self.n_hashes, self.n_shards, self.n_inserted], dtype=np.int64
            ),
            **{f"s{i}": sh for i, sh in enumerate(self.shards)},
        )

    @classmethod
    def load(cls, dirpath: str) -> "ShardedBloom":
        z = np.load(os.path.join(dirpath, "bloom.npz"))
        meta = [int(x) for x in z["meta"]]
        n_bits, n_hashes, n_shards = meta[:3]
        b = cls(n_bits, n_hashes, n_shards)
        b.n_inserted = meta[3] if len(meta) > 3 else 0  # pre-count snapshots
        b.shards = [z[f"s{i}"].copy() for i in range(n_shards)]
        return b


def est_bloom_fpp(n_inserted: int, n_bits: int, n_hashes: int) -> float:
    """Standard Bloom fpp model (1 - e^{-kn/m})^k."""
    return (1.0 - float(np.exp(-n_hashes * n_inserted / n_bits))) ** n_hashes


def bloom_bits_for(n_keys: int, bits_per_key: float = 10.0, floor_bits: int = 1 << 20) -> int:
    """Filter size for an expected key count: next power of two >=
    bits_per_key * n_keys (~1% fpp at 10 bits/key with k=7).  Sizing by
    key count is not optional at scale — a filter built for 2^26 bits
    saturates at ~10^7 keys and every probe beyond that is pure overhead
    (measured: a 64M-key round against a 2^26-bit filter spent ~45% of
    its wall time on a probe that pruned nothing)."""
    want = max(int(bits_per_key * max(n_keys, 1)), floor_bits)
    return 1 << (want - 1).bit_length()


# -- broadcast membership ----------------------------------------------------

def make_might_contain(spark, bl: "ShardedBloom"):
    """Broadcast the filter once and return an Arrow-batched membership
    UDF.  Reconstruction on the worker is zero-copy (frombuffer over the
    broadcast bytes)."""
    from pyspark.sql.types import BooleanType

    payload = {"meta": (bl.n_bits, bl.n_hashes, bl.n_shards), "bits": bl._bits.tobytes()}
    bc = spark.sparkContext.broadcast(payload)

    @F.pandas_udf(BooleanType())
    def might(keys: pd.Series) -> pd.Series:
        import numpy as np

        p = bc.value
        b = ShardedBloom(*p["meta"])
        b._bits = np.frombuffer(p["bits"], dtype=np.uint8)
        return pd.Series(b.contains(keys))

    might._bc = bc  # exposed so long-lived callers can destroy stale rounds
    return might


# -- distributed build -------------------------------------------------------

def build_partials(keys_df, key_col: str, n_bits: int, n_hashes: int, n_shards: int):
    """mapInPandas stage: per input partition, emit (shard, bits) partial
    bitmaps.  Driver ORs them into the cumulative filter."""

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        local = ShardedBloom(n_bits, n_hashes, n_shards)
        any_rows = False
        for pdf in it:
            if len(pdf):
                any_rows = True
                local.add(pdf[key_col])
        if any_rows:
            yield pd.DataFrame(
                {
                    "shard": list(range(n_shards)),
                    "bits": [sh.tobytes() for sh in local.shards],
                    # key count rides the first shard row only (the merge
                    # sums n_keys across partials)
                    "n_keys": [local.n_inserted] + [0] * (n_shards - 1),
                }
            )

    return keys_df.select(key_col).mapInPandas(
        gen, schema="shard int, bits binary, n_keys long"
    )


def merge_partials_into(bloom: ShardedBloom, partial_rows: list) -> None:
    for row in partial_rows:
        arr = np.frombuffer(row["bits"], dtype=np.uint8)
        np.bitwise_or(bloom.shards[row["shard"]], arr, out=bloom.shards[row["shard"]])
        bloom.n_inserted += int(getattr(row, "n_keys", 0) or 0)


def reduce_partials(partials_df):
    """Executor-side OR-merge of build_partials output: one row per
    shard, so a driver collect receives exactly n_bits/8 bytes TOTAL
    regardless of how many input partitions built partials.  Without
    this, collecting raw partials ships (n_partitions x n_bits/8) bytes
    to the driver — at 64M keys x 256 partitions that is ~20 GB and
    trips spark.driver.maxResultSize.  A partial is n_bits/8 bytes
    however few keys its partition held, so a per-round update over a
    handful of new keys needs this as much as a full build: 16 host
    buckets x a 2^30-bit filter is 2 GiB raw."""
    import pandas as pd

    def _or_group(pdf: pd.DataFrame) -> pd.DataFrame:
        acc = None
        for b in pdf["bits"]:
            arr = np.frombuffer(b, dtype=np.uint8)
            acc = arr.copy() if acc is None else np.bitwise_or(acc, arr, out=acc)
        return pd.DataFrame(
            {
                "shard": [int(pdf["shard"].iloc[0])],
                "bits": [acc.tobytes()],
                "n_keys": [int(pdf["n_keys"].sum())],
            }
        )

    return partials_df.groupBy("shard").applyInPandas(
        _or_group, schema="shard int, bits binary, n_keys long"
    )
