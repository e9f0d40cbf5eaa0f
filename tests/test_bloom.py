"""J2 Bloom: no false negatives ever, bounded false positives, merge
associativity, persistence round-trip, distributed build equivalence."""

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from grabspark.bloom import ShardedBloom, build_partials, merge_partials_into


@given(st.lists(st.text(min_size=1, max_size=40), min_size=1, max_size=300, unique=True))
@settings(max_examples=50, deadline=None)
def test_no_false_negatives(keys):
    bl = ShardedBloom(n_bits=1 << 14, n_hashes=5, n_shards=8)
    bl.add(pd.Series(keys))
    assert bl.contains(pd.Series(keys)).all()


def test_false_positive_rate_bounded():
    bl = ShardedBloom(n_bits=1 << 17, n_hashes=7, n_shards=16)
    inserted = [f"key-{i}" for i in range(10_000)]
    bl.add(pd.Series(inserted))
    probe = pd.Series([f"other-{i}" for i in range(20_000)])
    fp = bl.contains(probe).mean()
    # theoretical ~ (1 - e^{-kn/m})^k ≈ 0.9% for n=10k, m=128k bits, k=7
    assert fp < 0.05, fp


def test_merge_equals_bulk_add():
    a = ShardedBloom(n_bits=1 << 12, n_hashes=4, n_shards=4)
    b = ShardedBloom(n_bits=1 << 12, n_hashes=4, n_shards=4)
    both = ShardedBloom(n_bits=1 << 12, n_hashes=4, n_shards=4)
    k1 = [f"a{i}" for i in range(100)]
    k2 = [f"b{i}" for i in range(100)]
    a.add(pd.Series(k1))
    b.add(pd.Series(k2))
    both.add(pd.Series(k1 + k2))
    a.or_merge(b)
    assert np.array_equal(a._bits, both._bits)


def test_save_load_roundtrip(tmp_path):
    bl = ShardedBloom(n_bits=1 << 12, n_hashes=4, n_shards=4)
    bl.add(pd.Series([f"k{i}" for i in range(50)]))
    bl.save(str(tmp_path / "b"))
    got = ShardedBloom.load(str(tmp_path / "b"))
    assert np.array_equal(bl._bits, got._bits)
    assert (got.n_bits, got.n_hashes, got.n_shards) == (bl.n_bits, bl.n_hashes, bl.n_shards)


def test_distributed_build_matches_local(spark):
    keys = [f"url-{i}" for i in range(2000)]
    df = spark.createDataFrame([(k,) for k in keys], ["k"]).repartition(6)
    partials = build_partials(df, "k", 1 << 14, 5, 8).collect()
    dist = ShardedBloom(1 << 14, 5, 8)
    merge_partials_into(dist, partials)
    local = ShardedBloom(1 << 14, 5, 8)
    local.add(pd.Series(keys))
    assert np.array_equal(dist._bits, local._bits)


def test_contains_speed():
    """The membership probe must stay vectorized: 500k keys in well under
    a second of driver time (regression guard for the per-shard loop)."""
    import time

    bl = ShardedBloom(n_bits=1 << 22, n_hashes=7, n_shards=64)
    bl.add(pd.Series([f"k{i}" for i in range(50_000)]))
    probe = pd.Series([f"p{i}" for i in range(500_000)])
    # warm-up absorbs sandbox CPU-throttle ramp (first numpy burst after
    # idle can be ~100x slower than steady state on this box)
    bl.contains(probe.head(10_000))
    # best-of-3: hypervisor-steal bursts on this box can stall ANY python
    # for minutes (one full-suite run measured 178s for this probe, then
    # 0.3s in isolation); the regression this guards — a per-shard python
    # loop — is slow on EVERY attempt, so the minimum is the honest signal
    best = min(_timed_contains(bl, probe) for _ in range(3))
    # steady-state ~0.3s; the per-shard loop this guards against took ~17s
    assert best < 8.0


def _timed_contains(bl, probe):
    import time

    t0 = time.time()
    bl.contains(probe)
    return time.time() - t0


# -- partitioned mode (J2 scale path: the cuckoo filter) --------------------


def _probe(spark, pc, df):
    from pyspark.sql import functions as F

    from grabspark.cuckoo import partitioned_prefilter

    out = partitioned_prefilter(df, F.col("k"), pc.make_contains(spark), pc.n_shards, out_col="m")
    return {r.k: r.m for r in out.collect()}


def test_partitioned_no_false_negatives_and_probe(spark, tmp_path):
    """Every inserted key must probe true through the shard-co-partitioned
    path; un-inserted keys mostly probe false (advisory prefilter)."""
    from grabspark.cuckoo import PartitionedCuckoo

    pc = PartitionedCuckoo(str(tmp_path / "pc"), n_buckets=1 << 8, n_shards=8)
    pc.create()
    ins = spark.createDataFrame([(f"k{i}",) for i in range(1500)], ["k"]).repartition(6)
    v1 = pc.update(ins, "k")
    assert v1 == 1 and len(pc.shard_files()) > 0

    probe = spark.createDataFrame(
        [(f"k{i}",) for i in range(1500)] + [(f"x{i}",) for i in range(1500)], ["k"]
    )
    rows = _probe(spark, pc, probe)
    assert all(rows[f"k{i}"] for i in range(1500)), "false negative!"
    fp = sum(1 for i in range(1500) if rows[f"x{i}"]) / 1500
    assert fp < 0.2


def test_partitioned_incremental_update_and_rollback(spark, tmp_path):
    from grabspark.cuckoo import PartitionedCuckoo

    pc = PartitionedCuckoo(str(tmp_path / "pc2"), n_buckets=1 << 8, n_shards=8)
    pc.create()
    a = spark.createDataFrame([(f"a{i}",) for i in range(300)], ["k"])
    b = spark.createDataFrame([(f"b{i}",) for i in range(300)], ["k"])
    v1 = pc.update(a, "k")
    v2 = pc.update(b, "k")
    assert (v1, v2) == (1, 2)

    probe = spark.createDataFrame([("a0",), ("b0",)], ["k"])
    assert _probe(spark, pc, probe) == {"a0": True, "b0": True}

    # rollback to v1: b-keys may flip back to definitely-not-seen
    pc.rollback(v1)
    assert _probe(spark, pc, probe)["a0"] is True

    pc2 = PartitionedCuckoo.load(str(tmp_path / "pc2"))
    assert (pc2.n_buckets, pc2.n_shards) == (1 << 8, 8)


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=30, deadline=None)
@given(
    keys=st.lists(st.text(min_size=1, max_size=40), min_size=1, max_size=200, unique=True),
    n_shards=st.sampled_from([4, 8, 16]),
)
def test_partitioned_shard_math_no_false_negatives(keys, n_shards):
    """Property: keys routed to their shard and inserted into that
    shard's local table ALWAYS probe true through the same math the
    executor-side build/probe kernels use (pure numpy, no Spark)."""
    from grabspark.cuckoo import BUCKET_SIZE, _contains_in, _fp_and_buckets, _insert_into, shard_of

    n_buckets = 1 << 6
    ser = pd.Series(keys)
    shards = shard_of(ser, n_shards)
    fp, i1, i2 = _fp_and_buckets(ser, n_buckets)
    tables = {s: np.zeros((n_buckets, BUCKET_SIZE), dtype=np.uint16) for s in range(n_shards)}
    for s in np.unique(shards):
        m = shards == s
        assert _insert_into(tables[int(s)], fp[m], i1[m], i2[m]) == 0
    # probe: every inserted key hits in its own shard
    for i, k in enumerate(keys):
        t = tables[int(shards[i])]
        assert _contains_in(t, fp[i : i + 1], i1[i : i + 1], i2[i : i + 1])[0], k
    # shard routing is deterministic across calls
    assert np.array_equal(shard_of(ser, n_shards), shards)


# -- saturation accounting (est_fpp / bloom_bits_for) -------------------------


def test_insert_count_tracks_adds_and_merge():
    a = ShardedBloom(n_bits=1 << 12, n_hashes=4, n_shards=4)
    b = ShardedBloom(n_bits=1 << 12, n_hashes=4, n_shards=4)
    a.add(pd.Series([f"a{i}" for i in range(100)]))
    b.add(pd.Series([f"b{i}" for i in range(40)]))
    a.or_merge(b)
    assert a.n_inserted == 140


def test_insert_count_survives_save_load(tmp_path):
    bl = ShardedBloom(n_bits=1 << 12, n_hashes=4, n_shards=4)
    bl.add(pd.Series([f"k{i}" for i in range(77)]))
    bl.save(str(tmp_path / "b"))
    got = ShardedBloom.load(str(tmp_path / "b"))
    assert got.n_inserted == 77
    assert got.est_fpp() == bl.est_fpp()


def test_est_fpp_brackets_measured_rate():
    bl = ShardedBloom(n_bits=1 << 17, n_hashes=7, n_shards=16)
    bl.add(pd.Series([f"key-{i}" for i in range(10_000)]))
    measured = bl.contains(pd.Series([f"other-{i}" for i in range(40_000)])).mean()
    est = bl.est_fpp()
    # analytic model within small-constant agreement of the measured rate
    assert measured / 3 <= est <= max(3 * measured, 0.02), (est, measured)


def test_est_fpp_saturates_to_one():
    bl = ShardedBloom(n_bits=1 << 10, n_hashes=7, n_shards=8)
    bl.add(pd.Series([f"k{i}" for i in range(5000)]))
    assert bl.est_fpp() > 0.99
    # and the filter really is useless now: ~every fresh key "hits"
    assert bl.contains(pd.Series([f"z{i}" for i in range(2000)])).mean() > 0.9


def test_distributed_build_carries_insert_count(spark):
    keys = [f"url-{i}" for i in range(2000)]
    df = spark.createDataFrame([(k,) for k in keys], ["k"]).repartition(6)
    partials = build_partials(df, "k", 1 << 14, 5, 8).collect()
    dist = ShardedBloom(1 << 14, 5, 8)
    merge_partials_into(dist, partials)
    assert dist.n_inserted == 2000


def test_bloom_bits_for_sizing():
    from grabspark.bloom import bloom_bits_for

    assert bloom_bits_for(16_000_000) == 1 << 28
    assert bloom_bits_for(64_000_000) == 1 << 30
    assert bloom_bits_for(10) == 1 << 20  # floor
    # sized filters stay useful: est fpp ~1% at the design load
    from grabspark.bloom import est_bloom_fpp

    assert est_bloom_fpp(64_000_000, bloom_bits_for(64_000_000), 7) < 0.02


def test_reduce_partials_matches_direct_merge(spark):
    """Executor-side per-shard OR-merge must produce the identical filter
    as collecting raw partials: same bitmaps, same key count."""
    from grabspark.bloom import reduce_partials

    df = spark.createDataFrame([(f"k{i}",) for i in range(500)], "k string").repartition(7)
    raw = build_partials(df, "k", 1 << 14, 5, 8)
    direct = ShardedBloom(1 << 14, 5, 8)
    merge_partials_into(direct, raw.collect())
    reduced = ShardedBloom(1 << 14, 5, 8)
    rows = reduce_partials(raw).collect()
    assert len(rows) == 8  # one row per shard
    merge_partials_into(reduced, rows)
    assert reduced.n_inserted == direct.n_inserted
    assert all(
        (a == b).all() for a, b in zip(reduced.shards, direct.shards)
    )
