"""Engine configuration."""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class BloomConfig:
    enabled: bool = True
    # total bits across shards; sized for expected keys at ~1% FP:
    # bits ~= 9.6 * n_keys.  Advisory prefilter only (J2): false positives
    # fall through to the exact anti-join, false negatives are impossible
    # for inserted keys.
    n_bits: int = 1 << 20
    n_hashes: int = 7
    n_shards: int = 16  # shard the bit-space; per-shard arrays merge cheaply
    # "broadcast": whole Bloom filter broadcast, membership map-side
    # (right while the filter fits an executor, <~1 GB).  "cuckoo": the
    # scale mode — per-shard cuckoo filter files co-partitioned with the
    # key space (cuckoo.PartitionedCuckoo), built and probed
    # executor-side on single shards so the filter never sits on one
    # node, and supporting per-key DELETE for TTL re-crawl (n_bits is
    # reinterpreted as a 16-bit-slot budget).  Any other value is an
    # error.  Both modes are size-gated: the engine neither probes nor
    # updates the filter while the seen table fits Spark's broadcast
    # threshold (spark.sql.adaptive.autoBroadcastJoinThreshold, else
    # spark.sql.autoBroadcastJoinThreshold; -1 = always filter) and
    # builds it from the seen table the first round it does not.
    mode: str = "broadcast"
    # saturation guard: when the filter's estimated false-positive rate
    # (from its insertion count) exceeds this, the engine BYPASSES the
    # prefilter for the round — the exact anti-join is unaffected, but a
    # saturated filter's probe is pure overhead that prunes nothing
    # (measured ~45% of round wall-time at fpp~1.0).  At 0.25 the probe
    # still prunes >=75% of the certain-new majority.  Broadcast mode
    # only, and only once the size gate has built the filter; cuckoo signals
    # fullness by failing inserts instead of degrading.
    max_fpp: float = 0.25


@dataclass
class EngineConfig:
    run_dir: str
    # parquet path, or "table:<name>" for a catalog table (e.g. a store
    # registered bucketed on image_id so the fetch join skips its shuffle)
    store_path: str
    # "unlimited" reproduces the reference's semantics at the ordering
    # level (whole BFS level per round); "per_host" enforces the
    # north-rule politeness budget (robots crawl-delay -> fetches/round).
    budget_mode: str = "unlimited"
    tick_seconds: float = 1.0  # wall-clock a round represents (politeness)
    default_crawl_delay: float = 1.0  # reference: 1 req/s (main_functions.go:39)
    robots_path: str | None = None  # parquet of (host, rule_prefix, allow, crawl_delay)
    bloom: BloomConfig = field(default_factory=BloomConfig)
    salt_buckets: int = 8  # host-hash salt fan-out for hot-host windows
    host_buckets: int = 16  # storage host-hash buckets for the trace table (D5)
    seq_window_threshold: int = 200_000  # above this, distributed seq assignment
    seq_partitions: int = 32
    broadcast_store: bool = False  # hint the store side of the fetch join
    max_rounds: int | None = None
    # every k rounds, compact the trace/seen/metrics snapshot tables
    # (Iceberg rewrite_data_files-shaped).  A crawl appends one small
    # file batch per table per round; at 10^10-frontier scale that is
    # thousands of files whose open/footer cost dominates the per-round
    # anti-join read.  Compaction commits are ordinary snapshots, so
    # exact resume across them is unchanged.  None = never.
    compact_every: int | None = None
