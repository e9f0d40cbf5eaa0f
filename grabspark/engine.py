"""C1/C2 — the crawl driver loop: one DataFrame job per BFS round.

The reference crawls sequentially — pop head, sleep 1 s, dedupe, fetch,
push links (/root/reference/functions/main_functions.go:34-76), looping
seeds one after another with a fresh visited set each
(handlers/crawl.go:47-50).  This engine reproduces the *same total fetch
order and seen set* with a round-based dataflow: each round is one
declarative DataFrame job over the whole BFS level (all seeds progress
concurrently — ``seed_idx`` is part of every key, which reifies the
per-seed seen reset), and the sequential order is carried by ordering
columns ``(seed_idx, parent_seq, link_idx)`` rather than by sequential
execution (SURVEY.md §3.1).

Round dataflow:
    frontier_r
      -> A1 within-round first-occurrence dedupe        (groupBy + min_by)
      -> J2 seen filter (advisory), size-gated: skipped   (broadcast + Arrow UDF)
         while seen fits Spark's broadcast threshold,
         built once from seen when it first outgrows it
      -> J1 exact anti-join vs seen table                (left_anti)
      -> X3 robots filter + W1 per-host budget rank      (broadcast join + window)
      -> W2 fetch_seq assignment                         (window / distributed)
      -> J3 fetch lookup join + X4/X5 validate           (join + mapInPandas)
      -> append trace, append seen, update the seen filter (if built)
      -> X1/P4/P6 links -> frontier_{r+1} (+ deferred)   (explode + anti-join)
      -> A2 metrics, CK1 snapshot commit

Crash safety (CK1): the frontier overwrite is the atomic commit point;
its metadata pins the round number, per-seed sequence counters, and the
trusted versions of the other tables.  ``resume()`` rolls the other
tables back to those versions, reloads the Bloom snapshot, and continues
— a resumed run is bit-identical to an uninterrupted one (tested).
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from . import robots as robots_mod
from . import seq as seq_mod
from .bloom import ShardedBloom, build_partials, merge_partials_into, reduce_partials
from .config import EngineConfig
from .extract import FRONTIER_SCHEMA, dedupe_first_occurrence, links_to_frontier
from .fetch import fetch_and_validate
from .metrics import METRICS_SCHEMA, host_metrics, partition_lineage, round_counter_rows
from .seen import SEEN_SCHEMA
from .snapshots import SnapshotTable
from . import urlkit


_BYTE_UNITS = {"": 1, "b": 1, "k": 1 << 10, "kb": 1 << 10, "m": 1 << 20, "mb": 1 << 20,
               "g": 1 << 30, "gb": 1 << 30, "t": 1 << 40, "tb": 1 << 40,
               "p": 1 << 50, "pb": 1 << 50}


def broadcast_threshold(spark: SparkSession) -> int:
    """The size up to which Spark broadcasts a join side, in bytes: the
    AQE threshold when set, else the static one; -1 = broadcast off."""
    raw = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", None)
    if raw is None:
        raw = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    m = re.fullmatch(r"(-?)(\d+)([a-z]*)", raw.strip().lower())
    if m is None or m.group(3) not in _BYTE_UNITS:
        raise ValueError(f"unparsable broadcast threshold {raw!r}")
    return int(m.group(1) + m.group(2)) * _BYTE_UNITS[m.group(3)]


def _drain_futures(*futs) -> None:
    """Wait for overlapped round jobs on the failure path.  Their own
    exceptions are swallowed — the primary exception is the one that
    propagates; what matters is that NO commit is still in flight when
    the caller's retry/rollback touches the same tables."""
    for f in futs:
        if f is not None:
            try:
                f.result()
            except Exception:
                pass


@dataclass
class CrawlSummary:
    rounds: int
    fetched: int
    failed: int
    seen: int


class CrawlEngine:
    def __init__(self, spark: SparkSession, cfg: EngineConfig):
        from .session import attach_package

        if cfg.bloom.mode not in ("broadcast", "cuckoo"):
            raise ValueError(
                f"BloomConfig.mode must be 'broadcast' or 'cuckoo', got {cfg.bloom.mode!r}"
            )
        attach_package(spark)
        self.spark = spark
        self.cfg = cfg
        rd = cfg.run_dir
        self.frontier = SnapshotTable(spark, os.path.join(rd, "frontier"), FRONTIER_SCHEMA)
        self.seen = SnapshotTable(spark, os.path.join(rd, "seen"), SEEN_SCHEMA)
        from .fetch import TRACE_SCHEMA

        self.trace = SnapshotTable(
            spark, os.path.join(rd, "trace"), TRACE_SCHEMA, partition_col="host_bucket"
        )
        self.metrics = SnapshotTable(spark, os.path.join(rd, "metrics"), METRICS_SCHEMA)
        # "table:<name>" reads a catalog table — register the page store
        # as a bucketed table on image_id (bench_core.write_bucketed) and
        # the per-round fetch join reads it pre-partitioned, no exchange
        self.store = (
            spark.table(cfg.store_path[len("table:"):])
            if cfg.store_path.startswith("table:")
            else spark.read.parquet(cfg.store_path)
        )
        self.rules = (
            spark.read.parquet(cfg.robots_path) if cfg.robots_path else None
        )
        # the seen filter: broadcast Bloom (self.bloom) or, in mode
        # "cuckoo", the per-shard-file cuckoo filter (self.pbloom)
        self.bloom: ShardedBloom | None = None
        self.pbloom = None
        if cfg.bloom.enabled and cfg.bloom.mode == "cuckoo":
            from .cuckoo import PartitionedCuckoo

            # deletable seen filter: per-round inserts are globally
            # unique keys (post-anti-join), the cuckoo precondition
            self.pbloom = PartitionedCuckoo.sized_for_bits(
                os.path.join(rd, "cuckoo"), cfg.bloom.n_bits, cfg.bloom.n_shards
            )
        elif cfg.bloom.enabled:
            self.bloom = self._empty_bloom()
        self._bloom_bc = None  # previous round's probe broadcast (destroyed on reuse)
        # rounds where the saturation guard skipped the J2 probe (also
        # surfaced as the bloom_prefilter_bypassed metrics counter)
        self.prefilter_bypassed_rounds: list[int] = []
        # driver-side thread pool for overlapping the round's independent
        # Spark jobs (seen-filter update ∥ metrics ∥ frontier write) —
        # Spark schedules concurrent jobs from separate threads natively
        from concurrent.futures import ThreadPoolExecutor

        self._pool = ThreadPoolExecutor(max_workers=2, thread_name_prefix="grabspark-round")

    # -- lifecycle -----------------------------------------------------------

    def start(self, seeds: list[str]) -> CrawlSummary:
        """Begin a crawl from a seed list (≙ POST /api/crawl body,
        models/url_data.go:3-5).  Seed order is semantic."""
        rows = []
        for i, s in enumerate(seeds):
            rows.append(
                (i, s, urlkit.canon_ref(s), urlkit.host_of(s) or "", -1, 0, 0)
            )
        seeds_df = self.spark.createDataFrame(rows, FRONTIER_SCHEMA)
        self.seen.overwrite(self.spark.createDataFrame([], SEEN_SCHEMA))
        self.trace.overwrite(self.spark.createDataFrame([], self.trace.schema()))
        self.metrics.overwrite(self.spark.createDataFrame([], METRICS_SCHEMA))
        # v0 is an empty filter in both modes, whatever this engine or
        # run dir crawled before (resume rolls back to the same v0)
        if self.bloom is not None:
            self.bloom = self._empty_bloom()
            self.bloom.save(self._bloom_dir(0))
        if self.pbloom is not None:
            self.pbloom.create()
            self.pbloom.rollback(0)
        self.frontier.overwrite(
            seeds_df,
            meta={
                "round": 0,
                "seq": {},
                "seen_v": self.seen.current_version(),
                "trace_v": self.trace.current_version(),
                "metrics_v": self.metrics.current_version(),
                "bloom_v": 0,
            },
        )
        return self.run()

    def enqueue_seeds(self, seeds: list[str]) -> CrawlSummary:
        """Add seeds to a committed crawl and continue (≙ a further
        POST /api/crawl against the same server state,
        /root/reference/handlers/crawl.go:18-28): each new seed gets a
        fresh ``seed_idx`` past every index the run has used, so its
        per-seed seen scope starts empty [REF-EXACT per-request visited
        map] — even URLs crawled under earlier seeds are re-crawled
        under the new one.  The trace of A-then-enqueue-B equals the
        trace of a single crawl seeded A+B (tested)."""
        meta = dict(self.frontier.meta() or {})
        if not meta:
            return self.start(seeds)
        if not seeds:
            return self.run()
        # every scheduled URL is marked seen (mark-before-fetch C5), so
        # the max seen seed_idx covers every seed that ever scheduled;
        # frontier covers seeds with only queued rows
        base = 0
        for df in (self.seen.read(), self.frontier.read()):
            # scalar aggregate: global max reduces to exactly one row
            row = df.agg(F.max("seed_idx").alias("m")).collect()[0]
            if row["m"] is not None:
                base = max(base, int(row["m"]) + 1)
        rnd = int(meta["round"])
        rows = [
            (base + i, s, urlkit.canon_ref(s), urlkit.host_of(s) or "", -1, 0, rnd)
            for i, s in enumerate(seeds)
        ]
        seeds_df = self.spark.createDataFrame(rows, FRONTIER_SCHEMA)
        self.frontier.overwrite(
            self.frontier.read().unionByName(seeds_df), meta=meta
        )
        return self.run()

    def expire_and_recrawl(self, predicate) -> CrawlSummary:
        """TTL re-crawl (≙ the reference's scheduled DELETE,
        /root/reference/database/migration.sql:14-17, applied to the seen
        side): seen rows matching ``predicate`` leave the seen table AND
        the seen filter, their URLs re-enter the frontier in original
        fetch order, and the crawl continues — links they re-extract
        flow through the normal anti-join, so still-seen children are
        not re-fetched.

        Filter maintenance: cuckoo mode (BloomConfig mode="cuckoo")
        deletes per-key — the capability that mode exists for; broadcast
        Bloom rebuilds from the remaining rows (the rebuild cost is why
        cuckoo is the TTL mode).  A filter the size gate has not built
        yet needs no maintenance: only the seen rows are deleted.
        """
        from . import udfs

        meta = dict(self.frontier.meta() or {})
        if not meta:
            raise ValueError("nothing to recrawl: no committed crawl state")
        cond = F.expr(predicate) if isinstance(predicate, str) else predicate
        expired = (
            self.seen.read().filter(cond).select("seed_idx", "url_canon", "first_seq").persist()
        )
        n_exp = expired.count()
        if n_exp == 0:
            expired.unpersist()
            return self.run()
        seen_v = self.seen.delete_where(cond)
        bloom_v = int(meta["bloom_v"])
        if bloom_v > 0 and self.pbloom is not None:
            bloom_v = self.pbloom.delete(
                expired.withColumn("_bk", self._bloom_key()), "_bk"
            )
        elif bloom_v > 0 and self.bloom is not None:
            self.bloom = self._empty_bloom()
            bloom_v = self._bloom_broadcast_update(self.seen.read(seen_v), bloom_v)
        rnd = int(meta["round"])
        rows = (
            expired.withColumn("_p", udfs.url_parts_udf(F.col("url_canon")))
            .select(
                F.col("seed_idx").cast("int"),
                F.col("url_canon").alias("url"),  # canon is idempotent
                "url_canon",
                F.col("_p.host").alias("host"),
                # original fetch order is the re-crawl priority order
                F.col("first_seq").cast("long").alias("parent_seq"),
                F.lit(0).cast("int").alias("link_idx"),
                F.lit(rnd).cast("int").alias("birth_round"),
            )
        )
        self.frontier.overwrite(rows, meta={**meta, "seen_v": seen_v, "bloom_v": bloom_v})
        expired.unpersist()
        return self.run()

    def resume(self) -> CrawlSummary:
        """Exact resume from the latest committed round (CK1)."""
        meta = self.frontier.meta()
        if not meta:
            raise ValueError("nothing to resume: no frontier snapshot")
        for table, key in ((self.seen, "seen_v"), (self.trace, "trace_v"), (self.metrics, "metrics_v")):
            if meta.get(key) is not None:
                table.rollback(meta[key])
        if self.bloom is not None:
            self.bloom = ShardedBloom.load(self._bloom_dir(meta["bloom_v"]))
        if self.pbloom is not None:
            self.pbloom.rollback(int(meta["bloom_v"]))
        return self.run()

    def run(self) -> CrawlSummary:
        while True:
            meta = self.frontier.meta()
            rnd = int(meta["round"])
            if self.frontier.row_count() == 0:
                break
            if self.cfg.max_rounds is not None and rnd >= self.cfg.max_rounds:
                break
            self._round(rnd, meta)
        tm = self.trace.meta()
        return CrawlSummary(
            rounds=int(self.frontier.meta()["round"]),
            fetched=int(tm.get("fetched", 0)),
            failed=int(tm.get("failed", 0)),
            seen=self.seen.row_count(),
        )

    # -- one round -----------------------------------------------------------

    def _bloom_dir(self, v: int) -> str:
        return os.path.join(self.cfg.run_dir, "bloom", f"v{v}")

    def _empty_bloom(self) -> ShardedBloom:
        b = self.cfg.bloom
        return ShardedBloom(b.n_bits, b.n_hashes, b.n_shards)

    @staticmethod
    def _bloom_key():
        return F.concat_ws("\x1f", F.col("seed_idx").cast("string"), F.col("url_canon"))

    def _bloom_might_contain(self, df: DataFrame) -> DataFrame:
        """Adds ``_maybe_seen``: the broadcast membership UDF, or in
        cuckoo mode the shard-co-partitioned probe.  Either probe ships a
        broadcast; the previous round's is destroyed before a new one is
        created (no broadcast accretion over a long crawl)."""
        if self._bloom_bc is not None:
            self._bloom_bc.destroy()
            self._bloom_bc = None
        if self.pbloom is not None:
            from .cuckoo import partitioned_prefilter

            contains = self.pbloom.make_contains(self.spark)
            self._bloom_bc = contains._bc
            return partitioned_prefilter(df, self._bloom_key(), contains, self.pbloom.n_shards)
        from .bloom import make_might_contain

        might = make_might_contain(self.spark, self.bloom)
        self._bloom_bc = might._bc
        return df.withColumn("_maybe_seen", might(self._bloom_key()))

    def _round(self, rnd: int, meta: dict) -> None:
        cfg = self.cfg
        f = self.frontier.read()
        # ONE candidate exchange per round: hash-partition on url_canon
        # alone (default shuffle.partitions), which satisfies both the
        # dedupe groupBy's (seed_idx, url_canon) clustered distribution
        # (subset key) and the seen anti-join's co-partitioning — without
        # it Catalyst re-shuffles the deduped candidates a second time
        # for the join (the r3 scaling breakdown's 0.30-efficiency
        # stage; tests/test_plans.py guards the shape, with a bucketed
        # seen table that removes the seen-side exchange too).
        cand = dedupe_first_occurrence(f.repartition("url_canon"))
        seen_df = self.seen.read(meta["seen_v"]).select("seed_idx", "url_canon")
        counters: dict[str, float] = {"frontier_in": self.frontier.row_count()}

        # J2 seen filter: definitely-new rows skip the exact anti-join.
        # Size gate: while the pinned seen snapshot fits Spark's broadcast
        # threshold, J1 is a broadcast hash probe a filter cannot beat,
        # and the filter's probe and update are pure Python-stage cost —
        # the round skips both.  The first round past the threshold
        # builds the filter once from that snapshot; from then on it is
        # built (bloom_v > 0) and stays on.
        has_filter = self.bloom is not None or self.pbloom is not None
        bloom_v = int(meta["bloom_v"])
        filter_on = has_filter and not self._seen_filter_gated(meta)
        if has_filter and not filter_on:
            counters["seen_filter_gated"] = 1.0
        if filter_on and bloom_v == 0:
            # an empty snapshot needs no build: the v0 filter is exact for it
            n_seen = self.seen.row_count(meta["seen_v"])
            if n_seen > 0:
                bloom_v = self._seen_filter_insert(self.seen.read(meta["seen_v"]), bloom_v)
                counters["seen_filter_built_keys"] = n_seen

        # Saturation guard: a fixed-size filter fills as the seen set
        # grows; past BloomConfig.max_fpp its probe is (near-)pure
        # overhead — everything flows to the exact anti-join anyway — so
        # the round BYPASSES it instead of paying hash work for nothing.
        # Bypass never affects results (the prefilter is advisory; the
        # anti-join below is exact either way).  est_fpp is O(1) from the
        # Bloom's maintained insertion count; cuckoo signals fullness by
        # failing inserts instead of degrading.
        use_prefilter = filter_on and rnd > 0
        if use_prefilter and self.bloom is not None and self.bloom.est_fpp() > cfg.bloom.max_fpp:
            use_prefilter = False
            self.prefilter_bypassed_rounds.append(rnd)
        if use_prefilter and self.pbloom is not None:
            # cuckoo mode keeps the split+persist form: the probe
            # repartitions on the key's SHARD (co-partitioned with the
            # filter files), so bloom-negative rows must be separated
            # BEFORE the anti-join or the whole batch would pay a second
            # exchange back to url_canon; persist stops the two branches
            # recomputing the dedupe/probe chain
            tagged = self._bloom_might_contain(cand).persist()
            sure_new = tagged.filter(~F.col("_maybe_seen")).drop("_maybe_seen")
            maybe = tagged.filter(F.col("_maybe_seen")).drop("_maybe_seen")
            survivors = sure_new.unionByName(
                maybe.join(seen_df, ["seed_idx", "url_canon"], "left_anti")
            )
        elif use_prefilter:
            # broadcast mode folds the Bloom verdict INTO the anti-join
            # condition: a left-anti row survives when no seen row
            # matches (keys AND _maybe_seen), so bloom-negatives pass
            # through without probing the join hash table — identical
            # rows to the split form but one streaming pipeline with no
            # persist (the split's full-batch materialization was the
            # measured 16-thread memory wall; BENCH/BASELINE.md) and no
            # partitioning change (the probe is a broadcast UDF column).
            t = self._bloom_might_contain(cand)
            survivors = t.join(
                seen_df,
                (t["seed_idx"] == seen_df["seed_idx"])
                & (t["url_canon"] == seen_df["url_canon"])
                & t["_maybe_seen"],
                "left_anti",
            ).drop("_maybe_seen")
        else:
            survivors = cand.join(seen_df, ["seed_idx", "url_canon"], "left_anti")

        if self.rules is not None:
            survivors = robots_mod.apply_robots(survivors, self.rules)

        # W1 politeness budget
        deferred = None
        if cfg.budget_mode == "per_host":
            sched_pre, deferred = self._schedule_budget(survivors)
        else:
            sched_pre = survivors

        sched_pre = sched_pre.withColumn("round", F.lit(rnd).cast("int"))
        seq_bases = {int(k): int(v) for k, v in meta.get("seq", {}).items()}
        # fused count + sequence assignment: one blocking action where
        # rounds 1..n used to pay two (the n_sched count AND the seq
        # partition-count collect) — per-round driver serial time is the
        # scaling-efficiency floor (VERDICT r2 #5)
        sched, n_sched, n_by_seed = seq_mod.assign_fetch_seq_counted(
            sched_pre, seq_bases, cfg.seq_window_threshold, cfg.seq_partitions
        )
        trace_v, seen_v, metrics_v = meta["trace_v"], meta["seen_v"], meta["metrics_v"]
        new_seq = dict(meta.get("seq", {}))
        counters["scheduled"] = n_sched
        if rnd in self.prefilter_bypassed_rounds:
            counters["bloom_prefilter_bypassed"] = 1.0

        fut_bloom = fut_metrics = None
        try:
            if n_sched > 0:
                traced = fetch_and_validate(
                    sched, self.store, cfg.broadcast_store, cfg.host_buckets
                )
                # n_ok rides the trace write as an Observation (zero extra
                # jobs); per-seed counts came back with the seq assignment —
                # together they retire the former per-round stats collect
                obs = Observation()
                traced = traced.observe(obs, F.sum(F.col("ok").cast("long")).alias("n_ok"))
                trace_v = self.trace.append(traced, meta={"round": rnd})
                batch = self.trace.read_delta(trace_v)

                newseen = batch.select(
                    "seed_idx",
                    "url_canon",
                    F.col("fetch_seq").alias("first_seq"),
                    F.lit(rnd).cast("int").alias("round"),
                )
                # the three post-fetch consumers of the written batch — the
                # seen-filter update, the metrics rollup, and the next-frontier
                # write — are independent Spark jobs; run them OVERLAPPED
                # (Spark schedules concurrent jobs from separate driver
                # threads) and serialize only the manifest commits.  The
                # per-round blocking chain is the Amdahl floor that caps N->4N
                # scaling efficiency (VERDICT r2 #5).
                if filter_on:
                    # the filter update overlaps the seen/links chain;
                    # bloom_v is only read at the commit
                    fut_bloom = self._pool.submit(self._seen_filter_insert, batch, bloom_v)

                seen_v = self.seen.append(newseen)
                seen_all = self.seen.read(seen_v).select("seed_idx", "url_canon")
                links = links_to_frontier(batch, seen_all, rnd + 1)

                # per-seed counters from the fused seq-assignment collect;
                # n_ok from the trace write's Observation
                for seed, n in n_by_seed.items():
                    k = str(seed)
                    new_seq[k] = int(new_seq.get(k, 0)) + int(n)
                n_ok = int(obs.get["n_ok"] or 0)
                counters["fetched_ok"] = n_ok
                counters["fetch_failed"] = n_sched - n_ok
                tmeta = self.trace.meta()
                self.trace.commit_meta(
                    {
                        "fetched": int(tmeta.get("fetched", 0)) + n_ok,
                        "failed": int(tmeta.get("failed", 0)) + (n_sched - n_ok),
                    }
                )
                trace_v = self.trace.current_version()

                mrows = round_counter_rows(self.spark, rnd, counters)
                mrows = mrows.unionByName(host_metrics(batch, rnd)).unionByName(
                    partition_lineage(batch, rnd)
                )
                fut_metrics = self._pool.submit(self.metrics.append, mrows)
            else:
                links = self.spark.createDataFrame([], FRONTIER_SCHEMA)
                metrics_v = self.metrics.append(round_counter_rows(self.spark, rnd, counters))

            next_frontier = links if deferred is None else deferred.unionByName(links)
            next_frontier = next_frontier.select(*[f.name for f in FRONTIER_SCHEMA.fields])

            # frontier data write runs while the metrics/bloom jobs are still
            # in flight; the commit below waits for their versions
            prepared = self.frontier.prepare_overwrite(next_frontier)
        except BaseException:
            # failure path: wait out any in-flight side-table commits
            # BEFORE propagating — a retry/rollback after this exception
            # must never race a leaked metrics/bloom commit on the same
            # SnapshotTable (two concurrent read-modify-write commits on
            # one manifest chain could drop a version)
            _drain_futures(fut_metrics, fut_bloom)
            raise
        if fut_metrics is not None:
            metrics_v = fut_metrics.result()
        if fut_bloom is not None:
            bloom_v = fut_bloom.result()

        if cfg.compact_every is not None and (rnd + 1) % cfg.compact_every == 0:
            # small-file control (Iceberg rewrite_data_files): one
            # compaction commit per side table, recorded in the same
            # round meta the resume path rolls back to — old manifests
            # stay valid across the rewrite, so CK1 is unchanged
            trace_v = self.trace.compact()
            seen_v = self.seen.compact()
            metrics_v = self.metrics.compact()

        # CK1 atomic commit point (metrics/bloom/seen versions above are
        # all committed by now — ordering vs the frontier commit is
        # unchanged from the sequential form)
        self.frontier.commit_prepared(
            prepared,
            meta={
                "round": rnd + 1,
                "seq": new_seq,
                "seen_v": seen_v,
                "trace_v": trace_v,
                "metrics_v": metrics_v,
                "bloom_v": bloom_v,
            },
        )
        # drop all round-local caches (the fused seq assignment's range-
        # partitioned intermediate, the bloom-tagged split) — nothing is
        # cached across rounds
        self.spark.catalog.clearCache()

    def _seen_filter_gated(self, meta: dict) -> bool:
        """True while the filter is unbuilt and the pinned seen snapshot
        is no bigger than the broadcast threshold (-1: never gated).  It
        reads only committed state and the session conf, so a resumed
        round under the same conf decides the same way."""
        if int(meta["bloom_v"]) > 0:
            return False
        limit = broadcast_threshold(self.spark)
        return limit >= 0 and self.seen.data_bytes(meta["seen_v"]) <= limit

    def _seen_filter_insert(self, keys: DataFrame, bloom_v: int) -> int:
        """Insert ``(seed_idx, url_canon)`` rows into the filter at
        ``bloom_v``; returns the new version."""
        if self.bloom is not None:
            return self._bloom_broadcast_update(keys, bloom_v)
        return self.pbloom.update(keys.withColumn("_bk", self._bloom_key()), "_bk")

    def _bloom_broadcast_update(self, batch: DataFrame, bloom_v: int) -> int:
        # the saved version follows bloom_v, not the round number: a TTL
        # re-crawl also bumps bloom_v, so a round-numbered save could
        # overwrite the version a committed round pins.  Partials are
        # OR-merged executor-side first: every non-empty input partition
        # emits a full n_bits/8 bitmap however few keys it holds, and a
        # round's trace batch has one partition per host bucket
        b = self.bloom
        keys = batch.withColumn("_bk", self._bloom_key())
        partials = build_partials(keys, "_bk", b.n_bits, b.n_hashes, b.n_shards)
        merge_partials_into(b, reduce_partials(partials).collect())
        b.save(self._bloom_dir(bloom_v + 1))
        return bloom_v + 1

    # -- W1 ------------------------------------------------------------------

    def _schedule_budget(self, survivors: DataFrame) -> tuple[DataFrame, DataFrame]:
        """Per-host priority rank + crawl-delay budget (north_rule): the
        budget is fetches allowed per scheduling tick, max(1,
        tick_seconds / crawl_delay); rank order is the global FIFO
        priority (seed_idx, parent_seq, link_idx) [REF ordering].

        Scale shape: the budget only BINDS on hosts holding more rows
        than their budget — everything else is scheduled whole with no
        window at all (no sort, no skewed straggler).  Over-budget hosts
        take the salted two-phase top-k (phase 1 bounds every window
        partition to <= budget rows; the hot host costs salt_buckets
        parallel sorts plus one bounded merge); their unscheduled rows
        defer to the next round via an anti-join on the (small,
        broadcastable) scheduled set."""
        cfg = self.cfg
        if self.rules is not None:
            delays = robots_mod.host_delays(self.rules, cfg.default_crawl_delay)
            survivors = survivors.join(F.broadcast(delays), "host", "left")
            delay = F.coalesce(F.col("crawl_delay"), F.lit(cfg.default_crawl_delay))
        else:
            delay = F.lit(cfg.default_crawl_delay)
        budget = F.greatest(F.lit(1), F.floor(F.lit(cfg.tick_seconds) / delay)).cast("int")
        # per-host row counts: NO broadcast hint — at web scale the host
        # dimension is 10^7+, so AQE must pick broadcast vs shuffle from
        # the actual aggregate size (tiny here, huge in production)
        counts = survivors.groupBy("host").agg(F.count(F.lit(1)).alias("_hn"))
        s = (
            survivors.withColumn("_budget", budget)
            .join(counts, "host")
            .persist()
        )
        drop_cols = ["_budget", "_hn"] + (["crawl_delay"] if self.rules is not None else [])
        light = s.filter(F.col("_hn") <= F.col("_budget")).drop(*drop_cols)
        heavy = s.filter(F.col("_hn") > F.col("_budget"))
        salt = F.pmod(F.xxhash64("url_canon"), F.lit(cfg.salt_buckets))
        w1 = Window.partitionBy("host", "_salt").orderBy("seed_idx", "parent_seq", "link_idx")
        phase1 = (
            heavy.withColumn("_salt", salt)
            .withColumn("_rk1", F.row_number().over(w1))
            .filter(F.col("_rk1") <= F.col("_budget"))
        )
        w2 = Window.partitionBy("host").orderBy("seed_idx", "parent_seq", "link_idx")
        sched_heavy = (
            phase1.withColumn("_rk2", F.row_number().over(w2))
            .filter(F.col("_rk2") <= F.col("_budget"))
            .drop("_salt", "_rk1", "_rk2")
        )
        # scheduled-heavy keys are budget-bounded per host; AQE picks
        # broadcast when they fit (no hard hint — heavy-host count is
        # unbounded in principle)
        deferred = heavy.join(
            sched_heavy.select("seed_idx", "url_canon"),
            ["seed_idx", "url_canon"],
            "left_anti",
        ).drop(*drop_cols)
        sched = light.unionByName(sched_heavy.drop(*drop_cols))
        return sched, deferred

    # -- result accessors ----------------------------------------------------

    def trace_df(self) -> DataFrame:
        return self.trace.read()

    def seen_df(self) -> DataFrame:
        return self.seen.read()

    def pages_df(self) -> DataFrame:
        """REF-EXACT PageData records (models/page_data.go:3-7) +
        image/caption payload + validation columns."""
        return self.trace.read().filter(F.col("ok"))

    def metrics_df(self) -> DataFrame:
        return self.metrics.read()
