"""crawlbench workloads: seeded synthetic webs, the timed engine call,
and the correctness check of its result.

Each workload builds its inputs from the seed alone (a page store, a seed
list, optionally a robots rules parquet) and hands the engine nothing
else.  ``call`` is the timed engine call of one unit; ``prepare`` (before)
and ``check`` (after) run outside the timed window.  Sizes are class
attributes, so a test can shrink a workload by subclassing it.
"""

from __future__ import annotations

import os
import shutil
from collections import Counter
from dataclasses import replace

import pandas as pd

from grabspark import synth
from grabspark.config import BloomConfig, EngineConfig
from grabspark.engine import CrawlEngine

import tests.oracle as oracle

TRACE_COLS = ["seed_idx", "fetch_seq", "url", "url_canon", "host", "ok", "round"]


def trace_rows(eng) -> list[tuple]:
    return [
        tuple(r)
        for r in eng.trace_df().orderBy("seed_idx", "fetch_seq").select(*TRACE_COLS).collect()
    ]


def seen_rows(eng) -> dict[tuple[int, str], int]:
    """(seed_idx, url_canon) -> first_seq."""
    return {
        (r.seed_idx, r.url_canon): r.first_seq
        for r in eng.seen_df().select("seed_idx", "url_canon", "first_seq").collect()
    }


def oracle_errors(eng, golden, max_rounds: int | None = None) -> list[str]:
    """Ordered trace and seen set against the reference crawl, cut to
    the first ``max_rounds`` BFS levels (the oracle's depth of a fetch is
    the engine's round)."""
    want = [
        tuple(t)
        for t, depth in zip(golden.trace, golden.rounds)
        if max_rounds is None or depth < max_rounds
    ]
    errors = []
    got = [t[:6] for t in trace_rows(eng)]
    if got != want:
        errors.append(f"trace differs from oracle ({len(got)} vs {len(want)} rows)")
    # mark-before-fetch: the seen set is exactly the fetched keys
    if set(seen_rows(eng)) != {(t[0], t[3]) for t in want}:
        errors.append("seen set differs from oracle")
    return errors


class Workload:
    """Set-up crawls the seeds round (round 0) and commits it, which also
    warms the session up.  Each unit rolls the frontier back to that
    commit and times ``resume``, which rolls the other tables and the seen
    filter back to the versions the commit pins and crawls on.  Every unit
    thus does the same rounds from the same committed state, and the
    seeds round, tiny whatever the workload, stays out of the timed
    window."""

    name = ""
    bloom = BloomConfig()
    max_rounds: int | None = None

    def __init__(self, spark, work_dir: str, seed: int, threads: int):
        self.spark = spark
        self.work_dir = work_dir
        self.seed = seed
        self.threads = threads
        self.store_path = os.path.join(work_dir, "store.parquet")

    def engine_config(self, run_dir: str, **kw) -> EngineConfig:
        # sized to the box: one range partition / storage bucket per task
        # thread instead of the 32-core defaults
        return EngineConfig(
            run_dir=run_dir,
            store_path=self.store_path,
            seq_partitions=self.threads,
            host_buckets=self.threads,
            bloom=self.bloom,
            **kw,
        )

    def engine_kw(self) -> dict:
        return {}

    def build_inputs(self) -> None:
        """Store, seeds, rules and the oracle's reference result."""
        raise NotImplementedError

    def warm_up(self) -> None:
        run_dir = os.path.join(self.work_dir, "run")
        shutil.rmtree(run_dir, ignore_errors=True)
        cfg = self.engine_config(run_dir, **self.engine_kw())
        CrawlEngine(self.spark, replace(cfg, max_rounds=1)).start(self.seeds)
        self.eng = CrawlEngine(self.spark, replace(cfg, max_rounds=self.max_rounds))
        self.base_v = self.eng.frontier.current_version()

    def prepare(self, i: int) -> CrawlEngine:
        self.eng.frontier.rollback(self.base_v)
        return self.eng

    def call(self, eng: CrawlEngine, i: int) -> None:
        eng.resume()

    def check(self, eng: CrawlEngine, i: int) -> list[str]:
        raise NotImplementedError


class BfsWide(Workload):
    """Many hosts, one ``p0`` seed each plus a duplicate and a missing
    seed; high out-degree; unlimited budget; broadcast Bloom.  A unit
    crawls BFS levels 1 and 2, the wide ones (``max_rounds``; the thin
    tail past them is left out)."""

    name = "bfs_wide"
    n_hosts = 64
    pages_per_host = 12
    out_degree = 12
    max_rounds = 3

    def build_inputs(self) -> None:
        spec = synth.StoreSpec(
            n_hosts=self.n_hosts,
            pages_per_host=self.pages_per_host,
            out_degree=self.out_degree,
            p_frag=0.0,
            seed=self.seed,
        )
        store = synth.build_store(spec)
        synth.write_store_parquet(store, self.store_path)
        hosts = [spec.host(h) for h in range(self.n_hosts)]
        self.seeds = [f"http://{h}/p0" for h in hosts] + [
            f"http://{hosts[0]}/p0",  # duplicate seed: per-seed seen reset
            f"http://{hosts[1]}/missing99",  # fetch-failure seed
        ]
        self.golden = oracle.crawl(store.by_id, self.seeds)

    def check(self, eng: CrawlEngine, i: int) -> list[str]:
        return oracle_errors(eng, self.golden, self.max_rounds)


class _HotSpec(synth.StoreSpec):
    """A store spec whose hosts are ``hot<i>.test``, so its pages can
    share one store with a plain spec's ``host<i>.test`` pages."""

    def host(self, i: int) -> str:
        return f"hot{i}.test"


class PoliteHot(Workload):
    """Per-host politeness budget with a robots rules parquet.  The hot
    host is one page under three seeds (three per-seed crawls) with a
    budget of one fetch per round, so two of its seeds queue behind a
    deferred backlog, one round each, while the cold hosts finish in the
    first two rounds.  Every page is reachable and no link misses, so the
    crawl has the same three rounds and the same fetches on every seed.
    The rules carry the crawl delays plus ``*``/``$`` Disallow patterns
    that match no generated path, so robots filtering runs every round
    without changing the oracle's attempted set.  Seen filter: the
    deletable cuckoo filter, whose per-round update is a fixed cost like
    the commits.  A unit is round 1, where the budget binds: one hot seed
    is fetched, the other stays queued."""

    name = "polite_hot"
    hot_pages = 1
    hot_seeds = 3
    cold_hosts = 2
    cold_pages = 2
    out_degree = 4
    tick_seconds = 1.0
    hot_delay = 1.0  # budget 1 fetch per round
    cold_delay = 0.25  # budget 4 per round: never binds on a cold host
    max_rounds = 2
    bloom = BloomConfig(enabled=True, mode="cuckoo", n_bits=1 << 16, n_shards=4)

    def build_inputs(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        # a closed web: no missing, fragment or host-case links, so each
        # seed's crawl fetches every page of its host and nothing else
        closed = dict(query_pages=0, p_missing=0.0, p_frag=0.0, p_case=0.0, seed=self.seed)
        hot = _HotSpec(
            n_hosts=1, pages_per_host=self.hot_pages, out_degree=self.out_degree, **closed
        )
        cold = synth.StoreSpec(
            n_hosts=self.cold_hosts,
            pages_per_host=self.cold_pages,
            out_degree=self.out_degree,
            **closed,
        )
        pdf = pd.concat([synth.build_store(s).pdf for s in (hot, cold)], ignore_index=True)
        store = synth.SynthStore(spec=hot, pdf=pdf)
        synth.write_store_parquet(store, self.store_path)
        hot_host = hot.host(0)
        cold_hosts = [cold.host(h) for h in range(self.cold_hosts)]
        self.seeds = [f"http://{h}/p0" for h in [hot_host] + cold_hosts] + [
            f"http://{hot_host}/p0"
        ] * (self.hot_seeds - 1)
        self.golden = oracle.crawl(store.by_id, self.seeds)

        rules = [
            (hot_host, "/", True, self.hot_delay),
            (hot_host, "/admin*", False, self.hot_delay),
            (hot_host, "/*.cgi$", False, self.hot_delay),
        ]
        for h in cold_hosts:
            rules += [
                (h, "/private*", False, self.cold_delay),
                (h, "/*?session=*", False, self.cold_delay),
                (h, "/p*.html$", False, self.cold_delay),
            ]
        self.rules_path = os.path.join(self.work_dir, "robots.parquet")
        schema = pa.schema(
            [("host", pa.string()), ("rule_prefix", pa.string()),
             ("allow", pa.bool_()), ("crawl_delay", pa.float64())]
        )
        pq.write_table(pa.Table.from_pylist(
            [dict(zip(schema.names, r)) for r in rules], schema=schema
        ), self.rules_path)
        self.budget = {hot_host: self._budget(self.hot_delay)}
        self.budget.update({h: self._budget(self.cold_delay) for h in cold_hosts})

    def _budget(self, delay: float) -> int:
        return max(1, int(self.tick_seconds // delay))

    def engine_kw(self) -> dict:
        return dict(
            budget_mode="per_host",
            tick_seconds=self.tick_seconds,
            robots_path=self.rules_path,
        )

    def check(self, eng: CrawlEngine, i: int) -> list[str]:
        """The budget-mode invariants: the oracle's attempted set (the
        budget reorders, never drops; after round 1 of this closed web
        every page is discovered, so what is not fetched yet is queued in
        the frontier), at most the host's budget per (round, host), rounds
        non-decreasing in fetch order per (seed, host).  Also that the
        budget bound at all: some fetch came in a later round than its BFS
        level."""
        rows = trace_rows(eng)
        queued = {(r.seed_idx, r.url_canon) for r in eng.frontier.read().collect()}
        errors = []
        if {(t[0], t[3]) for t in rows} | queued != self.golden.seen:
            errors.append("attempted and queued set differs from oracle")
        per = Counter((t[6], t[4]) for t in rows)
        if any(n > self.budget[host] for (_rnd, host), n in per.items()):
            errors.append("a host was fetched past its budget in a round")
        last: dict[tuple[int, str], int] = {}
        for t in sorted(rows, key=lambda t: (t[0], t[4], t[1])):
            k = (t[0], t[4])
            if t[6] < last.get(k, t[6]):
                errors.append("rounds decrease in fetch order within a (seed, host)")
                break
            last[k] = t[6]
        depth = {(t[0], t[3]): d for t, d in zip(self.golden.trace, self.golden.rounds)}
        if not any(t[6] > depth.get((t[0], t[3]), t[6]) for t in rows):
            errors.append("budget never bound: no fetch was deferred past its BFS level")
        return errors


class RecrawlTtl(Workload):
    """TTL re-crawl through the deletable cuckoo filter.  Set-up finishes
    one crawl; each unit rolls every table and the filter back to that
    committed state, then expires one host's slice (that seed's whole
    crawl, since links stay on their host) and re-crawls it: the expired
    URLs are re-fetched and every link they re-extract hits the seen
    set."""

    name = "recrawl_ttl"
    n_hosts = 4
    pages_per_host = 4
    out_degree = 10
    bloom = BloomConfig(enabled=True, mode="cuckoo", n_bits=1 << 16, n_shards=8)

    def build_inputs(self) -> None:
        self.spec = synth.StoreSpec(
            n_hosts=self.n_hosts,
            pages_per_host=self.pages_per_host,
            out_degree=self.out_degree,
            # a two-level web (every page one hop from p0, no missing-page
            # leaves) keeps the base crawl to two rounds of set-up
            p_frag=0.0,
            p_missing=0.0,
            seed=self.seed,
        )
        store = synth.build_store(self.spec)
        synth.write_store_parquet(store, self.store_path)
        self.hosts = [self.spec.host(h) for h in range(self.n_hosts)]
        self.seeds = [f"http://{h}/p0" for h in self.hosts]
        self.golden = oracle.crawl(store.by_id, self.seeds)

    def warm_up(self) -> None:
        """The base crawl, checked against the oracle."""
        run_dir = os.path.join(self.work_dir, "run")
        shutil.rmtree(run_dir, ignore_errors=True)
        self.eng = CrawlEngine(self.spark, self.engine_config(run_dir))
        self.eng.start(self.seeds)
        errors = oracle_errors(self.eng, self.golden)
        if errors:
            raise RuntimeError("base crawl: " + "; ".join(errors))
        self.base_v = self.eng.frontier.current_version()
        self.base_trace = trace_rows(self.eng)
        self.base_seen = seen_rows(self.eng)

    def _slice(self, i: int) -> int:
        return i % self.n_hosts

    def prepare(self, i: int) -> CrawlEngine:
        """Roll the crawl back to the committed base state (manifest
        commits only: no data is rewritten)."""
        eng = self.eng
        eng.frontier.rollback(self.base_v)
        meta = eng.frontier.meta()
        eng.seen.rollback(meta["seen_v"])
        eng.trace.rollback(meta["trace_v"])
        eng.metrics.rollback(meta["metrics_v"])
        eng.pbloom.rollback(int(meta["bloom_v"]))
        return eng

    def call(self, eng: CrawlEngine, i: int) -> None:
        from pyspark.sql import functions as F

        k = self._slice(i)
        eng.expire_and_recrawl(
            (F.col("seed_idx") == k) & F.col("url_canon").contains(f"//{self.hosts[k]}/")
        )

    def check(self, eng: CrawlEngine, i: int) -> list[str]:
        """The engine's TTL re-crawl contract: expired URLs re-fetched
        exactly once in original fetch order, nothing else re-fetched,
        the seen set restored."""
        k = self._slice(i)
        host = self.hosts[k]
        expired = sorted(
            (q, u) for (s, u), q in self.base_seen.items() if s == k and f"//{host}/" in u
        )
        after = trace_rows(eng)
        old_max = max(t[1] for t in self.base_trace if t[0] == k)
        new_rows = [t for t in after if t[0] == k and t[1] > old_max]
        errors = []
        if not expired:
            errors.append("empty slice: nothing was expired")
        if [t[3] for t in new_rows] != [u for _q, u in expired]:
            errors.append("expired URLs not re-fetched exactly once in original order")
        if len(after) != len(self.base_trace) + len(expired):
            errors.append("rows other than the expired slice were re-fetched")
        if set(seen_rows(eng)) != set(self.base_seen):
            errors.append("seen set not restored after the re-crawl")
        return errors


WORKLOADS = {w.name: w for w in (BfsWide, PoliteHot, RecrawlTtl)}
