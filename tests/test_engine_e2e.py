"""End-to-end: CrawlEngine (round-based DataFrame jobs) must reproduce the
oracle's (sequential Go transliteration) exact fetch order, seen set, and
page records [REF-EXACT], plus the input_hint per-row image invariant."""

import os
import tempfile
from contextlib import contextmanager

import numpy as np
import pytest
from pyspark.sql import functions as F

import tests.oracle as oracle
from grabspark import synth
from grabspark.config import BloomConfig, EngineConfig
from grabspark.engine import CrawlEngine


@pytest.fixture(scope="module")
def crawl_setup(spark, tmp_path_factory):
    spec = synth.StoreSpec(n_hosts=3, pages_per_host=10, out_degree=4, seed=42)
    store = synth.build_store(spec)
    base = tmp_path_factory.mktemp("crawl")
    store_path = str(base / "store.parquet")
    synth.write_store_parquet(store, store_path)
    seeds = synth.default_seeds(spec)
    golden = oracle.crawl(store.by_id, seeds)
    return spec, store, store_path, seeds, golden, base


@contextmanager
def broadcast_threshold(spark, value):
    """Scoped ``spark.sql.autoBroadcastJoinThreshold`` (restored after),
    the size the engine's seen-filter gate compares the seen table to."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key, None)
    spark.conf.set(key, str(value))
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


@pytest.fixture()
def filter_forced_on(spark):
    """Broadcast off: the seen filter engages from the first round."""
    with broadcast_threshold(spark, -1):
        yield


def run_engine(spark, store_path, seeds, run_dir, **cfg_kw):
    cfg = EngineConfig(run_dir=str(run_dir), store_path=store_path, **cfg_kw)
    eng = CrawlEngine(spark, cfg)
    eng.start(seeds)
    return eng


def engine_trace_rows(eng):
    return [
        (r.seed_idx, r.fetch_seq, r.url, r.url_canon, r.host, r.ok)
        for r in eng.trace_df()
        .orderBy("seed_idx", "fetch_seq")
        .select("seed_idx", "fetch_seq", "url", "url_canon", "host", "ok")
        .collect()
    ]


@pytest.fixture(scope="module")
def engine_run(spark, crawl_setup):
    spec, store, store_path, seeds, golden, base = crawl_setup
    eng = run_engine(spark, store_path, seeds, base / "run_main")
    return eng


def test_trace_exact_order(engine_run, crawl_setup):
    *_, golden, _ = crawl_setup
    got = engine_trace_rows(engine_run)
    want = [(s, q, u, c, h, ok) for (s, q, u, c, h, ok) in golden.trace]
    assert got == want


def test_seen_set_exact(engine_run, crawl_setup):
    *_, golden, _ = crawl_setup
    got = {
        (r.seed_idx, r.url_canon)
        for r in engine_run.seen_df().select("seed_idx", "url_canon").collect()
    }
    assert got == golden.seen


def test_page_records_exact(engine_run, crawl_setup):
    *_, golden, _ = crawl_setup
    got = {
        (r.seed_idx, r.fetch_seq, r.url, r.title, r.content)
        for r in engine_run.pages_df()
        .select("seed_idx", "fetch_seq", "url", "title", "content")
        .collect()
    }
    assert got == set(golden.pages)


def test_image_validation_invariant(engine_run, crawl_setup):
    """input_hint: decoded-pixel allclose (PSNR>=40dB lossy) + caption
    equality + phash match for every fetched row."""
    spec, store, *_ = crawl_setup
    pages = engine_run.pages_df()
    n = pages.count()
    assert n > 0
    assert pages.filter(~F.col("pixels_ok")).count() == 0
    assert pages.filter(~F.col("phash_ok")).count() == 0
    assert pages.filter(F.col("fmt") == "qraw").filter(F.col("psnr_db") < 40.0).count() == 0
    # caption equality vs the store
    store_df = pages.sparkSession.createDataFrame(store.pdf[["image_id", "caption"]])
    mismatch = (
        pages.select("image_id", F.col("caption").alias("got"))
        .join(store_df.withColumnRenamed("caption", "want"), "image_id")
        .filter(F.col("got") != F.col("want"))
    )
    assert mismatch.count() == 0


def test_failed_rows_have_no_payload(engine_run):
    failed = engine_run.trace_df().filter(~F.col("ok"))
    assert failed.count() > 0
    assert failed.filter(F.col("image_id").isNotNull()).count() == 0
    assert failed.filter(F.col("n_links") != 0).count() == 0


def test_metrics_emitted(engine_run):
    m = engine_run.metrics_df()
    scopes = {r.scope for r in m.select("scope").distinct().collect()}
    assert {"round", "host", "partition"} <= scopes
    sched = (
        m.filter((F.col("scope") == "round") & (F.col("metric") == "scheduled"))
        .agg(F.sum("value"))
        .first()[0]
    )
    assert int(sched) == engine_run.trace_df().count()


def test_bloom_disabled_same_result(spark, crawl_setup):
    spec, store, store_path, seeds, golden, base = crawl_setup
    eng = run_engine(
        spark, store_path, seeds, base / "run_nobloom", bloom=BloomConfig(enabled=False)
    )
    got = engine_trace_rows(eng)
    assert got == [tuple(t) for t in golden.trace]


def test_bloom_saturation_bypass_same_result(spark, crawl_setup, filter_forced_on):
    """A deliberately-undersized Bloom saturates once the first rounds'
    seen keys are inserted; the saturation guard (BloomConfig.max_fpp)
    must then BYPASS the probe — est_fpp is O(1) from the maintained
    insertion count — while leaving the [REF-EXACT] trace untouched:
    the prefilter is advisory, never semantic."""
    spec, store, store_path, seeds, golden, base = crawl_setup
    eng = run_engine(
        spark,
        store_path,
        seeds,
        base / "run_satbloom",
        bloom=BloomConfig(enabled=True, n_bits=32, n_hashes=7, n_shards=2),
    )
    got = engine_trace_rows(eng)
    assert got == [tuple(t) for t in golden.trace]
    assert eng.prefilter_bypassed_rounds, "undersized filter must trip the bypass"
    assert eng.bloom.est_fpp() > eng.cfg.bloom.max_fpp
    # the bypass is surfaced as a round metric
    m = eng.metrics_df()
    n_bypassed = (
        m.filter((F.col("scope") == "round") & (F.col("metric") == "bloom_prefilter_bypassed"))
        .agg(F.sum("value"))
        .first()[0]
    )
    assert int(n_bypassed or 0) == len(eng.prefilter_bypassed_rounds)


def test_bloom_cuckoo_same_result(spark, crawl_setup, filter_forced_on):
    """J2 cuckoo mode (BloomConfig mode='cuckoo'), the scale mode:
    per-shard files built/probed executor-side must leave the
    [REF-EXACT] trace untouched (advisory-filter invariant)."""
    spec, store, store_path, seeds, golden, base = crawl_setup
    eng = run_engine(
        spark,
        store_path,
        seeds,
        base / "run_cuckoo",
        bloom=BloomConfig(enabled=True, mode="cuckoo", n_bits=1 << 16, n_shards=8),
    )
    got = engine_trace_rows(eng)
    assert got == [tuple(t) for t in golden.trace]
    from grabspark.cuckoo import PartitionedCuckoo

    assert isinstance(eng.pbloom, PartitionedCuckoo)
    assert len(eng.pbloom.shard_files()) > 0
    assert 0 < eng.pbloom.load_factor() < 0.95


def test_torn_round_resume_exact(spark, crawl_setup):
    """CK1 crash safety e2e: interrupt AFTER side-table writes but BEFORE
    the frontier commit (the torn-round shape the commit protocol
    defends against), then resume() — the final trace/seen must be
    bit-identical to an uninterrupted run."""
    from grabspark.config import EngineConfig
    from grabspark.engine import CrawlEngine

    spec, store, store_path, seeds, golden, base = crawl_setup
    run_dir = base / "run_torn"
    cfg = EngineConfig(run_dir=str(run_dir), store_path=store_path, max_rounds=2)
    eng = CrawlEngine(spark, cfg)
    eng.start(seeds)  # stops after round 2 with a committed frontier

    # simulate a torn round 3: trace + seen get appended (uncommitted
    # garbage from a crashed round), but the frontier commit never lands
    dirty = eng.trace.read().limit(3)
    eng.trace.append(dirty)
    eng.seen.append(eng.seen.read().limit(2))

    cfg2 = EngineConfig(run_dir=str(run_dir), store_path=store_path)
    eng2 = CrawlEngine(spark, cfg2)
    eng2.resume()  # must roll the side tables back to the committed round

    got = engine_trace_rows(eng2)
    assert got == [tuple(t) for t in golden.trace]
    seen_got = {
        (r.seed_idx, r.url_canon)
        for r in eng2.seen_df().select("seed_idx", "url_canon").collect()
    }
    assert seen_got == golden.seen


def test_export_pages_roundtrip(engine_run, crawl_setup):
    """S7 export ≙ GET /api/get-data: one ZIP of per-host JSON arrays in
    fetch order (handlers/scrape.go:30-70; PageData shape)."""
    import json
    import zipfile

    from grabspark.export import export_pages

    *_, base = crawl_setup
    out = str(base / "scraped_data.zip")
    export_pages(engine_run, out)
    with zipfile.ZipFile(out) as zf:
        names = sorted(zf.namelist())
        assert names and all(n.endswith(".json") for n in names)
        exported = []
        for n in names:
            host = n[: -len(".json")]
            records = json.loads(zf.read(n))
            assert isinstance(records, list)
            for r in records:
                exported.append((host, r["title"], r["url"], r["content"]))
    pages = {
        (r.host, r.title, r.url, r.content)
        for r in engine_run.pages_df().select("host", "title", "url", "content").collect()
    }
    assert set(exported) == pages
    # within a host file, records are in global fetch order (seed then
    # seq — the reference appends sequentially, seeds crawled in order);
    # note a url may appear once PER SEED (per-seed seen reset)
    expect: dict[str, list] = {}
    for r in (
        engine_run.pages_df()
        .select("host", "url", "seed_idx", "fetch_seq")
        .orderBy("seed_idx", "fetch_seq")
        .collect()
    ):
        expect.setdefault(r.host, []).append(r.url)
    with zipfile.ZipFile(out) as zf:
        for n in zf.namelist():
            host = n[: -len(".json")]
            urls = [r["url"] for r in json.loads(zf.read(n))]
            assert urls == expect[host]


def test_per_host_bucket_pruned_read(engine_run):
    """D5: the trace table is host-hash bucketed; a per-host read opens
    only that bucket's files (manifest-level pruning)."""
    from pyspark.sql import functions as F

    trace = engine_run.trace_df()
    hosts = [r.host for r in trace.select("host").distinct().collect()]
    assert len(hosts) >= 2
    h = hosts[0]
    b = trace.filter(F.col("host") == h).select("host_bucket").first()[0]
    pruned_files = engine_run.trace.files_for_bucket(int(b))
    all_files = engine_run.trace.manifest()["files"]
    assert 0 < len(pruned_files) < len(all_files)
    pruned = engine_run.trace.read(bucket=int(b)).filter(F.col("host") == h)
    full = trace.filter(F.col("host") == h)
    assert pruned.count() == full.count()


def test_budget_mode_invariants(spark, crawl_setup):
    """per_host budget: same fetched SET (politeness reorders, never
    drops), per-host per-round budget respected, priority order kept
    within each host."""
    spec, store, store_path, seeds, golden, base = crawl_setup
    eng = run_engine(
        spark,
        store_path,
        seeds,
        base / "run_budget",
        budget_mode="per_host",
        tick_seconds=3.0,
        default_crawl_delay=1.0,  # budget = 3 fetches/host/round
    )
    trace = eng.trace_df()
    # same set of (seed, canon) attempted as the oracle
    got = {(r.seed_idx, r.url_canon) for r in trace.select("seed_idx", "url_canon").collect()}
    assert got == golden.seen
    # budget respected
    per_round_host = trace.groupBy("round", "host").count().collect()
    assert all(r["count"] <= 3 for r in per_round_host)
    # within a host, scheduling follows priority order: fetch_seq within a
    # seed+host increases with (parent_seq, link_idx) round by round
    rows = trace.orderBy("seed_idx", "host", "fetch_seq").select(
        "seed_idx", "host", "round", "parent_seq", "link_idx"
    ).collect()
    # rounds are non-decreasing in fetch order per (seed, host)
    last = {}
    for r in rows:
        k = (r.seed_idx, r.host)
        if k in last:
            assert r.round >= last[k]
        last[k] = r.round


def test_bucketed_store_same_result(spark, crawl_setup):
    """Engine with the page store registered as a bucketed catalog table
    (fetch join reads it pre-partitioned): trace must stay [REF-EXACT]."""
    from pyspark.sql import functions as F

    from grabspark import bench_core

    spec, store, store_path, seeds, golden, base = crawl_setup
    df = spark.read.parquet(store_path)
    bench_core.write_bucketed(
        df, "store_e2e", str(base / "store_bucketed"), ["image_id"]
    )
    eng = run_engine(spark, "table:store_e2e", seeds, base / "run_bstore")
    got = engine_trace_rows(eng)
    assert got == [tuple(t) for t in golden.trace]
    spark.sql("DROP TABLE IF EXISTS store_e2e")


# ---------------------------------------------------------------------------
# Property surface (SURVEY §5): engine ≡ oracle across varied graph shapes.
# Each spec stresses a different structural regime of the reference's BFS
# (/root/reference/functions/main_functions.go:28-60): chain depth, fan-out
# saturation, hostile link surfaces, per-seed seen reset, and leaf-only
# stores.  Exact trace equality (order, canon, host, ok) is the assertion —
# the strongest [REF-EXACT] check we have.
_SHAPE_SPECS = {
    "deep_chain": synth.StoreSpec(
        n_hosts=1, pages_per_host=14, out_degree=1, p_cross=0.0,
        p_missing=0.0, p_malformed=0.0, query_pages=0, seed=7,
    ),
    "fanout_saturated": synth.StoreSpec(
        n_hosts=2, pages_per_host=5, out_degree=8, p_dup=0.4, seed=11,
    ),
    "hostile_surfaces": synth.StoreSpec(
        n_hosts=2, pages_per_host=6, out_degree=4, p_missing=0.3,
        p_malformed=0.25, p_frag=0.3, p_case=0.15, p_slash=0.3, seed=13,
    ),
    "leaf_only": synth.StoreSpec(
        n_hosts=2, pages_per_host=4, out_degree=0, query_pages=1, seed=17,
    ),
}


@pytest.mark.parametrize("shape", sorted(_SHAPE_SPECS))
def test_engine_oracle_equivalence_shapes(spark, tmp_path, shape):
    spec = _SHAPE_SPECS[shape]
    store = synth.build_store(spec)
    store_path = str(tmp_path / "store.parquet")
    synth.write_store_parquet(store, store_path)
    seeds = synth.default_seeds(spec)
    if shape == "fanout_saturated":
        # duplicate seed: per-seed seen reset [REF-EXACT] — the second
        # crawl of the same seed must re-fetch everything under a new
        # seed_idx (main_functions.go:30-31: visited map is per-call).
        seeds = seeds + seeds[:1]
    golden = oracle.crawl(store.by_id, seeds)
    eng = run_engine(spark, store_path, seeds, tmp_path / "run")
    assert engine_trace_rows(eng) == [tuple(t) for t in golden.trace]
    got_seen = {
        (r.seed_idx, r.url_canon)
        for r in eng.seen_df().select("seed_idx", "url_canon").collect()
    }
    assert got_seen == golden.seen


def expire_one_host_and_check(eng):
    """Expire seed 0's URLs on one host and re-crawl: expired URLs are
    re-fetched exactly once, in original fetch order; still-seen URLs
    (including links re-extracted from re-fetched pages) are not; the
    seen table ends fully repopulated."""
    trace_before = engine_trace_rows(eng)
    seen_before = {
        (r.seed_idx, r.url_canon) for r in eng.seen.read().collect()
    }
    host = trace_before[0][4]
    pred = (F.col("seed_idx") == 0) & F.col("url_canon").contains(f"//{host}/")
    expired = sorted(
        (r.first_seq, r.url_canon)
        for r in eng.seen.read().filter(pred).collect()
    )
    assert len(expired) > 1
    eng.expire_and_recrawl(pred)

    trace_after = engine_trace_rows(eng)
    # re-fetched rows: seed 0 with fetch_seq past the old per-seed max
    # (the trace is ordered by (seed_idx, fetch_seq), so the new seed-0
    # rows are interleaved after the old seed-0 block, not at the tail)
    old_max = max(q for (s, q, *_r) in trace_before if s == 0)
    new_rows = [r for r in trace_after if r[0] == 0 and r[1] > old_max]
    # every expired URL re-fetched exactly once, in original order
    assert [r[3] for r in new_rows] == [u for _seq, u in expired]
    assert len(new_rows) == len(expired)
    # seen table fully repopulated, nothing else double-fetched
    seen_after = {(r.seed_idx, r.url_canon) for r in eng.seen.read().collect()}
    assert seen_after == seen_before
    assert len(trace_after) == len(trace_before) + len(expired)


def test_expire_and_recrawl_cuckoo(spark, crawl_setup, filter_forced_on):
    """TTL re-crawl through the deletable cuckoo filter."""
    spec, store, store_path, seeds, golden, base = crawl_setup
    eng = run_engine(
        spark,
        store_path,
        seeds,
        base / "run_ttl",
        bloom=BloomConfig(enabled=True, mode="cuckoo", n_bits=1 << 16, n_shards=8),
    )
    expire_one_host_and_check(eng)


def test_compact_every_trace_exact_and_fewer_files(spark, crawl_setup):
    """compact_every: the crawl result is bit-identical to the golden
    trace, the side tables end with far fewer live files, and exact
    resume across a compaction boundary still works (torn-round shape)."""
    spec, store, store_path, seeds, golden, base = crawl_setup
    eng = run_engine(
        spark, store_path, seeds, base / "run_cmp", compact_every=2
    )
    assert engine_trace_rows(eng) == [tuple(t) for t in golden.trace]
    # a no-compaction run of the same crawl for the file-count baseline
    ref = run_engine(spark, store_path, seeds, base / "run_cmp_ref")
    assert eng.trace.live_file_count() < ref.trace.live_file_count()
    assert eng.seen.live_file_count() < ref.seen.live_file_count()

    # torn round on top of a compacted table, then resume
    eng.trace.append(eng.trace.read().limit(3))
    eng.seen.append(eng.seen.read().limit(2))
    from grabspark.config import EngineConfig
    from grabspark.engine import CrawlEngine

    eng2 = CrawlEngine(
        spark,
        EngineConfig(
            run_dir=str(base / "run_cmp"), store_path=store_path, compact_every=2
        ),
    )
    eng2.resume()
    assert engine_trace_rows(eng2) == [tuple(t) for t in golden.trace]
    seen_got = {
        (r.seed_idx, r.url_canon)
        for r in eng2.seen_df().select("seed_idx", "url_canon").collect()
    }
    assert seen_got == golden.seen


def test_engine_robots_wildcard_e2e(spark, crawl_setup, tmp_path):
    """cfg.robots_path end-to-end with RFC 9309 wildcard patterns: denied
    candidates are never scheduled, never fetched, never marked seen, and
    the surviving trace keeps exact reference order — verified against a
    robots-aware run of the independent oracle transliteration (the REP
    matcher below is an independent reimplementation of the engine's
    Catalyst pattern->regex conversion)."""
    import re

    from grabspark import robots as robots_mod

    spec, store, store_path, seeds, golden, base = crawl_setup
    host0 = seeds[0].split("/")[2]
    host1 = seeds[1].split("/")[2]
    rules = [
        (host0, "/p*3", False, 1.0),  # mid-pattern wildcard
        (host0, "/", True, 1.0),
        (host1, "/p5$", False, 1.0),  # end anchor
    ]

    def conv(pat: str) -> str:
        anchored = pat.endswith("$")
        body = pat[:-1] if anchored else pat
        return "^" + re.escape(body).replace(r"\*", ".*") + ("$" if anchored else "")

    def allowed(url: str) -> bool:
        canon = oracle.normalize_url(url)
        m = re.match(r"^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]*", canon)
        path = canon[m.end():] if m else canon
        path = path or "/"
        try:
            host = oracle.go_hostname(oracle.go_parse(url).netloc)
        except oracle.GoParseError:
            host = ""
        best = None
        for h, pat, alw, _ in rules:
            if h == host and re.match(conv(pat), path):
                key = (len(pat), alw)
                best = key if best is None or key > best else best
        return True if best is None else best[1]

    # robots-aware transliteration of oracle.crawl: deny at push time,
    # no seen-marking for denied URLs
    expected = []
    for seed_idx, seed in enumerate(seeds):
        to_visit = [seed] if allowed(seed) else []
        visited: set[str] = set()
        seq = 0
        while to_visit:
            url = to_visit.pop(0)
            canon = oracle.normalize_url(url)
            if canon in visited:
                continue
            visited.add(canon)
            ok, _title, _content, links = oracle.scrape_and_extract(store.by_id, url)
            try:
                host = oracle.go_hostname(oracle.go_parse(url).netloc)
            except oracle.GoParseError:
                host = ""
            expected.append((seed_idx, seq, url, canon, host, ok))
            if ok:
                for link in links:
                    if oracle.normalize_url(link) not in visited and allowed(link):
                        to_visit.append(link)
            seq += 1

    # the rules must actually bite (p3 on host0 / p5 on host1 are linked)
    assert len(expected) < len(golden.trace)

    rules_path = str(tmp_path / "rules.parquet")
    spark.createDataFrame(rules, robots_mod.RULES_SCHEMA).write.parquet(rules_path)
    eng = run_engine(
        spark, store_path, seeds, tmp_path / "run_rb",
        bloom=BloomConfig(enabled=False), robots_path=rules_path,
    )
    assert engine_trace_rows(eng) == expected
    # denied URLs are not in the seen table either (re-evaluated, not marked)
    seen = {r.url_canon for r in eng.seen.read().select("url_canon").collect()}
    assert not {u for u in seen if re.match(r".*://" + re.escape(host0) + r"/p.*3$", u)}


# ---------------------------------------------------------------------------
# Seen-filter size gate: the filter is neither probed nor updated while the
# seen table fits the broadcast threshold, and is built once from the seen
# table the first round it does not.

_FILTER_MODES = {
    "broadcast": BloomConfig(enabled=True),
    "cuckoo": BloomConfig(enabled=True, mode="cuckoo", n_bits=1 << 16, n_shards=8),
}


def round_metric(eng, metric) -> dict[int, float]:
    return {
        r["round"]: r["value"]
        for r in eng.metrics_df()
        .filter((F.col("scope") == "round") & (F.col("metric") == metric))
        .collect()
    }


def pinned_seen(eng) -> dict[int, tuple[int, int]]:
    """Round -> (bytes, rows) of the seen snapshot its start pins."""
    out = {}
    for v in range(eng.frontier.current_version() + 1):
        m = eng.frontier.meta(v)
        out[int(m["round"])] = (eng.seen.data_bytes(m["seen_v"]), eng.seen.row_count(m["seen_v"]))
    return out


def filter_key_count(eng) -> int:
    """Keys the seen filter holds: Bloom insertions, or occupied cuckoo
    slots (one per inserted, not deleted key)."""
    from grabspark.cuckoo import PartitionedCuckoo

    if isinstance(eng.pbloom, PartitionedCuckoo):
        return sum(int((np.load(p) != 0).sum()) for p in eng.pbloom.shard_files().values())
    return eng.bloom.n_inserted


def full_state(eng):
    """Every trace column, the seen rows with first_seq, and the round
    counters: what a resumed run must reproduce bit for bit."""
    trace = [tuple(r) for r in eng.trace_df().orderBy("seed_idx", "fetch_seq").collect()]
    seen = sorted(tuple(r) for r in eng.seen_df().collect())
    counters = sorted(
        (r["round"], r["metric"], r["value"])
        for r in eng.metrics_df().filter(F.col("scope") == "round").collect()
    )
    return trace, seen, counters


@pytest.fixture(scope="module")
def crossing_threshold(engine_run):
    """A threshold the seen table outgrows mid-crawl: between the bytes
    rounds 1 and 2 of the default run pin."""
    pinned = pinned_seen(engine_run)
    assert max(pinned) >= 4, "the crawl must outlast the crossing"
    assert pinned[1][0] < pinned[2][0]
    return (pinned[1][0] + pinned[2][0]) // 2


@pytest.fixture(scope="module")
def crossing_runs(spark, crawl_setup, crossing_threshold):
    """One straight crawl per filter mode under the crossing threshold."""
    spec, store, store_path, seeds, golden, base = crawl_setup
    runs = {}
    with broadcast_threshold(spark, crossing_threshold):
        for mode, bloom in _FILTER_MODES.items():
            runs[mode] = run_engine(spark, store_path, seeds, base / f"run_cross_{mode}", bloom=bloom)
    return runs


def test_default_threshold_gates_every_round(engine_run):
    """At the default broadcast threshold the small crawl never engages
    the filter: every round is gated and nothing is built."""
    n_rounds = int(engine_run.frontier.meta()["round"])
    assert round_metric(engine_run, "seen_filter_gated") == {r: 1.0 for r in range(n_rounds)}
    assert round_metric(engine_run, "seen_filter_built_keys") == {}
    assert int(engine_run.frontier.meta()["bloom_v"]) == 0
    assert engine_run.bloom.n_inserted == 0


@pytest.mark.parametrize("mode", sorted(_FILTER_MODES))
def test_seen_filter_built_once_at_crossing(crossing_runs, crawl_setup, crossing_threshold, mode):
    *_, golden, _ = crawl_setup
    eng = crossing_runs[mode]
    assert engine_trace_rows(eng) == [tuple(t) for t in golden.trace]
    seen = {(r.seed_idx, r.url_canon) for r in eng.seen_df().collect()}
    assert seen == golden.seen
    # gated exactly while the pinned seen snapshot fit the threshold,
    # built once, from that snapshot, the first round it did not
    n_rounds = int(eng.frontier.meta()["round"])
    pinned = pinned_seen(eng)
    cross = min(r for r in range(n_rounds) if pinned[r][0] > crossing_threshold)
    assert 1 <= cross <= n_rounds - 2, "the crossing must fall mid-crawl"
    assert round_metric(eng, "seen_filter_gated") == {r: 1.0 for r in range(cross)}
    assert round_metric(eng, "seen_filter_built_keys") == {cross: float(pinned[cross][1])}
    assert int(eng.frontier.meta()["bloom_v"]) > 0
    # build + per-round updates inserted every seen key exactly once
    assert filter_key_count(eng) == len(golden.seen)


@pytest.mark.parametrize("mode", sorted(_FILTER_MODES))
def test_torn_round_at_crossing_resumes_exact(spark, crawl_setup, crossing_runs, crossing_threshold, mode, tmp_path):
    """Tear the build round after its filter build, trace, seen and
    filter update have landed but before its frontier commit; resume
    must rebuild from the pinned snapshot and end bit-identical to the
    straight run."""
    spec, store, store_path, seeds, golden, base = crawl_setup
    straight = crossing_runs[mode]
    cross = min(round_metric(straight, "seen_filter_built_keys"))
    run_dir = tmp_path / "run"
    with broadcast_threshold(spark, crossing_threshold):
        cfg = EngineConfig(
            run_dir=str(run_dir), store_path=store_path, bloom=_FILTER_MODES[mode], max_rounds=cross
        )
        eng = CrawlEngine(spark, cfg)
        eng.start(seeds)

        def torn(*args, **kwargs):
            raise RuntimeError("torn round")

        eng.frontier.commit_prepared = torn
        eng.cfg.max_rounds = None
        with pytest.raises(RuntimeError, match="torn round"):
            eng.run()
        assert int(eng.frontier.meta()["round"]) == cross
        assert int(eng.frontier.meta()["bloom_v"]) == 0

        eng2 = CrawlEngine(spark, EngineConfig(
            run_dir=str(run_dir), store_path=store_path, bloom=_FILTER_MODES[mode]
        ))
        eng2.resume()
    assert full_state(eng2) == full_state(straight)
    assert filter_key_count(eng2) == filter_key_count(straight)
    if mode == "broadcast":
        assert np.array_equal(eng2.bloom._bits, straight.bloom._bits)


@pytest.mark.parametrize("mode", ["partitioned", "bogus"])
def test_unknown_filter_mode_raises(spark, crawl_setup, mode, tmp_path):
    """A mode other than broadcast/cuckoo is an error, raised before the
    engine writes anything under its run dir."""
    spec, store, store_path, seeds, golden, base = crawl_setup
    run_dir = tmp_path / "run"
    cfg = EngineConfig(
        run_dir=str(run_dir), store_path=store_path, bloom=BloomConfig(enabled=True, mode=mode)
    )
    with pytest.raises(ValueError, match="'broadcast' or 'cuckoo'"):
        CrawlEngine(spark, cfg)
    assert not run_dir.exists()


@pytest.mark.parametrize("mode", sorted(_FILTER_MODES))
def test_start_resets_seen_filter(spark, crawl_setup, filter_forced_on, mode, tmp_path):
    """start() begins from an empty v0 filter, also on an engine that has
    already crawled: a second start equals a fresh engine's, filter
    included."""
    from grabspark.bloom import ShardedBloom

    spec, store, store_path, seeds, golden, base = crawl_setup
    bloom = _FILTER_MODES[mode]
    eng = run_engine(spark, store_path, seeds, tmp_path / "reused", bloom=bloom)
    assert filter_key_count(eng) > 0
    seeds_b = seeds[1:]
    eng.cfg.max_rounds = 0  # stop at the state start() commits
    eng.start(seeds_b)
    assert int(eng.frontier.meta()["bloom_v"]) == 0
    assert filter_key_count(eng) == 0
    if mode == "broadcast":
        v0 = ShardedBloom.load(eng._bloom_dir(0))
        assert v0.n_inserted == 0 and not v0._bits.any()
    eng.cfg.max_rounds = None
    eng.run()

    fresh = run_engine(spark, store_path, seeds_b, tmp_path / "fresh", bloom=bloom)
    assert full_state(eng) == full_state(fresh)
    assert filter_key_count(eng) == filter_key_count(fresh)


@pytest.mark.parametrize("mode", sorted(_FILTER_MODES))
def test_probe_broadcast_destroyed_next_round(spark, crawl_setup, filter_forced_on, mode, tmp_path):
    """Each probing round ships its filter probe as a broadcast; the next
    probing round destroys the previous one, in both modes."""
    spec, store, store_path, seeds, golden, base = crawl_setup
    eng = run_engine(
        spark, store_path, seeds, tmp_path / "run", bloom=_FILTER_MODES[mode], max_rounds=2
    )
    first = eng._bloom_bc  # round 1's probe (round 0 has nothing to probe)
    assert first is not None and first._jbroadcast.isValid()
    eng.cfg.max_rounds = 3
    eng.run()
    second = eng._bloom_bc
    assert second is not None and second is not first
    assert not first._jbroadcast.isValid()
    assert second._jbroadcast.isValid()


@pytest.mark.parametrize("mode", sorted(_FILTER_MODES))
def test_no_commit_renames_a_file_over_another(spark, crawl_setup, filter_forced_on, mode, tmp_path, monkeypatch):
    """ext4 flushes a freshly written file synchronously when it is
    renamed over an existing one (~50 ms).  Every rename a 2-round crawl
    makes, snapshot and cuckoo commits included, must have a symlink as
    its source or a destination that does not exist yet."""
    spec, store, store_path, seeds, golden, base = crawl_setup
    renames = []

    def spy(real):
        def rename(src, dst, *args, **kwargs):
            renames.append((str(src), str(dst), os.path.islink(src), os.path.lexists(dst)))
            return real(src, dst, *args, **kwargs)

        return rename

    monkeypatch.setattr(os, "replace", spy(os.replace))
    monkeypatch.setattr(os, "rename", spy(os.rename))
    eng = run_engine(
        spark, store_path, seeds, tmp_path / "run", bloom=_FILTER_MODES[mode], max_rounds=2
    )
    monkeypatch.undo()
    assert eng.frontier.meta()["round"] == 2  # rounds 0 and 1 committed
    over_files = [(src, dst) for src, dst, link, exists in renames if exists and not link]
    assert not over_files
    # the commits did run through the spy, the cuckoo filter's included
    dsts = {os.path.dirname(dst) for _src, dst, _link, _exists in renames}
    assert {eng.frontier.path, eng.trace.path, eng.seen.path, eng.metrics.path} <= dsts
    if mode == "cuckoo":
        assert eng.pbloom.dirpath in dsts


@pytest.mark.parametrize("mode", ["broadcast", "cuckoo"])
def test_recrawl_before_and_after_filter_built(spark, crawl_setup, crossing_threshold, mode, tmp_path):
    """TTL re-crawl on an unbuilt filter only deletes seen rows and the
    filter stays unbuilt; on a built one it maintains the filter, which
    ends holding exactly the seen keys."""
    spec, store, store_path, seeds, golden, base = crawl_setup
    bloom = _FILTER_MODES[mode]
    eng = run_engine(spark, store_path, seeds, tmp_path / "gated", bloom=bloom)
    assert int(eng.frontier.meta()["bloom_v"]) == 0
    expire_one_host_and_check(eng)
    assert int(eng.frontier.meta()["bloom_v"]) == 0
    assert filter_key_count(eng) == 0

    with broadcast_threshold(spark, crossing_threshold):
        eng = run_engine(spark, store_path, seeds, tmp_path / "built", bloom=bloom)
        built_v = int(eng.frontier.meta()["bloom_v"])
        assert built_v > 0
        expire_one_host_and_check(eng)
    assert int(eng.frontier.meta()["bloom_v"]) > built_v
    assert filter_key_count(eng) == len(golden.seen)


def test_recrawl_then_torn_round_keeps_pinned_bloom(spark, crawl_setup, filter_forced_on, tmp_path, monkeypatch):
    """Broadcast filter versions are named from the pinned bloom_v: the
    round after a TTL re-crawl must not overwrite the filter snapshot the
    re-crawl's commit pins, so a resume after that round tears loads
    exactly the filter the re-crawl saved."""
    from grabspark import engine as engine_mod

    spec, store, store_path, seeds, golden, base = crawl_setup
    run_dir = tmp_path / "run"
    eng = run_engine(spark, store_path, seeds, run_dir)
    saved = {}
    straight_run = eng.run

    def run_then_tear():
        # the re-crawl's frontier commit has landed: keep the filter
        # bytes it pins, then tear the next round before its commit
        v = int(eng.frontier.meta()["bloom_v"])
        with open(os.path.join(eng._bloom_dir(v), "bloom.npz"), "rb") as fh:
            saved.update(v=v, npz=fh.read())
        saved["bloom"] = engine_mod.ShardedBloom.load(eng._bloom_dir(v))

        def torn(*args, **kwargs):
            raise RuntimeError("torn round")

        eng.frontier.commit_prepared = torn
        return straight_run()

    eng.run = run_then_tear
    host = seeds[0].split("/")[2]
    pred = (F.col("seed_idx") == 0) & F.col("url_canon").contains(f"//{host}/")
    n_expired = eng.seen.read().filter(pred).count()
    with pytest.raises(RuntimeError, match="torn round"):
        eng.expire_and_recrawl(pred)
    assert int(eng.frontier.meta()["bloom_v"]) == saved["v"]
    with open(os.path.join(eng._bloom_dir(saved["v"]), "bloom.npz"), "rb") as fh:
        assert fh.read() == saved["npz"]

    loaded = []
    load = engine_mod.ShardedBloom.load

    def recording_load(dirpath):
        b = load(dirpath)
        loaded.append((b._bits.tobytes(), b.n_inserted))
        return b

    monkeypatch.setattr(engine_mod.ShardedBloom, "load", staticmethod(recording_load))
    eng2 = CrawlEngine(spark, EngineConfig(run_dir=str(run_dir), store_path=store_path))
    eng2.resume()
    assert loaded[0] == (saved["bloom"]._bits.tobytes(), saved["bloom"].n_inserted)
    seen = {(r.seed_idx, r.url_canon) for r in eng2.seen_df().collect()}
    assert seen == golden.seen
    assert eng2.trace.row_count() == len(golden.trace) + n_expired


def test_bloom_update_collects_one_row_per_shard(spark, crawl_setup, filter_forced_on, tmp_path, monkeypatch):
    """A broadcast Bloom update OR-merges its partials executor-side, so
    the driver receives at most one row per shard however many input
    partitions (a round's trace batch has one per host bucket) built
    them; the crawl and the filter's key count stay as they were."""
    from grabspark import engine as engine_mod

    spec, store, store_path, seeds, golden, base = crawl_setup
    bloom = BloomConfig(enabled=True)
    rows_per_merge = []
    merge = engine_mod.merge_partials_into

    def spy(b, rows):
        rows_per_merge.append(len(rows))
        return merge(b, rows)

    monkeypatch.setattr(engine_mod, "merge_partials_into", spy)
    eng = run_engine(spark, store_path, seeds, tmp_path / "run", bloom=bloom)
    monkeypatch.undo()
    assert len(rows_per_merge) >= 3  # one update per round, several rounds
    assert max(rows_per_merge) <= bloom.n_shards
    assert engine_trace_rows(eng) == [tuple(t) for t in golden.trace]
    seen = {(r.seed_idx, r.url_canon) for r in eng.seen_df().collect()}
    assert seen == golden.seen
    assert filter_key_count(eng) == len(golden.seen)
