"""Plan-quality guards: pushdown, pruning, broadcast, partial aggregation.

These pin the physical-plan properties the 100 TB design depends on —
if a refactor silently turns a broadcast join into a shuffle join or
breaks scan pruning, these fail."""

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q1_filter_pushdown(spark):
    from grabspark.ops.relational import q1_pricing_summary

    p = plan(q1_pricing_summary(spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p
    # column pruning: only the needed columns reach the scan
    assert "l_partkey" not in p.split("ReadSchema")[1].split("\n")[0]
    # map-side partial aggregation before the shuffle
    assert "partial_" in p.lower() or "HashAggregate" in p


def test_fetch_join_store_scan_pruned(spark, tmp_path):
    from grabspark import synth
    from grabspark.fetch import fetch_and_validate

    store = synth.build_store(synth.StoreSpec(n_hosts=2, pages_per_host=4))
    sp = str(tmp_path / "store.parquet")
    synth.write_store_parquet(store, sp)
    store_df = spark.read.parquet(sp)
    sched = spark.createDataFrame(
        [(0, 0, 0, "http://host0.test/p0", "http://host0.test/p0", "host0.test", -1, 0)],
        "seed_idx int, fetch_seq long, round int, url string, url_canon string, host string, parent_seq long, link_idx int",
    )
    p = plan(fetch_and_validate(sched, store_df, broadcast_store=True))
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" not in p
    assert "BroadcastHashJoin" in p


def test_dim_joins_are_broadcast(spark):
    from grabspark.ops.relational import fetch_lookup_join, per_host_budget

    assert "BroadcastHashJoin" in plan(fetch_lookup_join(spark, SF))
    assert "BroadcastHashJoin" in plan(per_host_budget(spark, SF))


def test_dedupe_is_single_shuffle_partial_agg(spark, tmp_path):
    """A1 uses groupBy+min_by: ONE Exchange with a partial_min_by on the
    map side (sort-based combine), and no Window (a window implementation
    would shuffle everything then sort per partition with no combine)."""
    from grabspark.extract import FRONTIER_SCHEMA, dedupe_first_occurrence

    d = str(tmp_path / "f")
    spark.createDataFrame(
        [(0, "http://h.test/p1", "http://h.test/p1", "h.test", 1, 0, 0)], FRONTIER_SCHEMA
    ).write.parquet(d)
    import re

    p = plan(dedupe_first_occurrence(spark.read.parquet(d)))
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1  # one shuffle node
    assert "partial_min_by" in p
    assert "Window" not in p


def test_anti_join_shape(spark):
    from grabspark.ops.relational import anti_join_unseen

    p = plan(anti_join_unseen(spark, SF))
    assert "LeftAnti" in p
    # only the join key is read from the orders side
    read = [ln for ln in p.splitlines() if "ReadSchema" in ln and "o_custkey" in ln]
    assert read and all("o_totalprice" not in ln for ln in read)


def test_no_cartesian_in_ops(spark):
    import __spark_entry__ as e

    qs = e.queries()
    for name in [
        "dedup_minhash_lsh",
        "knn_per_label",
        "window_rank_per_host",
        "ann_pq_topk",
        "image_caption_dedup",
        "ngram_counts",
    ]:
        p = plan(qs[name](spark, SF))
        assert "CartesianProduct" not in p, name


def test_ngram_counts_topk_never_global_sorts(spark):
    """Corpus bigram top-k must plan as TakeOrderedAndProject over a
    partial-agg groupBy — a global Sort of the distinct-bigram table
    would be the wrong shape at vocabulary scale."""
    from grabspark.ops.textstats import ngram_counts

    p = plan(ngram_counts(spark, SF))
    assert "TakeOrderedAndProject" in p
    assert "partial_count" in p or "partial_" in p.lower()


def test_pq_codebook_joins_are_broadcast(spark):
    """PQ assignment and ADC both join against the 16-row codebook: the
    plan must broadcast it (BroadcastNestedLoopJoin over the literal-
    small side), and the ADC lookup join must be a broadcast hash join —
    a shuffle of the code table would defeat the 8-byte-per-vector
    point."""
    from grabspark.ops.similarity import ann_pq_topk

    p = plan(ann_pq_topk(spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p  # (m, code_id) ADC lookup
    assert "TakeOrderedAndProject" in p  # both top-k stages


def test_image_caption_dedup_reads_signature_columns_only(spark):
    """The joint dedup must never touch pixel bytes: its corpus scan
    reads (image_id, phash, caption) only."""
    import re

    from grabspark.ops.images import image_caption_dedup

    p = plan(image_caption_dedup(spark, SF))
    assert "CartesianProduct" not in p
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", p):
        assert "bytes" not in m.group(1)


def test_single_url_parse_pass_in_bench_round(spark):
    """The combined url_parts UDF must evaluate ONCE per row even though
    three fields are projected out of its struct (CollapseProject does
    not duplicate non-cheap PythonUDFs)."""
    import re

    from grabspark import udfs
    from grabspark.extract import dedupe_first_occurrence

    df = spark.createDataFrame(
        [(0, "http://h.test/p/", 1, 0, 0)],
        "seed_idx int, url string, parent_seq long, link_idx int, birth_round int",
    )
    out = (
        df.withColumn("_p", udfs.url_parts_udf(F.col("url")))
        .select("*", "_p.url_canon", "_p.host", "_p.fetch_key")
        .drop("_p")
    )
    p = plan(dedupe_first_occurrence(out))
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", p)) == 1


def test_links_to_frontier_parses_each_link_once(spark):
    """The same-host Filter reads the url_parts struct: pushing it below
    the projection would copy the UDF into the predicate, parsing every
    link twice and holding a second Python worker per task."""
    import re

    from grabspark.extract import links_to_frontier

    trace = spark.createDataFrame(
        [(0, "h.test", 1, True, ["http://h.test/a", "http://x.test/b"])],
        "seed_idx int, host string, fetch_seq long, ok boolean, links array<string>",
    )
    seen = spark.createDataFrame([(0, "http://h.test/")], "seed_idx int, url_canon string")
    out = links_to_frontier(trace, seen, 1)
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan(out))) == 1
    assert [(r.url, r.host, r.parent_seq, r.link_idx) for r in out.collect()] == [
        ("http://h.test/a", "h.test", 1, 0)
    ]


def test_no_data_collect_in_graded_queries():
    """grep-style guard: every .collect() in the package is metadata-
    scale (bitmap partials, shard filenames, per-partition counters,
    touched-bucket ids) — never data rows (VERDICT r1, What's wrong #2)."""
    import os

    pkg = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "grabspark")
    allowed = (
        "partials",          # bloom partial bitmaps (fixed size per shard)
        "count().collect",   # per-partition row counts (seq assignment)
        "shard id, filename",  # cuckoo-filter manifest rows
        "stats",             # per-seed round counters
        "self.partition_col",  # touched-bucket ids (bounded by n_buckets)
        "scalar aggregate",  # global max/min reduced to one row
        "report-sized",      # audit reports (few rows), materialized to
                             # let producers unpersist intermediates
    )
    bad = []
    for root, _dirs, files in os.walk(pkg):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            with open(path) as f:
                lines = f.readlines()
            for i, ln in enumerate(lines):
                if ".collect()" not in ln:
                    continue
                ctx = "".join(lines[max(0, i - 6) : i + 1])
                if not any(a in ctx for a in allowed):
                    bad.append(f"{path}:{i + 1}: {ln.strip()}")
    assert not bad, "data-scale collect() calls:\n" + "\n".join(bad)


def test_lsh_index_scan_prunes_partitions(spark):
    """ann_lsh_index_topk's candidate scan must prune the persisted
    (t, bhi)-partitioned index via static PartitionFilters — the 100 TB
    claim is that a probe reads only probed directories, never the whole
    store."""
    import os
    import re

    from grabspark.ops import similarity as sim

    cand = sim._lsh_index_candidates(spark, SF)
    # the static probe predicate must reach the scan as a PARTITION
    # filter (not a post-scan Filter): formatted explain shows it on the
    # FileScan's PartitionFilters line, bhi included.  Losing this (e.g.
    # a join-based probe, or filtering a non-partition column) is the
    # regression this guards.
    p = plan(cand)
    m = re.search(r"PartitionFilters: \[([^\n]*)\]", p)
    assert m and "bhi" in m.group(1) and m.group(1).strip(), p
    # pruning effect on the layout: the probed (t, bhi) pairs cover
    # strictly fewer directories than the index holds — hamming-1 probes
    # of an 8-bit bucket touch <=5 of the 16 4-bit prefixes per table
    path = sim._lsh_index_path(spark, SF)
    n_dirs = sum(
        1
        for t in os.listdir(path)
        if t.startswith("t=")
        for b in os.listdir(os.path.join(path, t))
        if b.startswith("bhi=")
    )
    pairs = sim._query_probe_pairs(spark, SF)
    probed = {(t, b[:4]) for t, b in pairs}
    assert 0 < len(probed) < n_dirs, (len(probed), n_dirs)
    assert len(probed) <= sim._N_TABLES * 5


def test_incremental_corpus_band_join_no_exchange_on_corpus(spark):
    """dedup_incremental's scale property: the batch probe joins the
    bucketed corpus band table WITHOUT shuffling the corpus — only the
    (small) batch side exchanges."""
    import re

    from grabspark.ops import dedup as dd

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try:
        bands_tbl, _sigs_tbl = dd._inc_corpus_tables(spark, SF)
        probe = spark.createDataFrame(
            [(0, "1|2|3")], "band int, bucket string"
        )
        j = probe.join(spark.table(bands_tbl), ["band", "bucket"])
        p = plan(j)
        assert "Bucketed: true" in p
        # exactly one exchange: the probe side; the bucketed corpus none
        assert len(re.findall(r"\(\d+\) Exchange", p)) == 1, p
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")


def _url_of(k):
    """A page URL over 16 hosts for integer column ``k``."""
    return F.concat(
        F.lit("http://h"), (k % 16).cast("string"), F.lit(".test/p"), k.cast("string")
    )


def _seen_rows(spark, n):
    """``n`` seen-table rows of seed 0, one per page ``0..n-1``."""
    return spark.range(n).select(
        F.lit(0).alias("seed_idx"),
        _url_of(F.col("id")).alias("url_canon"),
        F.col("id").alias("first_seq"),
        F.lit(0).alias("round"),
    )


def test_bucketed_seen_join_has_no_exchange_on_big_side(spark, tmp_path):
    """The scale layout (BENCH/BASELINE.md): seen stored bucketed on
    url_canon means the per-round anti-join shuffles ONLY the candidate
    side.  Regression guard on the plan shape."""
    import re

    from grabspark import bench_core

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try:
        name, path = "seen_plan_guard", str(tmp_path / "seen_tbl")
        bench_core.write_bucketed(_seen_rows(spark, 5000), name, path, ["url_canon"])
        cand = spark.createDataFrame(
            [(0, f"http://h{i % 16}.test/p{i}") for i in range(100)],
            "seed_idx int, url_canon string",
        )
        j = cand.join(
            spark.table(name).select("seed_idx", "url_canon"),
            ["url_canon"],
            "left_anti",
        )
        p = plan(j)
        # exactly one exchange: the candidate side; the bucketed scan none
        assert len(re.findall(r"\(\d+\) Exchange", p)) == 1
        assert "Bucketed: true" in p
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_frontier_round_prefix_is_one_exchange(spark, tmp_path):
    """A round's candidate stream must shuffle ONCE: the explicit
    url_canon repartition feeds both the dedupe aggregate (subset-key
    ClusteredDistribution) and the anti-join against the url_canon-
    bucketed seen table (co-partitioned).  Without the repartition,
    Catalyst plans two full candidate shuffles — the r3 (4,16) scaling
    breakdown's 0.30-efficiency stage."""
    import re

    from grabspark import bench_core, udfs
    from grabspark.extract import dedupe_first_occurrence

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try:
        name, path = "seen_onex_guard", str(tmp_path / "seen_tbl")
        bench_core.write_bucketed(_seen_rows(spark, 2000), name, path, ["url_canon"])
        seen = spark.table(name).select("seed_idx", "url_canon")
        # 1000 rows over 700 pages, every fifth with a trailing slash:
        # dedupe and canonicalisation both have work to do
        k = F.col("id") % 700
        cand = (
            spark.range(1000)
            .select(
                F.lit(0).alias("seed_idx"),
                F.concat(
                    _url_of(k), F.when(k % 5 == 0, F.lit("/")).otherwise(F.lit(""))
                ).alias("url"),
                F.col("id").alias("parent_seq"),
                F.lit(0).alias("link_idx"),
                F.lit(0).alias("birth_round"),
            )
            .withColumn("_p", udfs.url_parts_udf(F.col("url")))
            .select("*", "_p.url_canon", "_p.host", "_p.fetch_key")
            .drop("_p")
            .repartition(64, "url_canon")  # write_bucketed's bucket count
        )
        j = dedupe_first_occurrence(cand).join(
            seen, ["seed_idx", "url_canon"], "left_anti"
        )
        p = plan(j)
        assert len(re.findall(r"\(\d+\) Exchange", p)) == 1
        assert "Bucketed: true" in p
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_corpus_curation_single_shuffle(spark):
    """The composed curation pipeline (cleanup -> bounds -> quality gate
    -> lang ID -> exact near-dup collapse) must stay one scan + one
    exchange: every projection/filter collapses into the scan pass and
    only the dedup groupBy shuffles, with a partial aggregate below it."""
    import re

    from grabspark.ops import textstats

    p = plan(textstats.corpus_curation(spark, "/root/testdata/sf0.001"))
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1
    # partial aggregation below the exchange (two aggregate nodes total)
    assert len(re.findall(r"\(\d+\) (?:Sort|Hash|ObjectHash)Aggregate", p)) == 2
    # column pruning: the scan reads only doc_id + text
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert sorted(c.split(":")[0] for c in m.group(1).split(",")) == ["doc_id", "text"]


def test_decontaminate_bench_side_is_broadcast(spark):
    """Decontamination's 100 TB contract: the benchmark gram set is the
    small side and must broadcast — the corpus stream is filtered
    map-side with no corpus shuffle at the join (only the matched rows
    reach the count-distinct aggregate)."""
    from grabspark.ops import dedup

    p = plan(dedup.decontaminate(spark, SF))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_repetition_signals_partial_agg(spark):
    """Both repetition aggregates must keep map-side partials (4 agg
    nodes: partial+final per groupBy) and read only doc_id + text."""
    import re

    from grabspark.ops import textstats

    p = plan(textstats.repetition_signals(spark, SF))
    assert len(re.findall(r"\(\d+\) (?:Sort|Hash|ObjectHash)Aggregate", p)) == 4
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert sorted(c.split(":")[0] for c in m.group(1).split(",")) == ["doc_id", "text"]


def test_stratified_sample_rank_limit_pushes_down(spark):
    """The sampler's 100 TB contract: ONE exchange, with Catalyst's
    Partial WindowGroupLimit (rank-limit pushdown) BELOW it so each map
    partition ships at most k rows per stratum — the reducer never sorts
    a whole language stratum."""
    import re

    from grabspark.ops import textstats

    p = plan(textstats.stratified_sample(spark, SF))
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1
    partial = re.search(r"\(\d+\) WindowGroupLimit[\s\S]*?Partial", p)
    assert partial is not None, "map-side Partial WindowGroupLimit missing"
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert sorted(c.split(":")[0] for c in m.group(1).split(",")) == ["doc_id", "lang"]


def test_image_curation_no_cartesian_single_kernel_pass(spark):
    """Curation's 100 TB contract: the decode kernel result is persisted
    (pixels read once, reused by the banded self-join) and candidates
    come from the bucket equi-join — never a cartesian product."""
    from grabspark.ops import images

    p = plan(images.image_curation(spark, SF))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "InMemoryTableScan" in p or "TableCacheQueryStage" in p


def test_sessionize_single_exchange_shared_sort(spark):
    """Sessionization's 100 TB contract: ONE exchange on user_id serves
    the lag window, the running-sum window, and the per-session
    aggregate (all clustered by a superset of user_id); both windows
    share one sort and the aggregate keeps its map-side partial."""
    import re

    from grabspark.ops import relational

    p = plan(relational.sessionize_events(spark, SF))
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1
    assert len(re.findall(r"\(\d+\) Window", p)) == 2
    assert len(re.findall(r"\(\d+\) Sort", p)) == 1
    assert len(re.findall(r"\(\d+\) \w*HashAggregate", p)) == 2


def test_chunk_documents_is_pure_map(spark):
    """Chunking's 100 TB contract: zero exchanges — the transform +
    posexplode pipeline is a pure map over the pruned (doc_id, text)
    scan."""
    import re

    from grabspark.ops import textstats

    p = plan(textstats.chunk_documents(spark, SF))
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 0
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert sorted(c.split(":")[0] for c in m.group(1).split(",")) == ["doc_id", "text"]


def test_pagerank_iteration_joins_never_cartesian(spark):
    """PageRank's 100 TB contract: each iteration joins the edge table
    with the NODE-sized rank table (broadcast at this scale) and
    re-aggregates with a partial agg — no cartesian products anywhere in
    the unrolled 3-iteration plan."""
    from grabspark.ops.crawlgraph import pagerank_hosts

    p = plan(pagerank_hosts(spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p


def test_zorder_layout_single_partial_agg_no_window(spark):
    """The layout audit's 100 TB contract: the Morton key and both file
    assignments are map-side expressions; the audit is ONE partial-agg
    groupBy — no join, no window, no global sort."""
    import re

    from grabspark.ops.relational import zorder_layout_plan

    p = plan(zorder_layout_plan(spark, SF))
    assert "Join" not in p and "Window" not in p and "CartesianProduct" not in p
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1
    assert "partial_" in p.lower()


def test_hits_iteration_joins_never_cartesian(spark):
    """HITS's 100 TB contract (same as PageRank's): each half-iteration
    joins the edge table with the NODE-sized score table — broadcast at
    host cardinality — and re-aggregates with a map-side partial; the
    normalization max reaches the scores as a broadcast scalar.  No
    cartesian products anywhere in the unrolled 2-iteration plan."""
    from grabspark.ops.crawlgraph import hits_hosts

    p = plan(hits_hosts(spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p
    assert "partial_sum" in p or "partial_" in p.lower()


def test_phash_knn_banded_join_and_rank_limit(spark):
    """phash_knn's scale contract: candidates come from the banded
    equi-join (never all-pairs), and the per-image top-k window pushes a
    partial WindowGroupLimit below the exchange so map output is bounded
    at k rows per image."""
    from grabspark.ops.crawlgraph import phash_knn

    p = plan(phash_knn(spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "WindowGroupLimit" in p


def test_oov_rate_vocab_is_broadcast(spark):
    """The top-k-bounded vocab must broadcast to the exploded gram
    stream: the expensive side shuffles only for the final per-doc
    aggregate, never to co-partition with a 100-row table."""
    from grabspark.ops.textstats import oov_rate

    p = plan(oov_rate(spark, SF))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_warc_parse_is_single_exchange_map_parse(spark):
    """WARC parsing's scale contract: the parse direction (regexp field
    extraction + zip + posexplode) is a pure map — the plan's only
    exchange belongs to the per-host blob CONSTRUCTION agg, which at
    scale is replaced by reading pre-materialized archives."""
    import re

    from grabspark.ops.relational import warc_parse

    p = plan(warc_parse(spark, SF))
    assert "CartesianProduct" not in p
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1


def test_recrawl_priority_broadcast_scalar_and_rank_limit(spark):
    """Re-crawl scheduling's scale contract: the global-max row reaches
    the per-host aggregate via broadcast (never a shuffle to co-partition
    with one row), and the priority rank is a bounded top-k — Catalyst
    rewrites the row_number()+filter into TakeOrderedAndProject (map-side
    partial top-100 per partition, single merge) or at minimum pushes a
    WindowGroupLimit; either way the per-host table is never globally
    sorted."""
    from grabspark.ops.relational import recrawl_priority

    p = plan(recrawl_priority(spark, SF))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p or "WindowGroupLimit" in p
    assert "CartesianProduct" not in p


def test_url_template_mining_no_join_bounded_topk(spark):
    """Trap mining's scale contract: the frontier is never joined (pure
    scan -> project -> distinct agg), and the rank is a bounded top-k
    (TakeOrderedAndProject / WindowGroupLimit), never a global sort of
    all templates."""
    from grabspark.ops.relational import url_template_mining

    p = plan(url_template_mining(spark, SF))
    assert "Join" not in p and "CartesianProduct" not in p
    assert "TakeOrderedAndProject" in p or "WindowGroupLimit" in p


def test_frontier_snapshot_diff_is_joinless_union_agg(spark):
    """Snapshot diff's scale contract: the two snapshots are diffed by
    union + conditional aggregate (ONE shuffle of the combined snapshot,
    map-side combine), never a full outer join (two sorted sides)."""
    import re

    from grabspark.ops.relational import frontier_snapshot_diff

    p = plan(frontier_snapshot_diff(spark, SF))
    assert "Join" not in p and "CartesianProduct" not in p
    assert len(re.findall(r"\(\d+\) Exchange", p)) <= 2


def test_politeness_schedule_broadcast_dim_and_rank_limit(spark):
    """The timetable's scale contract: the crawl-delay dimension joins
    by BROADCAST (never shuffles the frontier for a 10-row dim), and the
    horizon filter pushes a Partial WindowGroupLimit below the single
    host exchange so no map partition ships more than the horizon."""
    import re

    from grabspark.ops.relational import politeness_schedule

    p = plan(politeness_schedule(spark, SF))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p
    partial = re.search(r"\(\d+\) WindowGroupLimit[\s\S]*?Partial", p)
    assert partial is not None, "map-side Partial WindowGroupLimit missing"


def test_mixture_weights_partial_agg_pruned_scan(spark):
    """Mixture weights at 100 TB: the corpus pass is ONE partial-agg
    groupBy over a 2-column pruned scan; the windows that follow touch
    only the #langs-row aggregate."""
    from grabspark.ops.textstats import mixture_weights

    p = plan(mixture_weights(spark, SF))
    assert "partial_" in p.lower()
    scan_schema = p.split("ReadSchema")[1].split("\n")[0]
    assert "lang" in scan_schema and "text" in scan_schema
    assert "doc_id" not in scan_schema and "source" not in scan_schema


def test_caption_alignment_no_join_single_exchange(spark):
    """Alignment scoring's contract: phash rides through the vote
    aggregate as a grouping key, so the plan has NO join and exactly one
    (non-broadcast) exchange — the score itself is map-side integer ops."""
    import re

    from grabspark.ops.images import caption_alignment

    p = plan(caption_alignment(spark, SF))
    assert "Join" not in p and "CartesianProduct" not in p
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1


def test_bpe_merge_candidates_bounded_topk(spark):
    """BPE mining: two partial-agg groupBys and a TakeOrderedAndProject
    top-k — the full pair table is never globally sorted."""
    import re

    from grabspark.ops.textstats import bpe_merge_candidates

    p = plan(bpe_merge_candidates(spark, SF))
    assert "TakeOrderedAndProject" in p
    assert "Join" not in p
    assert len(re.findall(r"\(\d+\) Exchange", p)) <= 2


def test_source_quality_rollup_single_exchange(spark):
    """Domain gate: ONE partial-agg exchange on source over a pruned
    (source, text) scan."""
    import re

    from grabspark.ops.textstats import source_quality_rollup

    p = plan(source_quality_rollup(spark, SF))
    assert "partial_" in p.lower()
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1
    scan_schema = p.split("ReadSchema")[1].split("\n")[0]
    assert "doc_id" not in scan_schema and "lang" not in scan_schema


def test_image_cluster_reps_no_cartesian_banded_candidates(spark):
    """Cluster-reps' 100 TB contract: one Arrow kernel pass feeds both
    signals, near-dup candidates come from the 4x16-band equi-join
    (SortMergeJoin/ShuffledHashJoin on (band, bucket)) — never an
    all-pairs cartesian — and the survivor argmax is a per-component
    window, not a global sort."""
    from grabspark.ops import images

    p = plan(images.image_cluster_reps(spark, SF))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "RunningWindowFunction" in p or "Window" in p


def test_redirect_resolution_log_joins_no_cartesian(spark):
    """Pointer doubling's 100 TB contract: resolving a 10-hop ceiling
    costs ceil(log2(10)) = 4 frontier joins (plus the edge-doubling
    joins), every one an equi-join on a URL key — never a cartesian —
    and the left side passes terminal rows through untouched."""
    import re

    from grabspark.ops.relational import redirect_resolution

    p = plan(redirect_resolution(spark, SF))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    joins = len(re.findall(r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", p))
    # 4 frontier hops + 4 edge doublings; a per-hop walk would need 9+
    assert joins <= 8, joins


def test_anchor_text_topk_partial_agg_before_window(spark):
    """Anchor aggregation's 100 TB contract: the raw link set is reduced
    by a map-side partial aggregate BEFORE any shuffle, and the top-k is
    a per-target window over the reduced rows (no global sort)."""
    from grabspark.ops.relational import anchor_text_topk

    p = plan(anchor_text_topk(spark, SF))
    assert "partial_count" in p or "partial_" in p.lower()
    assert "Window" in p
    assert "CartesianProduct" not in p


def test_pack_sequences_single_exchange_pruned_scan(spark):
    """Sequence packing's 100 TB contract: one hash exchange on the
    (lang, shard) key feeds the per-shard running-sum window — no second
    shuffle, no UDF — and the scan reads only the columns it needs."""
    import re

    from grabspark.ops.textstats import pack_sequences

    p = plan(pack_sequences(spark, SF))
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1
    assert "Window" in p
    scan_schema = p.split("ReadSchema")[1].split("\n")[0]
    assert "source" not in scan_schema and "n_chars" not in scan_schema


def test_image_batch_buckets_metadata_only_scan(spark):
    """AR bucketing's 100 TB contract: the batching decision reads
    METADATA ONLY — the binary payload column never leaves the parquet
    scan — and one hash exchange on the bucket key feeds a single fused
    Window node (rank + bucket count share partitioning AND ordering)."""
    import re

    from grabspark.ops import images

    p = plan(images.image_batch_buckets(spark, SF))
    scan_schema = p.split("ReadSchema")[1].split("\n")[0]
    assert "bytes" not in scan_schema and "fmt" not in scan_schema
    assert len(re.findall(r"\n\(\d+\) Exchange", p)) == 1
    assert "CartesianProduct" not in p


def test_boilerplate_strip_one_exchange_no_udf(spark):
    """Boilerplate stripping's 100 TB contract: page assembly + per-line
    features are a pure map (posexplode of a transform), the lag/lead
    smoothing and the ordered re-assembly share ONE hash exchange on
    doc_id, and nothing drops to a Python UDF."""
    import re

    from grabspark.ops.textstats import boilerplate_strip

    p = plan(boilerplate_strip(spark, SF))
    assert len(re.findall(r"\n\(\d+\) Exchange", p)) == 1
    assert "Window" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p


def test_multimodal_curation_banded_no_cartesian(spark):
    """Multimodal curation's 100 TB contract: dup-image candidates come
    from the banded int64 equi-join (never a cartesian), alignment votes
    are ONE partial aggregate, and the disposition is a map-side CASE."""
    from grabspark.ops import images

    p = plan(images.multimodal_curation(spark, SF))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "partial_" in p.lower()
    assert "Window" in p


def test_circuit_breaker_single_host_exchange_no_join(spark):
    """Gaps-and-islands breaker: hashpartitioning(host) from the first
    window satisfies the (host, ok) window and both rollup groupBys, so
    the log moves through exactly ONE exchange, with no join."""
    from grabspark.ops.relational import host_circuit_breaker

    import re

    p = plan(host_circuit_breaker(spark, SF))
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1, p
    assert "Join" not in p


def test_weighted_sample_is_take_ordered_not_full_sort(spark):
    """Efraimidis-Spirakis top-K must plan as TakeOrderedAndProject
    (map-side partial top-K) — a global Sort would shuffle the corpus."""
    from grabspark.ops.textstats import weighted_sample

    p = plan(weighted_sample(spark, SF))
    assert "TakeOrderedAndProject" in p
    assert "Exchange rangepartitioning" not in p


def test_pixel_dedup_shuffles_hash_not_pixels(spark):
    """The canonical-hash window is the only exchange, and the shuffled
    row carries (image_id, pixel_md5) only — bytes never move."""
    from grabspark.ops.images import image_pixel_dedup

    import re

    p = plan(image_pixel_dedup(spark, SF))
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1, p
    assert "hashpartitioning(pixel_md5" in p
    assert "Window" in p
    # the shuffled row is the Arrow kernel's (image_id, pixel_md5) output:
    # the binary column never appears above the scan/kernel boundary
    above_kernel = p.split("MapInPandas")[0]
    assert "bytes" not in above_kernel, above_kernel


def test_recall_reports_release_their_caches(spark):
    """ann_recall_report and phash_band_recall persist their candidate /
    signature intermediates for the duration of one invocation ONLY —
    repeated gate runs on a long-lived session must not accumulate
    cached partitions (VERDICT r3 #3 / ADVICE r3)."""
    from grabspark.ops.images import phash_band_recall
    from grabspark.ops.similarity import ann_recall_report

    def n_persisted():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    # warm the INTENTIONAL session memo (the PQ code table is a
    # build-time artifact) so the steady-state invariant is measured
    assert ann_recall_report(spark, SF).count() > 0
    before = n_persisted()
    assert ann_recall_report(spark, SF).count() > 0
    assert phash_band_recall(spark, SF).count() > 0
    # <= not ==: the ContextCleaner may asynchronously release OTHER
    # tests' dropped frames in this window; the guard is that these two
    # queries add none of their own
    assert n_persisted() <= before


def test_containment_gram_join_ships_keys_only(spark):
    """containment_dedup's 100 TB contract (VERDICT r3 #1): no string
    payload crosses the gram join — every hash exchange in the plan
    carries only keys/counts (never `text` or `snip`), and the verify's
    text joins are candidate-broadcast so neither text table shuffles."""
    import re

    from grabspark.ops.dedup import containment_dedup

    p = plan(containment_dedup(spark, SF))
    assert "CartesianProduct" not in p
    # every shuffle exchange's input schema excludes the text payloads
    # (formatted explain: "(n) Exchange\nInput [..]: [...]")
    for block in re.split(r"\n\n", p):
        first = block.strip().splitlines()[0] if block.strip() else ""
        if re.match(r"\(\d+\) Exchange", first) and "hashpartitioning" in block:
            inp = next(ln for ln in block.splitlines() if ln.startswith("Input"))
            assert "text#" not in inp and "snip#" not in inp, block
    # the candidate set (not the text) is the broadcast side of the verify
    assert "BroadcastHashJoin" in p
    # the gram aggregate never drags text through first()/min()
    assert "first(snip" not in p and "first(text" not in p


def test_sitemap_gate_rules_broadcast_frontier_once(spark):
    """Robots rules are host-sized: every rules-side join must broadcast;
    the customer-scale frontier crosses exactly one hash exchange (the
    longest-match groupBy)."""
    from grabspark.ops.relational import sitemap_robots_gate

    p = plan(sitemap_robots_gate(spark, SF))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p
