"""Unit tests: snapshot tables (CK1), sequence assignment (W2), robots
matching (X3)."""

import itertools
import json
import os
import threading
import uuid

import pytest
from pyspark.sql import functions as F

from grabspark import robots as robots_mod
from grabspark import seq as seq_mod
from grabspark.snapshots import SnapshotTable


# -- snapshots ---------------------------------------------------------------

def test_snapshot_append_overwrite_rollback(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    df = lambda *vals: spark.createDataFrame([(v,) for v in vals], "x int")
    v0 = t.overwrite(df(1, 2), meta={"round": 0})
    v1 = t.append(df(3), meta={"round": 1})
    assert t.row_count() == 3
    assert {r.x for r in t.read().collect()} == {1, 2, 3}
    # time travel
    assert {r.x for r in t.read(v0).collect()} == {1, 2}
    assert {r.x for r in t.read_delta(v1).collect()} == {3}
    # meta accumulates on append
    assert t.meta()["round"] == 1
    # rollback points CURRENT at the old state via a NEW version
    v2 = t.rollback(v0)
    assert v2 > v1
    assert {r.x for r in t.read().collect()} == {1, 2}
    # commit_meta keeps data, bumps meta
    t.commit_meta({"note": "x"})
    assert t.meta()["note"] == "x"
    assert t.row_count() == 2


def test_snapshot_empty_read_has_schema(spark, tmp_path):
    from grabspark.seen import SEEN_SCHEMA

    t = SnapshotTable(spark, str(tmp_path / "e"), SEEN_SCHEMA)
    t.overwrite(spark.createDataFrame([], SEEN_SCHEMA))
    got = t.read()
    assert got.count() == 0
    assert got.schema == SEEN_SCHEMA
    # a fresh handle recovers the schema from the manifest
    t2 = SnapshotTable(spark, str(tmp_path / "e"))
    assert t2.read().schema == SEEN_SCHEMA


def test_snapshot_current_pointer_is_atomic_file(spark, tmp_path):
    """CURRENT is a symlink (swapped by one atomic rename) that resolves
    to the committed manifest, and every file it lists exists."""
    t = SnapshotTable(spark, str(tmp_path / "a"))
    t.overwrite(spark.createDataFrame([(1,)], "x int"))
    cur = os.path.join(str(tmp_path / "a"), "CURRENT")
    assert os.path.exists(cur)
    assert os.path.islink(cur)
    v = t.current_version()
    assert os.readlink(cur) == f"snapshots/v{v}.json"
    m = json.load(open(os.path.join(str(tmp_path / "a"), "snapshots", f"v{v}.json")))
    assert json.load(open(cur)) == m and m["version"] == v
    assert all(os.path.exists(f) for f in m["files"])


@pytest.fixture(params=["snapshot", "cuckoo"])
def pointer_table(request, spark, tmp_path):
    """(table, root dir, commit) for both users of the CURRENT pointer
    protocol: ``commit()`` makes one new version without a Spark job."""
    root = str(tmp_path / request.param)
    if request.param == "snapshot":
        t = SnapshotTable(spark, root)
        t.overwrite(spark.createDataFrame([(1,), (2,)], "x int"))
        n = itertools.count()
        return t, root, lambda: t.commit_meta({"i": next(n)})
    from grabspark.cuckoo import PartitionedCuckoo

    t = PartitionedCuckoo(root, n_buckets=1 << 4, n_shards=2)
    t.create()
    t.update(spark.createDataFrame([("k1",), ("k2",)], "k string"), "k")
    # alternate between the two real states v0 and v1: every rollback
    # targets the one CURRENT is not, so each is a new version
    return t, root, lambda: t.rollback(1 - t.current_version() % 2)


def test_pointer_reader_never_sees_a_torn_commit(pointer_table):
    """One thread commits 200 versions while another loops on
    current_version() + manifest(): every read sees a committed version,
    never None or an error, and versions never go backwards."""
    table, _root, commit = pointer_table
    v0 = table.current_version()
    reads, errors = [], []
    stop = threading.Event()

    def reader():
        while True:
            last = stop.is_set()  # the final read starts after the last commit
            try:
                v = table.current_version()
                m = table.manifest()
                reads.append((v, m["version"]))
            except Exception as e:  # noqa: BLE001 - the assertion reports it
                errors.append(e)
                return
            if last:
                return

    th = threading.Thread(target=reader)
    th.start()
    try:
        for _ in range(200):
            commit()
    finally:
        stop.set()
        th.join()
    assert not errors
    assert reads and all(v is not None and m >= v for v, m in reads)
    flat = [x for pair in reads for x in pair]
    assert flat == sorted(flat)
    assert reads[-1] == (v0 + 200, v0 + 200)


def test_pointer_ignores_leftover_tmp_link(pointer_table, monkeypatch):
    """A crash between creating the new link and renaming it over
    CURRENT leaves a ``CURRENT.tmp.*`` link: reads still see the last
    committed version, and the next commit proceeds normally."""
    table, root, commit = pointer_table
    v = table.current_version()
    before = table.manifest()

    def crash(src, dst):
        raise OSError("simulated crash before rename")

    monkeypatch.setattr(os, "replace", crash)
    with pytest.raises(OSError, match="simulated crash"):
        commit()
    monkeypatch.undo()
    tmp = [f for f in os.listdir(root) if f.startswith("CURRENT.tmp.")]
    assert len(tmp) == 1 and os.path.islink(os.path.join(root, tmp[0]))
    assert table.current_version() == v
    assert table.manifest() == before
    commit()
    assert table.current_version() == v + 1
    assert table.manifest()["parent"] == v


# -- seq ---------------------------------------------------------------------

@pytest.fixture()
def seq_frontier(spark):
    rows = []
    for seed in (0, 1):
        for ps in (3, 1, 2, -1):
            for li in (2, 0, 1):
                rows.append((seed, f"u{seed}-{ps}-{li}", f"u{seed}-{ps}-{li}", "h", ps, li, 0))
    from grabspark.extract import FRONTIER_SCHEMA

    return spark.createDataFrame(rows, FRONTIER_SCHEMA).repartition(5)


def _seqs(df):
    out = {}
    for r in df.select("seed_idx", "url", "fetch_seq").collect():
        out[(r.seed_idx, r.url)] = r.fetch_seq
    return out


@pytest.fixture()
def counted(spark, monkeypatch):
    """``assign_fetch_seq_counted`` as ``(seqs, n_sched, per_seed,
    branch)``: ``branch`` is "window" or "distributed", whichever the
    threshold picked."""
    branches = []
    real = seq_mod._assign_from_counts

    def spy(*args, **kwargs):
        branches.append("distributed")
        return real(*args, **kwargs)

    monkeypatch.setattr(seq_mod, "_assign_from_counts", spy)

    def run(df, bases, threshold, n_partitions=4):
        branches.clear()
        out, n, per_seed = seq_mod.assign_fetch_seq_counted(df, bases, threshold, n_partitions)
        seqs = _seqs(out)
        spark.catalog.clearCache()  # the range-partitioned input it persisted
        return seqs, n, per_seed, branches[0] if branches else "window"

    return run


# thresholds that force each branch of assign_fetch_seq_counted
_WINDOW, _DISTRIBUTED = 10**9, 0


def test_window_and_distributed_seq_agree(seq_frontier, counted):
    bases = {0: 10, 1: 0}
    got, _, _, branch_w = counted(seq_frontier, bases, _WINDOW)
    d, _, _, branch_d = counted(seq_frontier, bases, _DISTRIBUTED)
    assert (branch_w, branch_d) == ("window", "distributed")
    assert got == d
    # contiguous per seed, starting at the base
    s0 = sorted(v for (s, _), v in got.items() if s == 0)
    assert s0 == list(range(10, 10 + len(s0)))
    # FIFO order: (-1, 0) sorts first within seed 1
    first = min(((k, v) for k, v in got.items() if k[0] == 1), key=lambda kv: kv[1])
    assert first[0][1] == "u1--1-0"


def test_window_and_distributed_seq_agree_many_seeds(spark, counted):
    """The per-seed base expression at >=100 seeds: nonzero bases, zero
    bases, seeds missing from the base map and a seed past its last key
    all number identically on both paths, contiguously from the base."""
    from grabspark.extract import FRONTIER_SCHEMA

    n_seeds = 120
    rows = [
        (seed, f"u{seed}-{ps}", f"u{seed}-{ps}", "h", ps, 0, 0)
        for seed in range(n_seeds)
        for ps in (2, 0, 1)
    ]
    df = spark.createDataFrame(rows, FRONTIER_SCHEMA).repartition(5)
    bases = {s: (s * 37) % 1000 for s in range(0, n_seeds - 10) if s % 7}
    w, _, _, branch_w = counted(df, bases, _WINDOW)
    d, _, _, branch_d = counted(df, bases, _DISTRIBUTED)
    assert (branch_w, branch_d) == ("window", "distributed")
    assert w == d
    for seed in range(n_seeds):
        b = bases.get(seed, 0)
        assert [w[(seed, f"u{seed}-{ps}")] for ps in (0, 1, 2)] == [b, b + 1, b + 2]


def test_assign_auto_threshold(seq_frontier, counted):
    """A round of n rows takes the window at threshold n and the
    distributed path just below it, numbering identically."""
    n = seq_frontier.count()
    small, n_small, per_small, branch_small = counted(seq_frontier, {}, n)
    big, n_big, per_big, branch_big = counted(seq_frontier, {}, n - 1, n_partitions=3)
    assert (branch_small, branch_big) == ("window", "distributed")
    assert small == big
    assert n_small == n_big == n
    assert per_small == per_big == {0: n // 2, 1: n // 2}


# -- robots ------------------------------------------------------------------

def _rules(spark, rows):
    return spark.createDataFrame(rows, robots_mod.RULES_SCHEMA)


def _frontier(spark, urls):
    from grabspark.extract import FRONTIER_SCHEMA

    rows = [
        (0, u, u, u.split("/")[2], i, 0, 0) for i, u in enumerate(urls)
    ]
    return spark.createDataFrame(rows, FRONTIER_SCHEMA)


def test_robots_longest_prefix_wins(spark):
    rules = _rules(
        spark,
        [
            ("h.test", "/", True, 1.0),
            ("h.test", "/private", False, 1.0),
            ("h.test", "/private/open", True, 1.0),
        ],
    )
    f = _frontier(
        spark,
        [
            "http://h.test/a",
            "http://h.test/private/x",
            "http://h.test/private/open/y",
            "http://other.test/anything",  # no rules -> allowed
        ],
    )
    got = {r.url for r in robots_mod.apply_robots(f, rules).collect()}
    assert got == {
        "http://h.test/a",
        "http://h.test/private/open/y",
        "http://other.test/anything",
    }


def test_robots_host_delays(spark):
    rules = _rules(spark, [("a.test", "/", True, 2.5), ("a.test", "/x", False, 0.5)])
    got = {r.host: r.crawl_delay for r in robots_mod.host_delays(rules, 1.0).collect()}
    assert got == {"a.test": 2.5}


# -- bucket partitioning + row-level ops (D5, §2.5) --------------------------


def test_snapshot_bucket_partitioned_pruned_read(spark, tmp_path):
    from pyspark.sql import functions as F

    from grabspark.snapshots import SnapshotTable

    df = spark.range(200).select(
        F.col("id"), (F.col("id") % 4).cast("int").alias("bucket")
    )
    t = SnapshotTable(spark, str(tmp_path / "tb"), partition_col="bucket")
    t.overwrite(df)
    t.append(
        spark.range(200, 300).select(
            F.col("id"), (F.col("id") % 4).cast("int").alias("bucket")
        )
    )
    m = t.manifest()
    assert m["parts"], "manifest must index files by bucket"
    files_b1 = t.files_for_bucket(1)
    assert 0 < len(files_b1) < len(m["files"])
    got = sorted(r.id for r in t.read(bucket=1).collect())
    want = sorted(i for i in range(300) if i % 4 == 1)
    assert got == want
    # bucket column survives in the data files
    assert "bucket" in t.read(bucket=1).columns


def test_snapshot_upsert_copy_on_write(spark, tmp_path):
    from pyspark.sql import functions as F

    from grabspark.snapshots import SnapshotTable

    base = spark.range(100).select(
        F.col("id"), (F.col("id") % 4).cast("int").alias("bucket"),
        F.lit("old").alias("val"),
    )
    t = SnapshotTable(spark, str(tmp_path / "up"), partition_col="bucket")
    t.overwrite(base)
    before = t.manifest()
    # update rows in bucket 2 only + insert new ids (buckets 0/2)
    upd = spark.createDataFrame(
        [(2, 2, "new"), (6, 2, "new"), (1000, 0, "ins")], ["id", "bucket", "val"]
    )
    t.upsert(upd, keys=["id"])
    after = t.manifest()
    # untouched buckets' files carried over verbatim
    untouched = [f for f, b in before["parts"].items() if b in (1, 3)]
    assert untouched and all(f in after["files"] for f in untouched)
    rows = {r.id: r.val for r in t.read().collect()}
    assert rows[2] == "new" and rows[6] == "new" and rows[1000] == "ins"
    assert rows[3] == "old" and len(rows) == 101


def test_snapshot_delete_where(spark, tmp_path):
    from pyspark.sql import functions as F

    from grabspark.snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "del"))
    t.overwrite(spark.range(50).select(F.col("id")))
    t.delete_where(F.col("id") < 20)
    got = sorted(r.id for r in t.read().collect())
    assert got == list(range(20, 50))
    assert t.row_count() == 30
    # rollback restores the pre-delete snapshot (time travel)
    t.rollback(0)
    assert t.row_count() == 50


def test_snapshot_compact_preserves_rows_and_history(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "cmp"))
    df = lambda a, b: spark.range(a, b).select(F.col("id"))
    v0 = t.overwrite(df(0, 100))
    for i in range(1, 6):
        t.append(df(i * 100, i * 100 + 100))
    pre = t.manifest()
    n_files_pre = t.live_file_count()
    assert n_files_pre >= 6
    vc = t.compact()
    # same rows, far fewer files
    assert t.row_count() == 600
    assert sorted(r.id for r in t.read().collect()) == list(range(600))
    assert t.live_file_count() < n_files_pre
    # time travel: pre-compaction versions still read their own files
    assert sorted(r.id for r in t.read(v0).collect()) == list(range(100))
    assert t.manifest(pre["version"])["files"] == pre["files"]
    # rollback across the compaction boundary
    t.rollback(v0)
    assert t.row_count() == 100
    # appends after a rollback-over-compaction chain normally
    t.append(df(1000, 1010))
    assert t.row_count() == 110
    # meta carried through the compaction commit
    assert t.manifest(vc)["meta"] == pre["meta"]


def test_snapshot_compact_bucketed_one_file_per_bucket(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "cmpb"), partition_col="bucket")
    mk = lambda a, b: spark.range(a, b).select(
        F.col("id"), (F.col("id") % 4).cast("int").alias("bucket")
    )
    t.overwrite(mk(0, 100))
    for i in range(1, 5):
        t.append(mk(i * 100, i * 100 + 100))
    n_files_pre = t.live_file_count()
    t.compact()
    m = t.manifest()
    # exactly one file per live bucket, all indexed in parts
    assert len(m["files"]) == 4 < n_files_pre
    assert sorted(set(m["parts"].values())) == [0, 1, 2, 3]
    # bucket-pruned read still exact after the rewrite
    got = sorted(r.id for r in t.read(bucket=2).collect())
    assert got == [i for i in range(500) if i % 4 == 2]
    assert len(t.files_for_bucket(2)) == 1


def test_write_batch_bucketed_layout_rows_and_order(spark, tmp_path):
    """A bucketed batch is parquet files only, one per (task, bucket) under
    ``_pb=<v>/``, with none of Hadoop's commit files (``_SUCCESS``,
    ``.crc``, ``_temporary``).  Manifest rows and per-file buckets come
    from the writers; a null bucket lands in Hive's default dir with no
    bucket entry; each file keeps its task's row order."""
    import pyarrow.parquet as pq

    t = SnapshotTable(spark, str(tmp_path / "wb"), partition_col="bucket")
    df = spark.range(0, 90, numPartitions=3).select(
        F.col("id"),
        F.when(F.col("id") % 10 == 0, F.lit(None))
        .otherwise(F.col("id") % 3)
        .cast("int")
        .alias("bucket"),
    )
    m = t.manifest(t.overwrite(df))
    (batch,) = {f.split(os.sep + "_pb=")[0] for f in m["files"]}
    on_disk = sorted(os.path.join(r, f) for r, _d, fs in os.walk(batch) for f in fs)
    assert on_disk == m["files"] and len(on_disk) == 3 * 4
    assert m["rows"] == 90 == sum(pq.ParquetFile(f).metadata.num_rows for f in on_disk)
    for f in on_disk:
        ids = pq.read_table(f).column("id").to_pylist()
        buckets = set(pq.read_table(f).column("bucket").to_pylist())
        assert ids == sorted(ids)
        seg = os.path.basename(os.path.dirname(f))
        if seg == "_pb=__HIVE_DEFAULT_PARTITION__":
            assert f not in m["parts"] and buckets == {None}
        else:
            assert buckets == {m["parts"][f]} == {int(seg.split("=")[1])}
    assert sorted(r.id for r in t.read().collect()) == list(range(90))
    assert sorted(r.id for r in t.read(bucket=1).collect()) == [
        i for i in range(90) if i % 10 and i % 3 == 1
    ]


def test_write_batch_unbucketed_and_empty(spark, tmp_path):
    """An unbucketed batch writes one parquet file per non-empty task
    straight into its batch dir; an empty batch writes no file and
    commits an empty ``added`` list."""
    t = SnapshotTable(spark, str(tmp_path / "wu"))
    m = t.manifest(t.overwrite(spark.range(0, 10, numPartitions=4)))
    (batch,) = {os.path.dirname(f) for f in m["files"]}
    assert sorted(os.path.join(batch, f) for f in os.listdir(batch)) == m["files"]
    assert len(m["files"]) == 4 and m["rows"] == 10
    v = t.append(spark.createDataFrame([], "id long"))
    assert t.manifest(v)["added"] == [] and t.row_count() == 10
    assert t.read_delta(v).count() == 0
    assert sorted(r.id for r in t.read().collect()) == list(range(10))


def test_parse_robots_txt_to_rules(spark):
    body = "\n".join([
        "# comment",
        "User-agent: googlebot",
        "Disallow: /only-gbot",
        "",
        "USER-AGENT: *",          # case-insensitive key
        "Disallow: /private  # inline comment",
        "Allow: /private/ok",
        "Crawl-delay: 2.5",
        "Disallow:",              # empty = allow-all, no rule
    ])
    bodies = spark.createDataFrame(
        [("h1.test", body), ("h2.test", "User-agent: *\nCrawl-delay: 7")],
        "host string, body string",
    )
    rules = robots_mod.parse_robots_txt(bodies)
    got = sorted(map(tuple, rules.collect()))
    assert got == [
        ("h1.test", "/private", False, 2.5),
        ("h1.test", "/private/ok", True, 2.5),
        ("h2.test", "", True, 7.0),   # delay carrier row
    ]
    # parsed rules drive the matcher: longest prefix wins
    fr = spark.createDataFrame(
        [("h1.test", "http://h1.test/private/ok/x"),
         ("h1.test", "http://h1.test/private/no"),
         ("h1.test", "http://h1.test/only-gbot"),   # foreign group ignored
         ("h2.test", "http://h2.test/anything")],
        "host string, url_canon string",
    )
    kept = {r.url_canon for r in robots_mod.apply_robots(fr, rules).collect()}
    assert kept == {
        "http://h1.test/private/ok/x",
        "http://h1.test/only-gbot",
        "http://h2.test/anything",
    }
    delays = {r.host: r.crawl_delay for r in robots_mod.host_delays(rules, 1.0).collect()}
    assert delays == {"h1.test": 2.5, "h2.test": 7.0}


def test_expire_snapshots_reclaims_compacted_files(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "exp"))
    df = lambda a, b: spark.range(a, b).select(F.col("id"))
    t.overwrite(df(0, 100))
    for i in range(1, 4):
        t.append(df(i * 100, i * 100 + 100))
    vc = t.compact()
    # all pre-compaction data files = the last pre-compact manifest's list
    old_files = set(t.manifest(vc - 1)["files"])
    assert all(os.path.exists(f) for f in old_files)
    stats = t.expire_snapshots(keep_last=1)
    # every pre-compaction snapshot gone, their files reclaimed
    assert stats["removed_snapshots"] == vc
    assert stats["removed_files"] == len(old_files)
    assert not any(os.path.exists(f) for f in old_files)
    assert stats["freed_bytes"] > 0
    # current snapshot intact and readable
    assert t.current_version() == vc
    assert sorted(r.id for r in t.read().collect()) == list(range(400))
    assert all(os.path.exists(f) for f in t.manifest()["files"])
    # appends continue normally
    t.append(df(1000, 1010))
    assert t.row_count() == 410
    # idempotent
    again = t.expire_snapshots(keep_last=2)
    assert again["removed_files"] == 0 and again["removed_snapshots"] == 0


def test_expire_keeps_files_shared_with_live_snapshots(spark, tmp_path):
    """A file referenced by both an expired and a kept snapshot must
    survive (append-chains share files across versions)."""
    t = SnapshotTable(spark, str(tmp_path / "shr"))
    df = lambda a, b: spark.range(a, b).select(F.col("id"))
    t.overwrite(df(0, 50))        # v0
    t.append(df(50, 100))         # v1 references v0's files too
    v1_files = set(t.manifest(1)["files"])
    stats = t.expire_snapshots(keep_last=1)  # expires v0 only
    assert stats["removed_snapshots"] == 1
    assert stats["removed_files"] == 0  # v0's files all live on in v1
    assert all(os.path.exists(f) for f in v1_files)
    assert sorted(r.id for r in t.read().collect()) == list(range(100))


def test_robots_wildcard_patterns(spark):
    """RFC 9309 patterns: '*' spans octets, trailing '$' anchors, other
    metacharacters are literal, longest pattern wins, allow wins ties."""
    rules = _rules(
        spark,
        [
            ("h.test", "/", True, 1.0),
            ("h.test", "/*.pdf$", False, 1.0),          # deny pdf anywhere
            ("h.test", "/private/*/secret", False, 1.0),
            ("h.test", "/a+b", False, 1.0),              # literal '+'
            ("h.test", "/tie*", False, 1.0),             # length-5 deny ...
            ("h.test", "/tie/", True, 1.0),              # ... length-5 allow: tie -> allow
        ],
    )
    f = _frontier(
        spark,
        [
            "http://h.test/docs/file.pdf",      # denied by /*.pdf$
            "http://h.test/docs/file.pdfx",     # $ anchor: allowed
            "http://h.test/private/a/secret",   # denied by mid-pattern *
            "http://h.test/private/secret",     # '*' needs the extra '/': allowed
            "http://h.test/a+b",                # literal '+': denied
            "http://h.test/aab",                # must NOT match '/a+b' as regex
            "http://h.test/tie/x",              # deny/allow tie at length 5 -> allow
        ],
    )
    got = {r.url for r in robots_mod.apply_robots(f, rules).collect()}
    assert got == {
        "http://h.test/docs/file.pdfx",
        "http://h.test/private/secret",
        "http://h.test/aab",
        "http://h.test/tie/x",
    }


def test_snapshot_prepare_commit_split_and_torn_prepare(spark, tmp_path):
    """prepare_overwrite/commit_prepared == overwrite on disk; a crash
    BETWEEN prepare and commit (engine.py runs the data write overlapped
    with other tables' jobs) leaves only an unreferenced batch dir —
    reads at every committed version are unaffected and expire_snapshots
    still never deletes referenced files."""
    t = SnapshotTable(spark, str(tmp_path / "pc"))
    df = lambda *vals: spark.createDataFrame([(v,) for v in vals], "x int")
    v0 = t.overwrite(df(1, 2), meta={"round": 0})

    # normal prepared commit: same observable result as overwrite()
    prep = t.prepare_overwrite(df(3, 4, 5))
    v1 = t.commit_prepared(prep, meta={"round": 1})
    assert v1 > v0
    assert {r.x for r in t.read().collect()} == {3, 4, 5}
    assert t.meta()["round"] == 1
    assert {r.x for r in t.read(v0).collect()} == {1, 2}

    # torn prepare: write the batch, then "crash" (never commit)
    orphan_files, _, _ = t.prepare_overwrite(df(99))
    assert all(os.path.exists(f) for f in orphan_files)
    # a fresh handle (resume) sees the committed state only
    t2 = SnapshotTable(spark, str(tmp_path / "pc"))
    assert t2.current_version() == v1
    assert {r.x for r in t2.read().collect()} == {3, 4, 5}
    m = t2.manifest(v1)
    assert not set(orphan_files) & set(m["files"])


def test_concurrent_same_table_commits_are_serialized(spark, tmp_path):
    """The engine overlaps round jobs from driver threads; two commits
    racing on ONE table must both land (the per-instance commit lock) —
    an unserialized read-modify-write pair would both read parent v,
    both write v+1, and silently drop one."""
    from concurrent.futures import ThreadPoolExecutor

    from grabspark.snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "race"))
    df = spark.createDataFrame([(i,) for i in range(10)], "x int")
    with ThreadPoolExecutor(4) as pool:
        versions = list(pool.map(lambda i: t.append(df, meta={"i": i}), range(8)))
    assert sorted(versions) == list(range(8))
    assert t.row_count() == 80
    with ThreadPoolExecutor(4) as pool:
        mv = list(pool.map(lambda i: t.commit_meta({f"k{i}": i}), range(8)))
    assert len(set(mv)) == 8
    meta = t.meta()
    assert all(f"k{i}" in meta for i in range(8))


def test_snapshot_reads_submit_no_spark_job(spark, tmp_path):
    """read()/read_delta() use the committed schema, so building the
    DataFrame runs no schema-inference job."""
    from grabspark.seen import SEEN_SCHEMA

    t = SnapshotTable(spark, str(tmp_path / "nojob"), SEEN_SCHEMA)
    v0 = t.overwrite(spark.createDataFrame([(0, "a", 0, 0)], SEEN_SCHEMA))
    v1 = t.append(spark.createDataFrame([(0, "b", 1, 1)], SEEN_SCHEMA))
    sc = spark.sparkContext
    group = f"snapshot-read-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "snapshot reads")
    try:
        frames = [t.read(), t.read(v0), t.read_delta(v1)]
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        # the group does catch jobs: running the reads submits some
        assert [f.count() for f in frames] == [2, 1, 1]
        assert sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert all(f.schema == SEEN_SCHEMA for f in frames)


def test_snapshot_manifest_records_data_bytes(spark, tmp_path):
    """Every commit records its data-file byte total; a manifest without
    one falls back to stat-ing its files."""
    t = SnapshotTable(spark, str(tmp_path / "bytes"))
    df = lambda *vals: spark.createDataFrame([(v,) for v in vals], "x int")

    def stat(v):
        return sum(os.path.getsize(f) for f in t.manifest(v)["files"])

    v0 = t.overwrite(df(1, 2))
    v1 = t.append(df(3))
    v2 = t.commit_meta({"note": "x"})
    v3 = t.rollback(v0)
    for v in (v0, v1, v2, v3):
        assert t.manifest(v)["bytes"] == stat(v) == t.data_bytes(v)
    assert t.data_bytes(v1) > t.data_bytes(v0) > 0
    path = os.path.join(str(tmp_path / "bytes"), "snapshots", f"v{v1}.json")
    m = json.load(open(path))
    del m["bytes"]
    json.dump(m, open(path, "w"))
    assert t.data_bytes(v1) == stat(v1)
