#!/usr/bin/env python3
"""crawlbench: time ``CrawlEngine`` end to end on seeded synthetic webs.

    python3 perfbench/run.py --workload bfs_wide --seed 1 --seconds 10 --trace 0

Run from the repository root.  One local Spark session, no more task
threads than CPUs, driver heap sized to the box.  The load is a closed
loop with one client: engine calls back to back, each waiting for the
previous one, until ``--seconds`` of calls have been timed.  Every call's
result is checked against ``tests/oracle.py`` outside the timed window.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` runs the same
loop with the Spark event log on, alternating plain and traced calls
(plain, traced, plain, ...), and reports per-layer metrics folded from
spans and the event log, plus the tracing overhead.  The last stdout line
is one JSON object; the lines before it are a human-readable report with
sample counts and the metrics that are not part of the JSON result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPEATS = 3
# no new engine call starts this long after the process started, so a
# run on a slow box still ends well inside three minutes
DEADLINE_S = 120.0
P90_MIN_SAMPLES = 100

# name -> unit, for every metric of the JSON result
END_TO_END = {
    "setup_s": "s",
    "crawl_s": "s",
    "urls_per_s": "1/s",
    "rounds_per_s": "1/s",
    "round_s_p50": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "seq.wall_s": "s",
    "seq.task_s": "s",
    "seq.shuffle_write_bytes": "bytes",
    "seq.task_skew": "ratio",
    "seq.rows_in": "count",
    "seq.rows_out": "count",
    "seq.yield": "ratio",
    "fetch.wall_s": "s",
    "fetch.task_s": "s",
    "fetch.shuffle_read_bytes": "bytes",
    "fetch.task_skew": "ratio",
    "fetch.rows_out": "count",
    "fetch.ok_ratio": "ratio",
    "extract.wall_s": "s",
    "extract.task_s": "s",
    "extract.links_in": "count",
    "extract.rows_out": "count",
    "extract.push_ratio": "ratio",
    "engine.self_s": "s",
    "engine.rounds": "count",
    "engine.jobs_per_round": "count",
    "engine.stages_per_round": "count",
    "engine.tasks_per_round": "count",
    "snapshots.seen_append_wall_s": "s",
    "snapshots.commit_wall_s": "s",
    "snapshots.files_written": "count",
    "snapshots.live_files_end": "count",
    "metrics.wall_s": "s",
    "seen_filter.update_wall_s": "s",
    "tracing.overhead_s": "s",
}
# per-layer metrics printed in the report only: each is zero at benchmark
# scale or on one of the workloads (a filter family or code path it does
# not run), so it cannot be compared run to run
REPORT_ONLY = {
    "seq.spill_bytes": "bytes",
    "extract.shuffle_read_bytes": "bytes",
    "extract.spill_bytes": "bytes",
    "snapshots.delete_wall_s": "s",
    "bloom.broadcast_wall_s": "s",
    "bloom.update_wall_s": "s",
    "bloom.bypassed_rounds": "count",
    "cuckoo.update_wall_s": "s",
    "cuckoo.delete_wall_s": "s",
}
# (layer, span name) -> wall metric
SPAN_WALLS = {
    ("seq", "assign_fetch_seq_counted"): "seq.wall_s",
    ("fetch", "trace_append"): "fetch.wall_s",
    ("extract", "frontier_prepare"): "extract.wall_s",
    ("snapshots", "seen_append"): "snapshots.seen_append_wall_s",
    ("snapshots", "frontier_commit"): "snapshots.commit_wall_s",
    ("snapshots", "seen_delete"): "snapshots.delete_wall_s",
    ("metrics", "metrics_append"): "metrics.wall_s",
    ("bloom", "broadcast"): "bloom.broadcast_wall_s",
    ("bloom", "update"): "bloom.update_wall_s",
    ("cuckoo", "update"): "cuckoo.update_wall_s",
    ("cuckoo", "delete"): "cuckoo.delete_wall_s",
}


@dataclass
class Unit:
    """One timed engine call."""

    traced: bool
    t0: float
    t1: float
    rows: int  # trace rows written
    rounds: list[tuple[float, float]]
    errors: list[str]

    @property
    def wall(self) -> float:
        return self.t1 - self.t0


def _tables(eng):
    return {"frontier": eng.frontier, "seen": eng.seen, "trace": eng.trace, "metrics": eng.metrics}


def _new_versions(table, before: int | None) -> list[int]:
    cur = table.current_version()
    start = 0 if before is None else before + 1
    return [] if cur is None else list(range(start, cur + 1))


def _round_commits(frontier, before: int | None) -> list[int]:
    """Frontier versions past ``before`` that committed a round: the round
    counter in their meta went up (a call's own seed or re-crawl overwrite
    leaves it as it was)."""
    out = []
    prev = 0 if before is None else int(frontier.meta(before).get("round", 0))
    for v in _new_versions(frontier, before):
        rnd = int(frontier.meta(v).get("round", 0))
        if rnd > prev:
            out.append(v)
        prev = rnd
    return out


def run_unit(wl, i: int, tracer=None) -> tuple[Unit, object, dict]:
    from tracing import round_walls

    eng = wl.prepare(i)
    before = {k: t.current_version() for k, t in _tables(eng).items()}
    # the trace the call starts from is the one the frontier commit pins
    rows0 = eng.trace.row_count(eng.frontier.meta().get("trace_v"))
    bypassed0 = len(eng.prefilter_bypassed_rounds)
    errors: list[str] = []
    if tracer is not None:
        with tracer.installed(eng):
            t0 = time.time()
            try:
                wl.call(eng, i)
            except Exception as e:  # a failed engine call is a measured outcome
                errors.append(f"engine call raised {e!r}")
            t1 = time.time()
        commits = [s.t1 for s in tracer.spans_between(t0, t1) if s.name == "frontier_commit"]
    else:
        t0 = time.time()
        try:
            wl.call(eng, i)
        except Exception as e:
            errors.append(f"engine call raised {e!r}")
        t1 = time.time()
        # untraced rounds end at the frontier manifests' write times
        commits = [
            os.stat(os.path.join(eng.frontier.path, "snapshots", f"v{v}.json")).st_mtime
            for v in _round_commits(eng.frontier, before["frontier"])
        ]
    unit = Unit(
        traced=tracer is not None,
        t0=t0,
        t1=t1,
        rows=eng.trace.row_count() - rows0,
        rounds=round_walls(t0, t1, commits),
        errors=errors,
    )
    if not errors:
        unit.errors += wl.check(eng, i)
    facts = {"before": before, "bypassed0": bypassed0}
    return unit, eng, facts


def run_units(wl, seconds: float, tracer=None, deadline: float = float("inf")):
    """The closed loop.  Without a tracer: plain calls until ``seconds``
    of calls are timed.  With one: plain, traced, plain, ... ending on a
    plain call, so a warming trend cancels in the overhead.  Returns the
    units and, per checked traced unit, its row counts."""
    units: list[Unit] = []
    traced_rows: list[tuple[Unit, dict]] = []
    timed, i = 0.0, 0
    while True:
        traced = tracer is not None and i % 2 == 1
        unit, eng, facts = run_unit(wl, i, tracer if traced else None)
        units.append(unit)
        timed += unit.wall
        i += 1
        if unit.errors:
            break  # state past a failed call or check is not comparable
        if traced:
            traced_rows.append((unit, layer_rows(unit, eng, facts)))
        if tracer is not None and (i % 2 == 0 or i < 3):
            continue  # end on a plain call, after at least one traced one
        if timed >= seconds or time.time() + unit.wall > deadline:
            break
    return units, traced_rows


def layer_rows(unit: Unit, eng, facts: dict) -> dict[str, float]:
    """Row and file counts of one traced unit, from the engine's own
    counters and the snapshot manifests (read after the unit's window)."""
    from pyspark.sql import functions as F

    out: dict[str, float] = {}
    round0 = 0
    if facts["before"]["frontier"] is not None:
        round0 = int(eng.frontier.meta(facts["before"]["frontier"]).get("round", 0))
    sums = {
        (r["scope"], r["metric"]): r["v"]
        for r in eng.metrics_df()
        .filter(F.col("round") >= round0)
        .groupBy("scope", "metric")
        .agg(F.sum("value").alias("v"))
        .collect()
    }
    out["seq.rows_in"] = sums.get(("round", "frontier_in"), 0.0)
    out["seq.rows_out"] = sums.get(("round", "scheduled"), 0.0)
    out["seq.yield"] = out["seq.rows_out"] / out["seq.rows_in"] if out["seq.rows_in"] else 0.0
    out["fetch.rows_out"] = float(unit.rows)
    ok = sums.get(("round", "fetched_ok"), 0.0)
    out["fetch.ok_ratio"] = ok / unit.rows if unit.rows else 0.0
    out["extract.links_in"] = sums.get(("host", "links_out"), 0.0)
    # committed next frontiers: pushed links plus any deferred backlog
    commits = _round_commits(eng.frontier, facts["before"]["frontier"])
    out["extract.rows_out"] = float(sum(eng.frontier.row_count(v) for v in commits))
    out["extract.push_ratio"] = (
        out["extract.rows_out"] / out["extract.links_in"] if out["extract.links_in"] else 0.0
    )
    files = 0
    for name, table in _tables(eng).items():
        for v in _new_versions(table, facts["before"][name]):
            files += len(table.manifest(v).get("added", []))
    out["snapshots.files_written"] = float(files)
    out["snapshots.live_files_end"] = float(sum(t.live_file_count() for t in _tables(eng).values()))
    out["bloom.bypassed_rounds"] = float(len(eng.prefilter_bypassed_rounds) - facts["bypassed0"])
    return out


def layer_timing(unit: Unit, tracer, log) -> dict[str, float]:
    """Span walls, engine self time and event-log task metrics of one
    traced unit."""
    from tracing import engine_self_s, fold, layer_of_groups

    out = {k: 0.0 for k in SPAN_WALLS.values()}
    spans = tracer.spans_between(unit.t0, unit.t1)
    for s in spans:
        key = SPAN_WALLS.get((s.layer, s.name))
        if key:
            out[key] += s.t1 - s.t0
    out["seen_filter.update_wall_s"] = out["bloom.update_wall_s"] + out["cuckoo.update_wall_s"]
    n_rounds = len(unit.rounds)
    out["engine.self_s"] = sum(engine_self_s(unit.rounds, spans))
    out["engine.rounds"] = float(n_rounds)
    stats, n_jobs, n_stages, n_tasks = fold(log, unit.t0, unit.t1, layer_of_groups(spans))
    out["engine.jobs_per_round"] = n_jobs / n_rounds
    out["engine.stages_per_round"] = n_stages / n_rounds
    out["engine.tasks_per_round"] = n_tasks / n_rounds
    for layer in ("seq", "fetch", "extract"):
        st = stats.get(layer)
        for k in ("task_s", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "task_skew"):
            name = f"{layer}.{k}"
            if name in PER_LAYER or name in REPORT_ONLY:
                out[name] = float(getattr(st, k)) if st is not None else 0.0
    return out


def per_layer(units: list[Unit], traced_rows, tracer, log) -> dict[str, float]:
    """Mean over traced units of each per-layer metric, plus the tracing
    overhead: median traced call minus median plain call."""
    per_unit = [dict(rows, **layer_timing(u, tracer, log)) for u, rows in traced_rows]
    out = {
        k: statistics.fmean(p[k] for p in per_unit) if per_unit else 0.0
        for k in list(PER_LAYER) + list(REPORT_ONLY)
        if k != "tracing.overhead_s"
    }
    plain = [u.wall for u in units if not u.traced]
    traced = [u.wall for u, _ in traced_rows]
    out["tracing.overhead_s"] = _median(traced) - _median(plain) if traced and plain else 0.0
    return out


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(units: list[Unit], setup_s: float, peak_mb: float) -> dict[str, float]:
    walls = [u.wall for u in units]
    rounds = [b - a for u in units for a, b in u.rounds]
    total = sum(walls)
    return {
        "setup_s": setup_s,
        "crawl_s": _median(walls),
        "urls_per_s": sum(u.rows for u in units) / total,
        "rounds_per_s": len(rounds) / total,
        "round_s_p50": _median(rounds),
        "peak_rss_mb": peak_mb,
    }


def set_up(spark, wl_cls, work: str, seed: int, threads: int):
    """Build the workload's inputs ``SETUP_REPEATS`` times (same seed,
    same inputs), then warm the session up.  Returns the workload and the
    set-up seconds past session start: median input build plus warm-up."""
    wl = wl_cls(spark, os.path.join(work, "data"), seed, threads)
    input_s = []
    for _ in range(SETUP_REPEATS):
        shutil.rmtree(wl.work_dir, ignore_errors=True)
        os.makedirs(wl.work_dir)
        t = time.time()
        wl.build_inputs()
        input_s.append(time.time() - t)
    t = time.time()
    wl.warm_up()
    return wl, statistics.median(input_s) + (time.time() - t)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def use_work_dir(work: str) -> None:
    """Point every temp file of this process and its children (Python
    and JVM) at ``work``, inside the checkout."""
    import tempfile

    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    tempfile.tempdir = os.environ["TMPDIR"]


def main(argv=None) -> int:
    started = time.time()
    args = parse_args(argv)
    for need in ("grabspark/engine.py", "tests/oracle.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"crawlbench: {need} not found under {ROOT}; run from a full checkout",
                  file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"crawlbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_build", "perfbench", f"run-{os.getpid()}")
    use_work_dir(work)
    try:
        return measure(args, WORKLOADS[args.workload], work, started + DEADLINE_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, wl_cls, work: str, deadline: float) -> int:
    from procs import PeakRss, start_session, stop_session, task_threads
    from tracing import EventLog, Tracer

    log_dir = os.path.join(work, "eventlog") if args.trace else None
    t_setup = time.time()
    spark = start_session(work, log_dir)
    try:
        session_s = time.time() - t_setup
        wl, rest_s = set_up(spark, wl_cls, work, args.seed, task_threads())
        setup_s = session_s + rest_s
        tracer = Tracer(spark) if args.trace else None
        with PeakRss() as rss:
            units, traced_rows = run_units(wl, args.seconds, tracer, deadline)
    finally:
        stop_session(spark)  # also completes the event log

    failed = sum(1 for u in units if u.errors)
    for u in units:
        for e in u.errors:
            print(f"crawlbench: {args.workload} call failed: {e}", file=sys.stderr)
    plain = [u for u in units if not u.traced]
    rounds = [b - a for u in plain for a, b in u.rounds]
    print(f"crawlbench {args.workload} seed={args.seed} threads={task_threads()} "
          f"calls={len(units)} (plain={len(plain)} traced={len(traced_rows)}) "
          f"rounds={len(rounds)} failed={failed} ops_failed_ratio={failed / len(units):.4f}")
    print("  round walls (s): " + " ".join(f"{r:.2f}" for r in rounds))
    if len(rounds) >= P90_MIN_SAMPLES:
        p90 = statistics.quantiles(rounds, n=10)[-1]
        print(f"  round_s_p90 {p90:.4f} s over {len(rounds)} rounds")
    else:
        print(f"  round_s_p90 not reported: {len(rounds)} rounds < {P90_MIN_SAMPLES}")
    if args.trace:
        table = PER_LAYER
        metrics = per_layer(units, traced_rows, tracer, EventLog.find(log_dir))
        for k, unit in REPORT_ONLY.items():
            print(f"  {k:32s} {metrics.pop(k):16.6f} {unit}  (report only)")
    else:
        table = END_TO_END
        metrics = end_to_end(plain, setup_s, rss.peak_mb)
    for k, v in metrics.items():
        print(f"  {k:32s} {v:16.6f} {table[k]}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(units),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": table[k]} for k, v in metrics.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
