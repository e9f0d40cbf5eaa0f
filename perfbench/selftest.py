#!/usr/bin/env python3
"""Self-test of the crawlbench harness at tiny scale.

    python3 perfbench/selftest.py

Run from the repository root.  Shrinks every workload to a few pages and
runs, in one Spark session with the event log on, one plain and one
traced call of the same unit each.  Checks that:

* every metric ``BENCHMARK.json`` declares is computed, with its unit,
  and the calls pass their correctness checks;
* spans nest inside rounds, engine self time is never negative, and
  round walls sum to the call's wall time;
* the tracing wrappers add no Spark job: the plain and the traced call
  submit the same number of jobs.

Prints one line per failed check and exits 1 if any failed, else 0.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys

import run as bench

EPS = 1e-6


def tiny_workloads():
    from workloads import BfsWide, PoliteHot, RecrawlTtl

    class TinyBfs(BfsWide):
        n_hosts = 4
        pages_per_host = 4
        out_degree = 4

    class TinyPolite(PoliteHot):
        cold_hosts = 1

    class TinyRecrawl(RecrawlTtl):
        n_hosts = 2
        pages_per_host = 3

    return [TinyBfs, TinyPolite, TinyRecrawl]


def declared_metrics() -> tuple[dict[str, str], dict[str, str]]:
    with open(os.path.join(bench.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def check_metrics(name: str, got: dict[str, float], table: dict[str, str], declared: dict[str, str]):
    out = []
    if table != declared:
        out.append(f"{name}: run.py's metric table {table} differs from BENCHMARK.json {declared}")
    if set(got) != set(table):
        out.append(f"{name}: computed {sorted(got)} but declares {sorted(table)}")
    out += [f"{name}: {k} = {v!r} is not a finite number"
            for k, v in got.items() if not math.isfinite(v)]
    return out


def check_rounds(name: str, unit, spans) -> list[str]:
    from tracing import engine_self_s

    out = []
    if abs(sum(b - a for a, b in unit.rounds) - unit.wall) > EPS:
        out.append(f"{name}: round walls do not sum to the call's wall")
    for s in spans:
        if not any(a - EPS <= s.t0 and s.t1 <= b + EPS for a, b in unit.rounds):
            out.append(f"{name}: span {s.layer}:{s.name} straddles a round boundary")
    if any(x < -EPS for x in engine_self_s(unit.rounds, spans)):
        out.append(f"{name}: negative engine self time")
    return out


def main() -> int:
    from procs import PeakRss, start_session, stop_session, task_threads
    from tracing import EventLog, Tracer

    sys.path.insert(0, bench.ROOT)
    work = os.path.join(bench.ROOT, ".bench_build", "perfbench", f"selftest-{os.getpid()}")
    bench.use_work_dir(work)
    log_dir = os.path.join(work, "eventlog")
    e2e_declared, layer_declared = declared_metrics()
    ran = []
    try:
        spark = start_session(work, log_dir)
        try:
            for cls in tiny_workloads():
                wl, setup_s = bench.set_up(
                    spark, cls, os.path.join(work, cls.name), 1, task_threads()
                )
                tracer = Tracer(spark)
                with PeakRss() as rss:
                    plain, _eng, _facts = bench.run_unit(wl, 0)
                    # a span outside any call would be a wrapper left installed
                    n_spans = len(tracer.spans)
                    traced, eng, facts = bench.run_unit(wl, 0, tracer)
                    rows = bench.layer_rows(traced, eng, facts)
                ran.append((cls.name, setup_s, plain, traced, rows, tracer, n_spans, rss.peak_mb))
        finally:
            stop_session(spark)
        log = EventLog.find(log_dir)
        failures = []
        for name, setup_s, plain, traced, rows, tracer, n_spans, peak_mb in ran:
            failures += [f"{name}: {e}" for e in plain.errors + traced.errors]
            e2e = bench.end_to_end([plain], setup_s, peak_mb)
            failures += check_metrics(name, e2e, bench.END_TO_END, e2e_declared)
            layers = bench.per_layer([plain, traced], [(traced, rows)], tracer, log)
            for k in bench.REPORT_ONLY:
                layers.pop(k)
            failures += check_metrics(name, layers, bench.PER_LAYER, layer_declared)
            spans = tracer.spans_between(traced.t0, traced.t1)
            if n_spans or len(spans) != len(tracer.spans):
                failures.append(f"{name}: spans recorded outside the traced call")
            if not any(s.name == "assign_fetch_seq_counted" for s in spans):
                failures.append(f"{name}: the traced call recorded no seq span")
            failures += check_rounds(name, traced, spans)
            failures += check_rounds(name, plain, [])
            jobs = [len(log.jobs_between(u.t0, u.t1)) for u in (plain, traced)]
            if jobs[0] != jobs[1] or not jobs[0]:
                failures.append(f"{name}: plain call ran {jobs[0]} jobs, traced call {jobs[1]}")
            print(f"selftest {name}: rounds={len(traced.rounds)} spans={len(spans)} "
                  f"jobs={jobs[1]} setup_s={setup_s:.2f}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for f in failures:
        print(f"selftest FAILED {f}")
    print("selftest " + ("failed" if failures else "passed"))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
