#!/usr/bin/env python
"""Re-measure dedup_ngram_jaccard (VERDICT r4 task 4): the query read
5.52 s in BENCH_r04 vs 4.41 s in r3 with its code unchanged — decide
regression vs machine weather with the r3 trial protocol: FRESH JVM per
measurement, trials interleaved with a control query
(dedup_minhash_lsh, same fixture, same family) so both see the same
minute-scale CPU weather.  Emits BENCH/ngram_trials_r5.json.

Usage: python bench_ngram_trials.py [n_trials]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

_CHILD = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
from grabspark.session import default_session
spark = default_session("ngram-trial", {cpus!r}, max(int({cpus!r}) * 2, 8))
from grabspark import ops
q = ops.all_queries()[{name!r}]
# warm-up pass absorbs JVM/codegen cold start; min-of-2 in-JVM reps
# matches the bench protocol's per-query exposure
q(spark, {sf!r}).count()
spark.catalog.clearCache()
best = None
for _ in range(2):
    t0 = time.time()
    q(spark, {sf!r}).count()
    dt = time.time() - t0
    best = dt if best is None else min(best, dt)
    spark.catalog.clearCache()
print("RESULT " + json.dumps({{"query": {name!r}, "sec": round(best, 3)}}))
spark.stop()
"""


def run_one(name: str) -> float:
    code = _CHILD.format(repo=REPO, cpus=CPUS, name=name, sf=SF_DIR)
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=900
    )
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])["sec"]
    raise RuntimeError(f"trial for {name} produced no RESULT:\n{out.stderr[-2000:]}")


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    target, control = "dedup_ngram_jaccard", "dedup_minhash_lsh"
    trials: dict[str, list[float]] = {target: [], control: []}
    for i in range(n):
        for name in (target, control):
            sec = run_one(name)
            trials[name].append(sec)
            print(f"trial {i + 1}/{n} {name}: {sec}s", flush=True)
    summary = {
        "protocol": "fresh JVM per measurement, target/control interleaved, "
        "min-of-2 in-JVM reps after one warm-up pass",
        "sf_dir": SF_DIR,
        "cpus": CPUS,
        "trials": trials,
        "best_of": {k: min(v) for k, v in trials.items()},
        "r3_bench": {"dedup_ngram_jaccard": 4.41, "dedup_minhash_lsh": 6.57},
        "r4_bench": {"dedup_ngram_jaccard": 5.52, "dedup_minhash_lsh": 6.96},
    }
    out_path = os.path.join(REPO, "BENCH", "ngram_trials_r5.json")
    with open(out_path, "w") as f:
        json.dump(summary, f, indent=1)
    print(json.dumps(summary["best_of"]))


if __name__ == "__main__":
    main()
