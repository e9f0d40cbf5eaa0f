"""Layer spans for a traced crawl, recorded from outside the package.

``Tracer.installed(engine)`` wraps the calls at which each layer's Spark
actions fire (the engine is lazy, so a span sits where the jobs run, not
where the plan is built).  Each span tags its thread's jobs with
``setJobGroup``; the offline Spark event log is then folded back onto
those groups, so task time, shuffle bytes, spill and skew land on the
layer that caused them.  Nothing under ``grabspark/`` changes: wrappers
are instance attributes that shadow the class methods, plus two module
attributes the engine resolves at call time.

A round is the interval between successive frontier ``commit_prepared``
returns; the first starts at the engine call and the last ends at its
return, so round walls sum to the call's wall.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

GROUP_PREFIX = "crawlbench-"
ENGINE = "engine"


@dataclass
class Span:
    sid: int
    layer: str
    name: str
    t0: float
    t1: float


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, layer: str, name: str):
        sid = next(self._ids)
        sc = self.sc
        prev = {k: sc.getLocalProperty(k) for k in ("spark.jobGroup.id", "spark.job.description")}
        sc.setJobGroup(f"{GROUP_PREFIX}{sid}", f"{layer}:{name}")
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            for k, v in prev.items():
                sc.setLocalProperty(k, v)
            with self._lock:
                self.spans.append(Span(sid, layer, name, t0, t1))

    def _wrap(self, layer: str, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer, name):
                return fn(*args, **kwargs)

        return traced

    @contextmanager
    def installed(self, eng):
        """Wrap ``eng``'s layer entry points for the duration."""
        import grabspark.bloom as bloom_mod
        import grabspark.seq as seq_mod

        hooks = [
            (eng.trace, "append", "fetch", "trace_append"),
            (eng.frontier, "prepare_overwrite", "extract", "frontier_prepare"),
            (eng.seen, "append", "snapshots", "seen_append"),
            (eng.frontier, "commit_prepared", "snapshots", "frontier_commit"),
            (eng.seen, "delete_where", "snapshots", "seen_delete"),
            (eng.metrics, "append", "metrics", "metrics_append"),
        ]
        if eng.bloom is not None:
            # build_partials + collect + merge + save, on the pool thread
            hooks.append((eng, "_bloom_broadcast_update", "bloom", "update"))
        if eng.pbloom is not None:
            hooks += [
                (eng.pbloom, "update", "cuckoo", "update"),
                (eng.pbloom, "delete", "cuckoo", "delete"),
            ]
        modules = [
            (seq_mod, "assign_fetch_seq_counted", "seq", "assign_fetch_seq_counted"),
            (bloom_mod, "make_might_contain", "bloom", "broadcast"),
        ]
        saved = []
        try:
            for obj, attr, layer, name in hooks:
                setattr(obj, attr, self._wrap(layer, name, getattr(obj, attr)))
            for mod, attr, layer, name in modules:
                orig = getattr(mod, attr)
                saved.append((mod, attr, orig))
                setattr(mod, attr, self._wrap(layer, name, orig))
            yield self
        finally:
            for obj, attr, *_ in hooks:
                obj.__dict__.pop(attr, None)
            for mod, attr, orig in saved:
                setattr(mod, attr, orig)

    def spans_between(self, t0: float, t1: float) -> list[Span]:
        return [s for s in self.spans if t0 <= s.t0 and s.t1 <= t1]


def round_walls(t0: float, t1: float, commits: list[float]) -> list[tuple[float, float]]:
    """Rounds of one engine call: split [t0, t1] at the commit returns;
    the tail after the last commit joins the last round."""
    cuts = [c for c in sorted(commits) if t0 < c < t1]
    bounds = [t0] + cuts[:-1] + [t1] if cuts else [t0, t1]
    return list(zip(bounds, bounds[1:]))


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def engine_self_s(rounds: list[tuple[float, float]], spans: list[Span]) -> list[float]:
    """Per round: its wall minus the part of it any span covers."""
    out = []
    for a, b in rounds:
        covered = [(max(a, s.t0), min(b, s.t1)) for s in spans if s.t0 < b and s.t1 > a]
        out.append((b - a) - union_length(covered))
    return out


# -- offline event log -------------------------------------------------------

_KEEP = tuple(
    '{"Event":"%s"' % e
    for e in ("SparkListenerJobStart", "SparkListenerStageSubmitted", "SparkListenerTaskEnd")
)


@dataclass
class TaskRec:
    run_ms: int
    shuffle_read: int
    shuffle_write: int
    spill: int


class EventLog:
    """Jobs, stage groups and task metrics from one uncompressed,
    non-rolling Spark event log file."""

    def __init__(self, path: str):
        self.jobs: list[tuple[int, str | None, list[int]]] = []  # (submit ms, group, stages)
        self.stage_group: dict[int, str | None] = {}
        self.tasks: dict[int, list[TaskRec]] = {}
        with open(path) as f:
            for line in f:
                if not line.startswith(_KEEP):
                    continue
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    self.jobs.append(
                        (e["Submission Time"], props.get("spark.jobGroup.id"), e["Stage IDs"])
                    )
                elif ev == "SparkListenerStageSubmitted":
                    props = e.get("Properties") or {}
                    self.stage_group[e["Stage Info"]["Stage ID"]] = props.get("spark.jobGroup.id")
                else:
                    m = e.get("Task Metrics")
                    if not m:
                        continue
                    rd = m.get("Shuffle Read Metrics") or {}
                    wr = m.get("Shuffle Write Metrics") or {}
                    self.tasks.setdefault(e["Stage ID"], []).append(
                        TaskRec(
                            run_ms=int(m.get("Executor Run Time", 0)),
                            shuffle_read=int(rd.get("Remote Bytes Read", 0)) + int(rd.get("Local Bytes Read", 0)),
                            shuffle_write=int(wr.get("Shuffle Bytes Written", 0)),
                            spill=int(m.get("Memory Bytes Spilled", 0)) + int(m.get("Disk Bytes Spilled", 0)),
                        )
                    )

    @classmethod
    def find(cls, log_dir: str) -> "EventLog":
        files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
        files = [f for f in files if os.path.isfile(f) and not f.endswith(".crc")]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {len(files)}")
        return cls(files[0])

    def jobs_between(self, t0: float, t1: float) -> list[tuple[int, str | None, list[int]]]:
        lo, hi = t0 * 1000.0, t1 * 1000.0
        return [j for j in self.jobs if lo <= j[0] <= hi]


@dataclass
class LayerStats:
    task_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    max_ms: int = 0  # summed over stages: slowest task
    median_ms: float = 0.0  # summed over stages: median task

    @property
    def task_skew(self) -> float:
        """Per stage, slowest task over median task; summed over the
        layer's stages before dividing, so big stages weigh more."""
        return self.max_ms / self.median_ms if self.median_ms > 0 else 1.0


def fold(log: EventLog, t0: float, t1: float, layer_of_group: dict[str, str]):
    """Task metrics of the jobs submitted in [t0, t1], by layer.  A job
    whose group is no span's belongs to the engine's own code.
    Returns (per-layer stats, jobs, stages run, tasks run)."""
    stats: dict[str, LayerStats] = {}
    n_jobs = n_stages = n_tasks = 0
    done: set[int] = set()
    for _submit, _group, stage_ids in log.jobs_between(t0, t1):
        n_jobs += 1
        for sid in stage_ids:
            if sid in done or sid not in log.stage_group:
                continue  # skipped stage (reused shuffle output)
            done.add(sid)
            recs = log.tasks.get(sid, [])
            if not recs:
                continue
            n_stages += 1
            n_tasks += len(recs)
            layer = layer_of_group.get(log.stage_group[sid], ENGINE)
            st = stats.setdefault(layer, LayerStats())
            st.task_s += sum(r.run_ms for r in recs) / 1000.0
            st.shuffle_read_bytes += sum(r.shuffle_read for r in recs)
            st.shuffle_write_bytes += sum(r.shuffle_write for r in recs)
            st.spill_bytes += sum(r.spill for r in recs)
            runs = [r.run_ms for r in recs]
            st.max_ms += max(runs)
            st.median_ms += statistics.median(runs)
    return stats, n_jobs, n_stages, n_tasks


def layer_of_groups(spans: list[Span]) -> dict[str, str]:
    return {f"{GROUP_PREFIX}{s.sid}": s.layer for s in spans}
