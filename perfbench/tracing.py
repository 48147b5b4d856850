"""Spans around layer calls, and per-layer metrics from a Spark event log.

A span records the wall-clock window of one call into a layer. After the
session stops, the event log is read back and every job (by submission
time) and task (by launch time) is attributed to the innermost span whose
window holds it. Windows rather than job groups or call sites: jobs that
validate_table submits from its thread pool carry neither.
"""

from __future__ import annotations

import contextlib
import json
import time
from pathlib import Path

from pyspark.sql import DataFrame

KINDS = {"wall_s": "s", "jobs": "count", "task_s": "s",
         "shuffle_write_mb": "MB", "spill_mb": "MB", "failed_tasks": "count"}

LAYERS = (
    "stats.profile_table",
    "uniqueness.check_unique",
    "uniqueness.functional_dependency_groups",
    "referential.check_foreign_key",
    "compiler.validate_table",
    "snapshots.append",
    "snapshots.validate_new_snapshots",
    "pipeline.build_edges",
    "graph.motif_wedge_guard",
    "pipeline.features_from_edges",
    "pipeline.fused_threshold_and_z_stats",
    "pipeline.heuristic_rules",
    "mahalanobis.mahalanobis",
    "iforest.fit_iforest",
    "iforest.score_iforest",
    "scoring.hazen_percentile_agg_multi",
    "pipeline.score",
    "pipeline.materialize",
)

MB = 1e6


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.pinned: list[DataFrame] = []

    @contextlib.contextmanager
    def span(self, name: str):
        s = {"name": name, "t0": time.time() * 1000, "t1": None,
             "parent": self._stack[-1]["id"] if self._stack else None,
             "id": len(self.spans)}
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield
        finally:
            self._stack.pop()
            s["t1"] = time.time() * 1000

    @contextlib.contextmanager
    def patch(self, module, attr: str, name: str, force: bool = False):
        """Wrap ``module.attr`` in a span while the block runs. With
        ``force``, every DataFrame the call returns is persisted and
        counted inside the span: a lazy layer's scan then runs in its own
        window instead of inside the caller's concurrent wave. The caller
        receives the same, now cached, frames."""
        orig = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                out = orig(*args, **kwargs)
                if force:
                    for df in out if isinstance(out, tuple) else (out,):
                        if isinstance(df, DataFrame):
                            df.persist().count()
                            self.pinned.append(df)
            return out

        setattr(module, attr, traced)
        try:
            yield
        finally:
            setattr(module, attr, orig)

    @contextlib.contextmanager
    def patch_all(self, targets, force: bool = False):
        with contextlib.ExitStack() as stack:
            for module, attr, name in targets:
                stack.enter_context(self.patch(module, attr, name, force))
            yield

    def release(self) -> None:
        for df in self.pinned:
            df.unpersist()
        self.pinned.clear()

    def innermost(self, t_ms: float) -> dict | None:
        best = None
        for s in self.spans:
            if s["t0"] <= t_ms <= s["t1"] and (best is None or s["t0"] >= best["t0"]):
                best = s
        return best


def read_event_log(log_dir: Path) -> tuple[list[dict], list[dict]]:
    """(jobs, tasks) from the one uncompressed event log in ``log_dir``."""
    (path,) = [p for p in log_dir.iterdir() if p.is_file()]
    jobs, tasks = [], []
    with path.open() as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                jobs.append({"id": e["Job ID"], "t": e["Submission Time"]})
            elif ev == "SparkListenerTaskEnd":
                info, m = e["Task Info"], e.get("Task Metrics") or {}
                tasks.append({
                    "t": info["Launch Time"],
                    "failed": bool(info.get("Failed") or info.get("Killed")),
                    "run_ms": m.get("Executor Run Time", 0),
                    "shuffle_write": (m.get("Shuffle Write Metrics") or {})
                    .get("Shuffle Bytes Written", 0),
                    "spill": m.get("Disk Bytes Spilled", 0),
                })
    return jobs, tasks


def jobs_in(jobs: list[dict], t0_ms: float, t1_ms: float) -> int:
    return sum(1 for j in jobs if t0_ms <= j["t"] <= t1_ms)


def layer_metrics(tr: Tracer, jobs: list[dict], tasks: list[dict],
                  t0_ms: float, t1_ms: float) -> dict[str, float]:
    """Per-layer metrics over the traced window [t0_ms, t1_ms]. A layer's
    wall_s is its self time: its spans' durations minus their child
    spans. A layer the workload never calls reads 0."""
    acc = {(layer, k): 0.0 for layer in LAYERS for k in KINDS}
    for s in tr.spans:
        dur = s["t1"] - s["t0"]
        acc[(s["name"], "wall_s")] += dur / 1000
        if s["parent"] is not None:
            parent = tr.spans[s["parent"]]["name"]
            acc[(parent, "wall_s")] -= dur / 1000
    for j in jobs:
        s = tr.innermost(j["t"]) if t0_ms <= j["t"] <= t1_ms else None
        if s is not None:
            acc[(s["name"], "jobs")] += 1
    for t in tasks:
        s = tr.innermost(t["t"]) if t0_ms <= t["t"] <= t1_ms else None
        if s is not None:
            acc[(s["name"], "task_s")] += t["run_ms"] / 1000
            acc[(s["name"], "shuffle_write_mb")] += t["shuffle_write"] / MB
            acc[(s["name"], "spill_mb")] += t["spill"] / MB
            acc[(s["name"], "failed_tasks")] += t["failed"]
    top = sum(s["t1"] - s["t0"] for s in tr.spans if s["parent"] is None)
    out = {f"{layer}.{k}": v for (layer, k), v in acc.items()}
    out["unattributed.wall_s"] = (t1_ms - t0_ms - top) / 1000
    return out
