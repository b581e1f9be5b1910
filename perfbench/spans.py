"""Spans around the program's layer entry points, and Spark's own counters per span.

A span records its wall time and makes itself the Spark job group, so every
job its code submits can be looked up afterwards in Spark's status store.
Spans nest; a layer's wall time is the self time of its spans (duration minus
child spans), so a stage span and the operator spans inside it never count
the same second twice.

The ER pipeline is traced from outside: ``traced_pipeline`` swaps the operator
names that ``minimel_spark.pipeline`` calls, and its ``Checkpointer``, for
wrappers that open spans. Checkpointer stages build lazy plans that run when
the stage is written, so a stage span carries the layer that computes it.
"""

from __future__ import annotations

import contextlib
import functools
import time

LAYERS = (
    "extract", "count", "clean", "mentions", "blocking",
    "pairs", "scoring", "cluster", "checkpoint", "dedup",
)

# Checkpointer stage -> layer whose plan the stage write executes. ``records``
# joins detected mentions back to their paragraphs, so it belongs to mentions.
STAGE_LAYERS = {
    "paragraphs": "extract",
    "anchor_counts": "count",
    "candidates": "clean",
    "name_clusters": "cluster",
    "mentions": "mentions",
    "records": "mentions",
    "pairs": "blocking",
    "pair_features": "pairs",
    "scored_pairs": "scoring",
    "er_clusters": "cluster",
}

# public operator entry points, as named in minimel_spark.pipeline
OPERATOR_LAYERS = {
    "extract_paragraphs": "extract",
    "anchor_counts": "count",
    "clean": "clean",
    "detect_mentions": "mentions",
    "surface_blocked_pairs": "blocking",
    "pair_features": "pairs",
    "weak_pair_labels": "scoring",
    "train_pair_matcher": "scoring",
    "score_pairs": "scoring",
    "match_edges": "scoring",
    "cluster_candidates": "cluster",
    "connected_components": "cluster",
}

FIELDS = ("spark_jobs", "tasks", "task_run_s", "task_cpu_s", "gc_s", "shuffle_mb")


class Tracer:
    """Spans kept in memory; read out once the traced work is done."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._open: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        rec = {
            "id": f"bench-span-{len(self.spans)}",
            "name": name,
            "layer": layer,
            "parent": self._open[-1]["id"] if self._open else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._open.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()
            if self._open:
                self.sc.setJobGroup(self._open[-1]["id"], self._open[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def wrap(self, fn, layer: str):
        @functools.wraps(fn)
        def inner(*args, **kwargs):
            with self.span(fn.__name__, layer):
                return fn(*args, **kwargs)

        return inner

    def self_times(self, first: int, last: int) -> dict[str, float]:
        """Self time per layer over ``spans[first:last]``."""
        spans = self.spans[first:last]
        child = {}
        for s in spans:
            if s["parent"]:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in spans:
            own = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[s["layer"]] = out.get(s["layer"], 0.0) + own
        return out

    def spark_counters(self, first: int, last: int) -> dict[str, dict]:
        """Per layer: jobs, tasks, executor run/CPU/GC time and shuffle bytes of
        the jobs submitted under ``spans[first:last]``, from the status store.
        A stage reused by a later job is counted once."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(60_000)
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        out = {}
        seen = set()
        for s in self.spans[first:last]:
            acc = out.setdefault(s["layer"], dict.fromkeys(FIELDS, 0.0))
            for job in sorted(tracker.getJobIdsForGroup(s["id"])):
                acc["spark_jobs"] += 1
                info = tracker.getJobInfo(job)
                for stage in info.stageIds if info else ():
                    if stage in seen:
                        continue
                    seen.add(stage)
                    sd = store.lastStageAttempt(stage)
                    acc["tasks"] += sd.numCompleteTasks()
                    acc["task_run_s"] += sd.executorRunTime() / 1e3
                    acc["task_cpu_s"] += sd.executorCpuTime() / 1e9
                    acc["gc_s"] += sd.jvmGcTime() / 1e3
                    acc["shuffle_mb"] += sd.shuffleWriteBytes() / 2**20
        return out


@contextlib.contextmanager
def traced_pipeline(tracer: Tracer):
    """Within the block, ``run_pipeline`` opens a span per Checkpointer stage,
    per checkpoint read-back and metrics write, and per operator call."""
    from minimel_spark import pipeline
    from minimel_spark.sources.checkpoint import Checkpointer

    class TracedCheckpointer(Checkpointer):
        def stage(self, name, build):
            if self.enabled and self.has(name):
                with tracer.span(f"read:{name}", "checkpoint"):
                    return super().stage(name, build)
            with tracer.span(name, STAGE_LAYERS.get(name, "other")):
                return super().stage(name, build)

        def _write_metrics(self, stage, df, wall_secs):
            with tracer.span(f"metrics:{stage}", "checkpoint"):
                super()._write_metrics(stage, df, wall_secs)

    saved = {n: getattr(pipeline, n) for n in [*OPERATOR_LAYERS, "Checkpointer"]}
    for name, layer in OPERATOR_LAYERS.items():
        setattr(pipeline, name, tracer.wrap(saved[name], layer))
    pipeline.Checkpointer = TracedCheckpointer
    try:
        yield
    finally:
        for name, fn in saved.items():
            setattr(pipeline, name, fn)
