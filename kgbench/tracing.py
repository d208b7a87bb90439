"""Traced run: a span per layer call, plus Spark's own task counters per
span from the event log.

Spans are recorded from outside the program: ``Tracer.wrap`` replaces a
public function or method for the duration of one run.  Each wrapped call
closes the previous span and opens its own, so a span's time is the
layer's self time, including lazy Spark work that the next action runs
before the next layer is entered.  A wrapped call also sets the job
description ``stage:<name>``; ``rollup`` groups the event log's
``SparkListenerTaskEnd`` metrics by it.

A traced measurement is an untraced run and then a traced run, both after
the workload's warm-up, which is itself a full untimed run of the same
input; the tracing overhead is the difference of their wall times.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time

# engine counters are reported for these job descriptions (stage:<name>)
ENGINE_STAGES = ["sentences", "candidates", "entity_mentions", "rm_pairs",
                 "triples_ds", "rm_feature_rows", "em_feature_rows",
                 "graphs_rm", "graphs_em", "train", "score", "sweep",
                 "stream_kg_edges"]
# no spill counter: at the benchmark's input sizes no stage spills
ENGINE_UNITS = {"cpu_s": "s", "gc_s": "s", "shuffle_bytes": "bytes",
                "tasks": "count", "task_skew": "ratio", "core_busy": "ratio"}
CATALOG_STAGES = ["sentences", "entity_mentions", "rm_pairs", "triples_ds",
                  "rm_feature_rows"]
CATALOG_UNITS = {"rows": "count", "bytes": "bytes", "part_skew": "ratio"}

PER_LAYER_UNITS: dict[str, str] = {
    "mentions.sentences_s": "s",
    "mentions.candidates_s": "s",
    "ds_label.entity_mentions_s": "s",
    "pairs.rm_pairs_s": "s",
    "pipeline.triples_ds_s": "s",
    "features.rm_rows_s": "s",
    "features.em_rows_s": "s",
    "graphs.rm_s": "s",
    "graphs.em_s": "s",
    "graphs.triples_mention_s": "s",
    "training.setup_s": "s",
    "training.epoch_s": "s",
    "training.s": "s",
    "inference.score_s": "s",
    "evaluation.sweep_s": "s",
    "inference.materialize_s": "s",
    "evaluation.f1": "ratio",
    "streaming.batch_s": "s",
    "streaming.sink_s": "s",
    "streaming.plan_s": "s",
    "streaming.rows_per_batch": "count",
    "trace.overhead_s": "s",
}
PER_LAYER_UNITS.update({f"catalog.{s}.{k}": u for s in CATALOG_STAGES
                        for k, u in CATALOG_UNITS.items()})
PER_LAYER_UNITS.update({f"{s}.{k}": u for s in ENGINE_STAGES
                        for k, u in ENGINE_UNITS.items()})


class Tracer:
    """Timeline of layer calls.  With a SparkContext, each tagged mark also
    sets the job description of the Spark jobs that follow it."""

    def __init__(self, sc=None) -> None:
        self.sc = sc
        self.marks: list[tuple[str, float]] = []
        self._undo: list[tuple[object, str, object]] = []

    def mark(self, name: str, tag: bool = False) -> None:
        if tag and self.sc is not None:
            self.sc.setJobDescription(f"stage:{name}")
        self.marks.append((name, time.perf_counter()))

    def wrap(self, obj, attr: str, name, tag: bool = True,
             after: str | None = None) -> None:
        """Mark ``name`` (or ``name(*args)``) on every call of ``obj.attr``,
        and ``after`` (untagged) when the call returns."""
        fn = getattr(obj, attr)
        had_own = attr in vars(obj)

        def wrapper(*a, **k):
            self.mark(name(*a, **k) if callable(name) else name, tag)
            out = fn(*a, **k)
            if after is not None:
                self.mark(after)
            return out

        self._undo.append((obj, attr, fn if had_own else None))
        setattr(obj, attr, wrapper)

    def segments(self) -> list[tuple[str, float]]:
        """(name, seconds to the next mark) for every mark but the last."""
        return [(n, t1 - t0) for (n, t0), (_, t1)
                in zip(self.marks, self.marks[1:])]

    def __enter__(self) -> "Tracer":
        return self

    def __exit__(self, *exc) -> None:
        for obj, attr, fn in reversed(self._undo):
            if fn is None:
                delattr(obj, attr)
            else:
                setattr(obj, attr, fn)
        self._undo.clear()


def rollup(event_log_dir: str, since_ms: float, stage_walls: dict[str, float],
           cores: int, untagged: str) -> dict[str, float]:
    """Task metrics per job description from uncompressed event logs, for
    jobs submitted from ``since_ms`` (epoch milliseconds) on.

    Jobs whose description is not ``stage:<name>`` (streaming micro-batches
    set their own) count under ``untagged``.  ``gc_s`` sums each task's JVM
    GC time; tasks running at once in one JVM see the same pauses, so it
    overstates wall-clock GC.  ``task_skew`` is the longest task over the
    median task in the stage's largest Spark stage (by task time);
    ``core_busy`` is executor run time over (stage wall x cores).
    """
    stage_of: dict[int, str] = {}
    tasks: dict[int, list[dict]] = {}
    for fn in sorted(os.listdir(event_log_dir)):
        with open(os.path.join(event_log_dir, fn)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    if ev["Submission Time"] < since_ms:
                        continue
                    desc = (ev.get("Properties") or {}).get(
                        "spark.job.description") or ""
                    name = desc[6:] if desc.startswith("stage:") else untagged
                    for sid in ev["Stage IDs"]:
                        stage_of.setdefault(sid, name)
                elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                    tasks.setdefault(ev["Stage ID"], []).append(ev)
    per: dict[str, dict[int, list[dict]]] = {}
    for sid, evs in tasks.items():
        if sid in stage_of:
            per.setdefault(stage_of[sid], {})[sid] = evs
    out: dict[str, float] = {}
    for name, spark_stages in per.items():
        evs = [e for s in spark_stages.values() for e in s]
        tm = [e["Task Metrics"] for e in evs]
        run_s = sum(m["Executor Run Time"] for m in tm) / 1e3

        def dur(e):
            return e["Task Info"]["Finish Time"] - e["Task Info"]["Launch Time"]

        biggest = max(spark_stages.values(), key=lambda s: sum(map(dur, s)))
        med = statistics.median(map(dur, biggest))
        out.update({
            f"{name}.cpu_s": sum(m["Executor CPU Time"] for m in tm) / 1e9,
            f"{name}.gc_s": sum(m["JVM GC Time"] for m in tm) / 1e3,
            f"{name}.shuffle_bytes": sum(
                m["Shuffle Write Metrics"]["Shuffle Bytes Written"] for m in tm),
            f"{name}.tasks": len(evs),
            f"{name}.task_skew": max(map(dur, biggest)) / med if med else 1.0,
            f"{name}.core_busy": (run_s / (stage_walls[name] * cores)
                                  if stage_walls.get(name) else 0.0),
        })
    return out


@contextlib.contextmanager
def event_log_detached(spark):
    """Take the session's event-log listener off the listener bus for the
    body, so a run inside it is untraced.  ``eventLogger`` is a Spark-internal
    accessor; the listener keeps its open file and appends again once
    re-added."""
    sc = spark.sparkContext._jsc.sc()
    listener = sc.eventLogger().get()
    sc.removeSparkListener(listener)
    try:
        yield
    finally:
        sc.addSparkListener(listener)


def traced_run(workload, spark, run_dir: str, tally, cores: int):
    """An untraced run, then a traced run with every layer call wrapped.
    Stops the session, which closes the event log, and returns the
    per-layer metrics (None when either run failed) and the untraced runs."""
    with event_log_detached(spark):
        ref = tally.run_checked(workload, spark,
                                os.path.join(run_dir, "untraced"))
    tracer = Tracer(spark.sparkContext)
    since_ms = time.time() * 1e3
    run = tally.run_checked(workload, spark, os.path.join(run_dir, "traced"),
                            tracer)
    spark.stop()
    refs = [ref] if ref is not None else []
    if run is None or ref is None:
        return None, refs
    out = workload.layer_metrics(run)
    out.update(rollup(os.path.join(run_dir, "eventlog"), since_ms,
                      workload.stage_walls(run), cores,
                      workload.untagged_stage))
    out["trace.overhead_s"] = run.wall_s - ref.wall_s
    return complete(out), refs


def complete(metrics: dict[str, float]) -> dict[str, float]:
    """Every per-layer metric, in declared order; a layer the workload does
    not run reads 0."""
    return {k: metrics.get(k, 0.0) for k in PER_LAYER_UNITS}
