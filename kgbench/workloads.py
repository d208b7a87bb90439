"""The benchmark's workloads.  Each drives shipped public entry points from
outside and checks what they commit.

A workload has ``prepare`` (generate inputs from the seed, compute the
expected output), ``warm_up``, ``run`` (one closed-loop run into a fresh
directory: time it, then read back what it committed), ``check`` (compare
that read-back with the expected output), and for a traced run
``layer_metrics`` and ``stage_walls``.
"""

from __future__ import annotations

import collections
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from usc_ds_relationextraction_spark.plans import evaluation, inference, training
from usc_ds_relationextraction_spark.plans.pipeline import KGPipeline
from usc_ds_relationextraction_spark.sources import synthetic as syn
from usc_ds_relationextraction_spark.sources.catalog import read_current_version
from usc_ds_relationextraction_spark.streaming.ingest import (
    stream_kg_edges, turn_local_triples_join)

from kgbench.tracing import CATALOG_STAGES, Tracer

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "scripts"))
from check_oracles import table_digest  # noqa: E402

# every workload's corpus size in turns, overridden only by the benchmark's
# own test
N_TURNS_OVERRIDE = int(os.environ.get("KGBENCH_N_TURNS", "0"))

DS_COLS = ["subj", "pred", "obj", "conv_id", "turn_idx"]
EDGE_COLS = ["subj", "pred", "obj", "n_support"]
DS_STAGES = ["sentences", "candidates", "entity_mentions", "rm_pairs",
             "triples_ds"]


@dataclass
class Run:
    wall_s: float           # input table -> committed output
    latencies: list[float]  # one per committed batch
    output: dict = field(default_factory=dict)  # read back after the timer
    f1: float | None = None  # learned only: RM F1 on the held-out split


def write_transcripts(spark, n_turns: int, seed: int, path: str,
                      files: int) -> tuple[int, int]:
    """Write the first whole conversations of the seeded corpus that hold at
    most ``n_turns`` turns; return (conversations, turns).  A fixed number
    of conversations varied by 9% (quartile distance over median) in turns
    from seed to seed, and with it ``turns_per_s``."""
    n_turns = N_TURNS_OVERRIDE or n_turns
    generated = path + ".generated"
    # a conversation has about 17 turns on average: generate twice that
    syn.transcripts(spark, n_turns // 8 + 1, seed).write.parquet(generated)
    lengths = collections.Counter(pq.read_table(
        generated, columns=["conv_id"]).column("conv_id").to_pylist())
    keep, total = [], 0
    for conv in sorted(lengths):
        if total + lengths[conv] > n_turns:
            break
        keep.append(conv)
        total += lengths[conv]
    spark.read.parquet(generated).where(F.col("conv_id").isin(keep)) \
        .repartition(files, "conv_id").write.parquet(path)
    return len(keep), total


def segment_sums(tracer: Tracer) -> dict[str, float]:
    out: dict[str, float] = {}
    for name, d in tracer.segments():
        out[name] = out.get(name, 0.0) + d
    return out


def catalog_metrics(wh) -> dict[str, float]:
    """rows and partition skew from the warehouse's own _metrics.jsonl, bytes
    from the stage directory on disk."""
    out: dict[str, float] = {}
    recs = {m["stage"]: m for m in wh.metrics()}
    for s in CATALOG_STAGES:
        if s not in recs:
            continue
        m = recs[s]
        out[f"catalog.{s}.rows"] = m["rows"]
        out[f"catalog.{s}.bytes"] = sum(
            os.path.getsize(os.path.join(b, f))
            for b, _d, fs in os.walk(wh.path(s)) for f in fs)
        out[f"catalog.{s}.part_skew"] = (m["max_partition_rows"]
                                         / max(m["p50_partition_rows"], 1))
    return out


# ----------------------------------------------------------------- ds_batch
def ds_problems(ds_rows: list[tuple], oracle: tuple[int, str]) -> list[str]:
    if table_digest(DS_COLS, ds_rows) != oracle:
        return ["triples_ds differs from the DuckDB triples_ds oracle"]
    return []


class DsBatch:
    """Direct-DS ``KGPipeline.run`` (``run_pipeline.py`` without
    ``--learned``) into an empty warehouse: sentences, candidates,
    entity_mentions, rm_pairs and triples_ds, each written as a warehouse
    checkpoint.  One run commits one batch, so its batch latency is its
    wall time: every workload prints every end-to-end metric."""

    N_TURNS = 10_000
    FILES = 4
    untagged_stage = "untagged"

    def prepare(self, spark, seed: int, data_dir: str) -> dict:
        import duckdb

        import __spark_entry__ as entry
        tp = os.path.join(data_dir, "transcripts.parquet")
        n_convs, n_turns = write_transcripts(spark, self.N_TURNS, seed, tp,
                                             self.FILES)
        for name, df in [("kb_aliases", syn.kb_aliases(spark)),
                         ("kb_facts", syn.kb_facts(spark))]:
            df.coalesce(1).write.parquet(
                os.path.join(data_dir, f"{name}.parquet"))
        self.turns = spark.read.parquet(tp)
        self.aliases = spark.read.parquet(
            os.path.join(data_dir, "kb_aliases.parquet"))
        self.facts = spark.read.parquet(
            os.path.join(data_dir, "kb_facts.parquet"))
        # the triples_ds oracle, pointed at this run's generated parquet
        sql = entry.oracle_sql()["triples_ds"].replace(entry.FX01, data_dir)
        with duckdb.connect() as con:
            con.execute("SET enable_progress_bar = false")
            res = con.execute(sql)
            cols = [d[0] for d in res.description]
            self.oracle = table_digest(cols, res.fetchall())
        return {"n_convs": n_convs, "n_turns": n_turns,
                "oracle_triples_ds": self.oracle[0]}

    def warm_up(self, spark, run_dir: str) -> None:
        """One untimed run over the same input.  After a warm-up over a
        quarter of it, the first timed run was still up to ~20% slow; after
        a full run it is as fast as the later ones.  The first run costs
        about the same either way: JIT and codegen dominate it."""
        self.run(spark, run_dir)

    def run(self, spark, run_dir: str, tracer: Tracer | None = None) -> Run:
        pipe = KGPipeline(spark, run_dir)
        with tracer or Tracer() as t:
            self.instrument(t, pipe, traced=tracer is not None)
            t.mark("start")
            result = self.execute(pipe, self.turns)
            t.mark("end", tag=True)  # the read-back below is not a layer
        wall = t.marks[-1][1] - t.marks[0][1]
        ds = pipe.wh.read("triples_ds").select(*DS_COLS).distinct()
        return self.read_back(Run(wall, [wall], {
            "triples_ds": [tuple(r) for r in ds.collect()],
            "wh": pipe.wh, "tracer": t, "result": result}))

    def execute(self, pipe: KGPipeline, turns):
        return pipe.run(turns, self.aliases, self.facts)

    def read_back(self, run: Run) -> Run:
        return run

    def instrument(self, t: Tracer, pipe: KGPipeline, traced: bool) -> None:
        if traced:
            for stage in DS_STAGES:
                t.wrap(pipe, stage, stage)

    def check(self, run: Run) -> list[str]:
        return ds_problems(run.output["triples_ds"], self.oracle)

    def layer_metrics(self, run: Run) -> dict[str, float]:
        seg = segment_sums(run.output["tracer"])
        out = {
            "mentions.sentences_s": seg["sentences"],
            "mentions.candidates_s": seg["candidates"],
            "ds_label.entity_mentions_s": seg["entity_mentions"],
            "pairs.rm_pairs_s": seg["rm_pairs"],
            "pipeline.triples_ds_s": seg["triples_ds"],
        }
        out.update(catalog_metrics(run.output["wh"]))
        return out

    def stage_walls(self, run: Run) -> dict[str, float]:
        """Wall seconds under each job description, for core_busy."""
        seg = segment_sums(run.output["tracer"])
        seg["train"] = (seg.get("train", 0.0) + seg.pop("epoch", 0.0)
                        + seg.pop("trained", 0.0))
        return seg


# ------------------------------------------------------------------ learned
def learned_problems(preds: list) -> list[str]:
    problems = []
    if not preds:
        problems.append("triples_learned is empty")
    if any(p is None or p == syn.NONE_LABEL for p in preds):
        problems.append("triples_learned has a None predicate")
    return problems


class Learned(DsBatch):
    """``KGPipeline.run_learned`` (``run_pipeline.py --learned``): the DS
    stages, feature rows, graphs, CoType-RM training epochs, inference,
    threshold sweep and learned triples.  On a small corpus training,
    features and graphs dominate.  A batch is one training epoch, which
    commits the mention-embedding table; the last epoch ends when
    ``CoTypeRMTrainer.train`` returns."""

    N_TURNS = 700
    EPOCHS = 1

    def prepare(self, spark, seed: int, data_dir: str) -> dict:
        inputs = super().prepare(spark, seed, data_dir)
        self.brown = {r["word"]: r["cluster"]
                      for r in syn.brown_clusters(spark).collect()}
        return {**inputs, "epochs": self.EPOCHS}

    def execute(self, pipe: KGPipeline, turns) -> dict:
        return pipe.run_learned(turns, self.aliases, self.facts,
                                self.brown, epochs=self.EPOCHS)

    def read_back(self, run: Run) -> Run:
        res = run.output["result"]
        run.f1 = res["metrics"]["f1"]
        run.latencies = [d for n, d in run.output["tracer"].segments()
                         if n == "epoch"]
        run.output["preds"] = [r["pred"] for r in
                               res["triples"].select("pred").collect()]
        return run

    def instrument(self, t: Tracer, pipe: KGPipeline, traced: bool) -> None:
        t.wrap(training, "lr_schedule", "epoch", tag=False)
        t.wrap(training.CoTypeRMTrainer, "train", "train", tag=traced,
               after="trained")
        if not traced:
            return
        super().instrument(t, pipe, traced)
        for stage in ["rm_feature_rows", "em_feature_rows", "triples_mention"]:
            t.wrap(pipe, stage, stage)
        t.wrap(pipe, "graph_tables",
               lambda rows, prefix, *a, **k: f"graphs_{prefix}")
        for fn in ["mention_embeddings", "score_types", "min_max_normalize"]:
            t.wrap(inference, fn, "score")
        t.wrap(evaluation, "sweep_thresholds", "sweep")
        t.wrap(inference, "materialize_triples", "materialize")

    def check(self, run: Run) -> list[str]:
        return super().check(run) + learned_problems(run.output["preds"])

    def layer_metrics(self, run: Run) -> dict[str, float]:
        out = super().layer_metrics(run)
        seg = segment_sums(run.output["tracer"])
        out.update({
            "features.rm_rows_s": seg["rm_feature_rows"],
            "features.em_rows_s": seg["em_feature_rows"],
            "graphs.rm_s": seg["graphs_rm"],
            "graphs.em_s": seg["graphs_em"],
            "graphs.triples_mention_s": seg["triples_mention"],
            "training.setup_s": seg["train"],
            "training.epoch_s": statistics.median(run.latencies),
            "training.s": seg["train"] + sum(run.latencies),
            "inference.score_s": seg["score"],
            "evaluation.sweep_s": seg["sweep"],
            "inference.materialize_s": seg["materialize"],
            "evaluation.f1": run.f1,
        })
        return out


# ------------------------------------------------------------- stream_edges
def stream_problems(edges: list[tuple], expected: tuple[int, str]) -> list[str]:
    if table_digest(EDGE_COLS, edges) != expected:
        return ["committed edge table differs from the batch "
                "turn_local_triples_join reference"]
    return []


class StreamEdges:
    """``stream_kg_edges`` drains a backlog of parquet files, one micro-batch
    per file, into ``incremental_agg_sink``: turn-local tokenize, POS and
    chunk, then a read-modify-write commit per batch."""

    N_TURNS = 1_500
    FILES = 2
    untagged_stage = "stream_kg_edges"

    def prepare(self, spark, seed: int, data_dir: str) -> dict:
        self.src = os.path.join(data_dir, "turns")
        n_convs, n_turns = write_transcripts(spark, self.N_TURNS, seed,
                                             self.src, self.FILES)
        files = sorted(f for f in os.listdir(self.src)
                       if f.endswith(".parquet"))
        # the warm-up drains copies of the input files, so both the first
        # commit and the merge into an existing version run
        self.warm_src = os.path.join(data_dir, "warm")
        os.makedirs(self.warm_src)
        for f in files:
            shutil.copy(os.path.join(self.src, f), self.warm_src)
        static = spark.read.parquet(self.src)
        ref = turn_local_triples_join(static, syn.kb_aliases(spark),
                                      syn.kb_facts(spark)) \
            .groupBy("subj", "pred", "obj") \
            .agg(F.count(F.lit(1)).alias("n_support"))
        self.expected = table_digest(
            EDGE_COLS, [tuple(r) for r in ref.select(*EDGE_COLS).collect()])
        return {"n_convs": n_convs, "n_turns": n_turns,
                "files": len(files), "expected_edges": self.expected[0]}

    def warm_up(self, spark, run_dir: str) -> None:
        self._drain(spark, self.warm_src, run_dir, None)

    def run(self, spark, run_dir: str, tracer: Tracer | None = None) -> Run:
        return self._drain(spark, self.src, run_dir, tracer)

    def _drain(self, spark, src: str, run_dir: str,
               tracer: Tracer | None) -> Run:
        target = os.path.join(run_dir, "edges")
        t0 = time.perf_counter()
        if tracer is not None:
            tracer.mark("stream_kg_edges", tag=True)
        q = stream_kg_edges(spark, src, os.path.join(run_dir, "ckpt"), target)
        q.awaitTermination()
        wall = time.perf_counter() - t0
        if tracer is not None:
            tracer.mark("end", tag=True)
        if q.exception() is not None:
            raise RuntimeError(f"stream_kg_edges failed: {q.exception()}")
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        edges = read_current_version(spark, target).select(*EDGE_COLS)
        return Run(wall, [p["durationMs"]["triggerExecution"] / 1000
                          for p in progress],
                   {"edges": [tuple(r) for r in edges.collect()],
                    "progress": progress})

    def check(self, run: Run) -> list[str]:
        return stream_problems(run.output["edges"], self.expected)

    def layer_metrics(self, run: Run) -> dict[str, float]:
        progress = run.output["progress"]
        dur = [p["durationMs"] for p in progress]
        med = statistics.median
        return {
            "streaming.batch_s": med(d["triggerExecution"] for d in dur) / 1e3,
            "streaming.sink_s": med(d["addBatch"] for d in dur) / 1e3,
            "streaming.plan_s": med(d.get("queryPlanning", 0)
                                    + d.get("getBatch", 0) for d in dur) / 1e3,
            "streaming.rows_per_batch": med(p["numInputRows"]
                                            for p in progress),
        }

    def stage_walls(self, run: Run) -> dict[str, float]:
        return {"stream_kg_edges": run.wall_s}


WORKLOADS = {"ds_batch": DsBatch, "stream_edges": StreamEdges,
             "learned": Learned}
