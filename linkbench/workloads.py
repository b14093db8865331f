"""Set-up, measured loops and correctness checks of the three workloads.

One op of a batch workload is one ``pipeline.run_batch`` timed until its
edges and clusters are materialized. One op of ``incremental_churn`` is one
``IncrementalPipeline.process_batch`` (a tick) or one ``purge_deleted``, run
back to back by a single client (a closed loop). A new op starts while the
run's budget of seconds is not spent.

The traced variants run the same ops under spans (``tracing.py``). A traced
batch op calls the layer functions that ``run_batch`` composes one at a time
and materializes each layer's output inside its span, so each job carries the
layer's name; the extra materializations are part of ``trace.overhead_s``.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import pandas as pd
from pyspark.sql import functions as F

from repostcheckerbot_spark.config import DEFAULT_CONFIG as CFG
from repostcheckerbot_spark.operators.assembly import assemble_docs
from repostcheckerbot_spark.operators.blocking import generate_candidates
from repostcheckerbot_spark.operators.clustering import connected_components
from repostcheckerbot_spark.operators.ingest import IncrementalPipeline
from repostcheckerbot_spark.operators.retention import apply_ingest_gate
from repostcheckerbot_spark.operators.scoring import match_edges
from repostcheckerbot_spark.pipeline import run_batch
from repostcheckerbot_spark.sinks.state import Warehouse

from linkbench.tracing import Tracer, instrumented

#: input loads in one run's set-up; ``setup_s`` counts their median
SETUP_REPEATS = 3
#: untimed ops before a batch workload measures: op time still falls over
#: the first few ops, as the JVM compiles the generated code
WARM_UP_OPS = 2


# ---- correctness -------------------------------------------------------------
def pair_f1(clusters: pd.DataFrame, labels: pd.DataFrame) -> dict:
    """Pairwise F1 of cluster co-membership against labeled pairs. Pairs
    with an end outside ``clusters`` are not scored."""
    cid = dict(zip(clusters["conv_id"], clusters["cluster_id"]))
    lab = labels[labels["conv_id_a"].isin(cid.keys()) & labels["conv_id_b"].isin(cid.keys())]
    pred = lab["conv_id_a"].map(cid) == lab["conv_id_b"].map(cid)
    dup = lab["is_dup"].astype(bool)
    tp, fp, fn = int((pred & dup).sum()), int((pred & ~dup).sum()), int((~pred & dup).sum())
    return {"f1": 2 * tp / (2 * tp + fp + fn) if tp else 0.0, "tp": tp, "fp": fp, "fn": fn}


def digest(clusters: pd.DataFrame) -> dict:
    """Counts and a hash of a (conv_id, cluster_id) partition."""
    rows = sorted(zip(clusters["conv_id"], clusters["cluster_id"]))
    sizes = clusters.groupby("cluster_id").size()
    return {
        "conversations": len(rows),
        "clusters": int(len(sizes)),
        "multi_clusters": int((sizes > 1).sum()),
        "sha256": hashlib.sha256("\n".join(f"{a}\t{b}" for a, b in rows).encode()).hexdigest(),
    }


class Expected:
    """Result digests cached per (workload, seed): the first run records
    them, later runs must reproduce them exactly."""

    def __init__(self, path: str):
        self.path = path
        self.data = json.load(open(path)) if os.path.isfile(path) else {}

    def check(self, key: str, value: dict) -> bool:
        if key not in self.data:
            self.data[key] = value
            with open(self.path, "w") as f:
                json.dump(self.data, f, indent=1, sort_keys=True)
        return self.data[key] == value


# ---- the run ---------------------------------------------------------------
class Run:
    """State of one benchmark run: ops attempted and failed, their walls,
    failed checks, and counts recorded by traced ops."""

    def __init__(self, spark, inputs, transcripts_path, parts_path, expected: Expected):
        self.spark = spark
        self.inputs = inputs
        self.transcripts_path = transcripts_path
        self.parts_path = parts_path
        self.expected = expected
        self.attempted = 0
        self.failed = 0
        self.checks: dict[str, bool] = {}
        self.walls: dict[str, list[float]] = {}
        self.counts: list[dict] = []
        self.tracer: Tracer | None = None
        #: (kind, start, end) of every traced op
        self.op_windows: list[tuple[str, float, float]] = []
        self.f1: dict = {}
        #: the cached input, with the benchmark's ``part`` column
        self.tr = None
        #: the warehouse of ``incremental_churn``
        self.pipe: IncrementalPipeline | None = None
        #: the ``_metrics`` table after a traced incremental run
        self.metrics_rows: pd.DataFrame | None = None

    def check(self, name: str, ok: bool) -> None:
        self.checks[name] = self.checks.get(name, True) and bool(ok)
        if not ok:
            print(f"check failed: {name}", file=sys.stderr)

    def op(self, kind: str, fn):
        """Run one op, timed; a raised exception counts as a failed op."""
        self.attempted += 1
        t0 = time.perf_counter()
        w0 = time.time()
        try:
            if self.tracer is not None:
                with self.tracer.span(*kind.split(":")):
                    out = fn()
            else:
                out = fn()
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None
        self.walls.setdefault(kind, []).append(time.perf_counter() - t0)
        if self.tracer is not None:
            self.op_windows.append((kind, w0, time.time()))
        return out

    def load(self) -> float:
        """Read the input transcripts (plus the benchmark's ``part`` column)
        into ``self.tr``, cached in memory, dropping an earlier load; returns
        the seconds it took."""
        t0 = time.perf_counter()
        if self.tr is not None:
            self.tr.unpersist()
        df = self.spark.read.parquet(self.transcripts_path).select(
            "conv_id", F.col("turn_idx").cast("int"), "role", "text", "tool", F.col("ts").cast("timestamp")
        )
        df = df.join(F.broadcast(self.spark.read.parquet(self.parts_path)), "conv_id").cache()
        df.count()
        self.tr = df
        return time.perf_counter() - t0

    def bookkeeping(self, fn) -> dict:
        """Counts taken after a traced op, outside its window; their jobs
        carry the ``trace`` layer."""
        with self.tracer.span("trace", "bookkeeping"):
            return fn()


def _program_input(df):
    return df.drop("part")


def _turns_by_part(inputs) -> dict[int, int]:
    per_conv = inputs.transcripts.groupby("conv_id").size()
    return inputs.parts.assign(turns=inputs.parts["conv_id"].map(per_conv)).groupby("part")["turns"].sum().astype(int).to_dict()


def _input_bytes_by_part(inputs) -> dict[int, int]:
    """Raw field bytes of each part's transcripts: string lengths (the
    generator writes ASCII) plus 12 bytes for turn_idx and ts."""
    t = inputs.transcripts
    row_bytes = sum(t[c].str.len() for c in ("conv_id", "role", "text", "tool")) + 12
    per_conv = row_bytes.groupby(t["conv_id"]).sum()
    return inputs.parts.assign(b=inputs.parts["conv_id"].map(per_conv)).groupby("part")["b"].sum().astype(int).to_dict()


# ---- set-up -------------------------------------------------------------------
def setup_batch(run: Run) -> dict:
    """Load the input ``SETUP_REPEATS`` times, then run ``WARM_UP_OPS``
    untimed ops on it."""
    loads = [run.load() for _ in range(SETUP_REPEATS)]
    t0 = time.perf_counter()
    for _ in range(WARM_UP_OPS):
        batch_op(run.tr)
    return {"load_s": loads, "warm_up_s": time.perf_counter() - t0, "seed_warehouse_s": 0.0}


def setup_churn(run: Run, work_dir: str, warm_up_ticks: int) -> dict:
    """Load the input ``SETUP_REPEATS`` times, then seed a fresh warehouse:
    one ``process_batch`` of the seed corpus, then micro-batches 0 ..
    ``warm_up_ticks`` - 1, one per call. The seeding is also the warm-up:
    the first small ``process_batch`` after the seed corpus is slower than
    the ones after it."""
    loads = [run.load() for _ in range(SETUP_REPEATS)]
    t0 = time.perf_counter()
    run.pipe = new_warehouse(run.spark, work_dir)
    for part in range(-1, warm_up_ticks):
        run.pipe.process_batch(_program_input(run.tr.where(F.col("part") == part)))
    return {"load_s": loads, "warm_up_s": 0.0, "seed_warehouse_s": time.perf_counter() - t0}


# ---- batch workloads -------------------------------------------------------
def batch_op(tr) -> dict:
    res = run_batch(_program_input(tr), CFG)
    n_edges = res.edges.count()
    return {"clusters": res.clusters.toPandas(), "edges": n_edges}


def traced_batch_op(run: Run, tr) -> dict:
    """``pipeline.run_batch``, one layer at a time: the same calls in the
    same order, each layer's output materialized inside its span."""
    t = run.tracer
    tr = _program_input(tr)
    with t.span("assembly", "assemble_docs"):
        docs = assemble_docs(apply_ingest_gate(tr, CFG.retention_days))
        docs = docs.repartition(tr.sparkSession.sparkContext.defaultParallelism, "conv_id").localCheckpoint(eager=True)
    with t.span("blocking", "generate_candidates"):
        candidates, bucket_metrics = generate_candidates(docs, CFG, spread=False)
        candidates = candidates.localCheckpoint(eager=True)
    with t.span("scoring", "match_edges"):
        edges = match_edges(docs, candidates, CFG).localCheckpoint(eager=True)
    with t.span("clustering", "connected_components") as cc:
        cc.counts["cc"] = []
        clusters = connected_components(
            edges, vertices=docs.select("conv_id"), max_iterations=CFG.cc_max_iterations, metrics=cc.counts["cc"]
        ).toPandas()
    return {"clusters": clusters, "docs": docs, "candidates": candidates, "bucket_metrics": bucket_metrics, "edges_df": edges, "cc": cc.counts["cc"]}


def batch_counts(out: dict) -> dict:
    docs, cand, edges = out["docs"], out["candidates"], out["edges_df"]
    shas = docs.select("conv_id", "doc_sha")
    scored = (
        cand.join(shas.withColumnRenamed("conv_id", "conv_id_a").withColumnRenamed("doc_sha", "sha_a"), "conv_id_a")
        .join(shas.withColumnRenamed("conv_id", "conv_id_b").withColumnRenamed("doc_sha", "sha_b"), "conv_id_b")
        .where(F.col("sha_a") != F.col("sha_b"))
    )
    return {
        "docs_out": docs.count(),
        "candidate_pairs": cand.count(),
        "capped_buckets": out["bucket_metrics"].count(),
        "pairs_scored": scored.count(),
        "fuzzy_edges": edges.where(F.col("method") == "fuzzy").count(),
        "edges": edges.count(),
    }


def run_batch_workload(run: Run, seconds: float, trace: bool) -> dict:
    tr = run.tr
    turns = len(run.inputs.transcripts)
    digests = []

    def loop(kind, fn, budget):
        t_end = time.perf_counter() + budget
        while not run.walls.get(kind) or time.perf_counter() < t_end:
            out = run.op(f"op:{kind}", fn)
            if out is None:
                if time.perf_counter() >= t_end:
                    break
                continue
            run.walls.setdefault(kind, []).append(run.walls[f"op:{kind}"][-1])
            if "edges" not in out:
                counts = run.bookkeeping(lambda: batch_counts(out))
                run.counts.append({**counts, "cc": out["cc"]})
                out["edges"] = counts["edges"]
            digests.append({**digest(out["clusters"]), "edges": out["edges"]})
            if not run.f1:
                run.f1 = pair_f1(out["clusters"], run.inputs.labels)

    if trace:
        loop("plain", lambda: batch_op(tr), seconds / 2)
        run.tracer = Tracer(run.spark.sparkContext)
        loop("traced", lambda: traced_batch_op(run, tr), seconds / 2)
    else:
        loop("plain", lambda: batch_op(tr), seconds)
    run.check("results repeat across ops", all(d == digests[0] for d in digests))
    run.check("results repeat across runs", bool(digests) and run.expected.check("batch", digests[0]))
    walls = run.walls.get("plain", [])
    return {
        "op_p50_s": statistics.median(walls) if walls else None,
        "turns_per_s": turns * len(walls) / sum(walls) if walls else None,
        "op_walls_s": walls,
    }


# ---- incremental churn -----------------------------------------------------
def run_churn_workload(run: Run, seconds: float, trace: bool, first_tick: int, ticks_per_cycle: int) -> dict:
    """Micro-batch k on tick k = ``first_tick``, .. (set-up ingested the
    ones before), in whole cycles: ``ticks_per_cycle`` ticks, then a purge
    of the next tombstone set. Cycles run while the budget lasts, at least
    one; the rate counts whole cycles only, so it does not depend on where
    in a cycle the budget ran out. In a traced run the first half of the
    budget runs plain cycles, the second half traced ones, and the plain
    half leaves the last cycle to the traced one."""
    tr, inp, pipe = run.tr, run.inputs, run.pipe
    turns_of = _turns_by_part(inp)
    bytes_of = _input_bytes_by_part(inp)
    tomb_sets = [
        run.spark.createDataFrame(g[["conv_id"]].reset_index(drop=True), "conv_id string")
        for _, g in sorted(inp.tombstones.groupby("purge"))
    ]
    n_cycles = len(tomb_sets)
    #: k: the next tick
    state = {"k": first_tick, "purges": 0, "turns": 0}

    def tick(phase: str) -> None:
        k = state["k"]
        before = _files(pipe.wh.root) if phase == "traced" else None
        batch = tr.where(F.col("part") == k).drop("part")
        kind = "ingest:process_batch"
        if run.op(kind, lambda: pipe.process_batch(batch)) is not None:
            run.walls.setdefault(f"tick:{phase}", []).append(run.walls[kind][-1])
            state["turns"] += turns_of[k] if phase == "plain" else 0
            if before is not None:
                written = sum(size for path, size in _files(pipe.wh.root).items() if before.get(path) != size)
                run.counts.append({"tick": k, "bytes_written": written, "input_bytes": bytes_of[k]})
        state["k"] += 1

    def purge(phase: str) -> None:
        dead = tomb_sets[state["purges"]]
        if run.op("ingest:purge_deleted", lambda: pipe.purge_deleted(dead)) is not None:
            run.walls.setdefault(f"purge:{phase}", []).append(run.walls["ingest:purge_deleted"][-1])
        state["purges"] += 1

    def loop(phase: str, budget: float, last_cycle: int) -> float:
        t0 = time.perf_counter()
        t_end = t0 + budget
        first = state["purges"]
        while state["purges"] < last_cycle and (state["purges"] == first or time.perf_counter() < t_end):
            for _ in range(ticks_per_cycle):
                tick(phase)
            purge(phase)
        return time.perf_counter() - t0

    if trace:
        loop("plain", seconds / 2, n_cycles - 1)
        run.tracer = Tracer(run.spark.sparkContext)
        with instrumented(run.tracer):
            loop("traced", seconds / 2, n_cycles)
        run.metrics_rows = run.bookkeeping(lambda: pipe.wh.read("_metrics").toPandas())
        loop_wall = None
    else:
        loop_wall = loop("plain", seconds, n_cycles)
    churn_checks(run, state)
    ticks = run.walls.get("tick:plain", [])
    return {
        "op_p50_s": statistics.median(ticks) if ticks else None,
        "turns_per_s": state["turns"] / loop_wall if loop_wall else None,
        "tick_walls_s": ticks,
        "purge_walls_s": run.walls.get("purge:plain", []),
        "last_tick": state["k"] - 1,
        "purges": state["purges"],
    }


def churn_checks(run: Run, state: dict) -> None:
    """Purged conv_ids are gone from every table; the final partition equals
    run_batch over the surviving corpus (cached per seed and schedule)."""
    inp, wh = run.inputs, run.pipe.wh
    dead = set(inp.tombstones.loc[inp.tombstones["purge"] < state["purges"], "conv_id"])
    docs = set(wh.read("corpus_docs").select("conv_id").toPandas()["conv_id"])
    edges = wh.read("edges").select("conv_id_a", "conv_id_b").toPandas()
    clusters = wh.read("clusters").toPandas()
    run.check("purged ids absent from corpus_docs", not dead & docs)
    run.check("purged ids absent from edges", not dead & (set(edges["conv_id_a"]) | set(edges["conv_id_b"])))
    run.check("purged ids absent from clusters", not dead & (set(clusters["conv_id"]) | set(clusters["cluster_id"])))
    survivors = set(inp.parts.loc[inp.parts["part"] < state["k"], "conv_id"]) - dead
    run.check("corpus_docs holds the surviving corpus", docs == survivors)
    got = digest(clusters)
    key = f"churn-ticks{state['k'] - 1}-purges{state['purges']}"
    if key not in run.expected.data:
        ref = run.tr.where((F.col("part") < state["k"]) & ~F.col("conv_id").isin(sorted(dead)))
        run.expected.check(key, digest(batch_op(ref)["clusters"]))
    run.check("partition equals run_batch over the surviving corpus", run.expected.check(key, got))
    run.f1 = pair_f1(clusters, inp.labels)


def _files(root: str) -> dict[str, int]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:
                pass
    return out


def warehouse_size(root: str) -> tuple[int, int]:
    """(bytes, parquet files) stored under the warehouse."""
    files = _files(root)
    return sum(files.values()), sum(p.endswith(".parquet") for p in files)


def new_warehouse(spark, work_dir: str) -> IncrementalPipeline:
    root = os.path.join(work_dir, "warehouse")
    shutil.rmtree(root, ignore_errors=True)
    return IncrementalPipeline(Warehouse(spark, root), CFG)
