"""End-to-end batch pipeline: transcripts → docs → edges → clusters.

The Spark rendering of the reference's detection path (SURVEY.md §3.2;
/root/reference/database.py:288-711) as ONE declarative DAG:

  read transcripts
    → assemble docs (stable turn order; placeholder filter)      [1 shuffle]
    → retention gate                                             [narrow]
    → exact edges: a star to each doc_sha group's min (J2)       [1 shuffle]
    → fuzzy: shingle→OPH MinHash (one Arrow UDF) → LSH bands
      (narrow) → capped, blocked self-join (J3) → sha-inequality
      exclusion (J4) → Arrow-batched difflib scoring →
      threshold (F2/F3)                                          [2 shuffles]
    → tombstone anti-join (J5)
    → connected components (large/small-star, checkpointed)      [O(log n)]
    → clusters + report
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from repostcheckerbot_spark.config import DEFAULT_CONFIG, PipelineConfig
from repostcheckerbot_spark.operators.assembly import assemble_docs
from repostcheckerbot_spark.operators.blocking import generate_candidates
from repostcheckerbot_spark.operators.clustering import connected_components
from repostcheckerbot_spark.operators.retention import apply_ingest_gate
from repostcheckerbot_spark.operators.scoring import match_edges


@dataclass
class BatchResult:
    docs: DataFrame
    candidates: DataFrame
    edges: DataFrame
    clusters: DataFrame
    bucket_metrics: DataFrame
    metrics: list[dict]


def run_batch(
    transcripts: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    tombstones: DataFrame | None = None,
    checkpoint_dir: str | None = None,
    now=None,
) -> BatchResult:
    """Full batch entity resolution over a transcripts DataFrame.

    tombstones(conv_id): conversations deleted upstream — edges touching one
    are excluded (J5, database.py:649-676).
    """
    metrics: list[dict] = []
    t0 = time.monotonic()

    docs = assemble_docs(apply_ingest_gate(transcripts, cfg.retention_days, now=now))
    # signature computation (k-gram + OPH MinHash UDF) is CPU-bound per doc;
    # AQE's size-based coalescing would stack small-but-heavy doc partitions
    # onto few cores — spread explicitly, keyed by conv_id.
    docs = docs.repartition(transcripts.sparkSession.sparkContext.defaultParallelism, "conv_id")
    # docs feeds 4 downstream consumers (signatures, exact join, fuzzy text
    # lookup ×2, CC vertices); checkpoint once instead of recomputing the
    # assembly groupBy per consumer. On a cluster this is the Iceberg
    # stage-table write; locally an in-memory checkpoint. LAZY: the first
    # consumer's action materializes it — an eager checkpoint is one more
    # sequential job launch on the driver floor (BENCH/BASELINE.md).
    docs = docs.localCheckpoint(eager=False)
    # spread=False: docs were repartitioned to the pool (and lazily
    # checkpointed) two lines up — the operator's own spread would pay the
    # exchange a second time
    candidates, bucket_metrics = generate_candidates(docs, cfg, spread=False)
    candidates = candidates.localCheckpoint(eager=False)
    edges = match_edges(docs, candidates, cfg)

    if tombstones is not None:
        dead = tombstones.select("conv_id")
        edges = edges.join(
            dead.withColumnRenamed("conv_id", "conv_id_a"), "conv_id_a", "left_anti"
        ).join(dead.withColumnRenamed("conv_id", "conv_id_b"), "conv_id_b", "left_anti")
    # edges feed both CC and the caller; checkpoint so the difflib scoring
    # stage runs exactly once however many consumers follow (lazy — CC's
    # edge-sizing count is the materializing action).
    edges = edges.localCheckpoint(eager=False)

    clusters = connected_components(
        edges,
        vertices=docs.select("conv_id"),
        checkpoint_dir=checkpoint_dir,
        max_iterations=cfg.cc_max_iterations,
        metrics=metrics,
    )
    metrics.append({"stage": "run_batch", "wall_s": time.monotonic() - t0})
    return BatchResult(docs, candidates, edges, clusters, bucket_metrics, metrics)


def repost_report(edges: DataFrame, docs: DataFrame, now=None) -> DataFrame:
    """The reference's markdown reply table (app.py:182-206), relational:
    one row per matched original with rank, humanized age, and score.

    Columns ≙ the reply's (cntr, url, time_ago, percent, author/title carry).
    """
    from pyspark.sql import Window

    from repostcheckerbot_spark.functions.timeutil import time_ago

    now = now if now is not None else F.current_timestamp()
    enriched = (
        edges.join(
            docs.select(F.col("conv_id").alias("conv_id_a"), F.col("first_ts").alias("orig_ts")),
            "conv_id_a",
        )
        .withColumn("time_ago", time_ago(F.col("orig_ts"), now))
        .withColumn("rank", F.row_number().over(Window.partitionBy("conv_id_b").orderBy(F.desc("score"), "conv_id_a")))
    )
    return enriched.select(
        F.col("conv_id_b").alias("probe_conv_id"),
        "rank",
        F.col("conv_id_a").alias("matched_conv_id"),
        "time_ago",
        F.round("score", 2).alias("percent_matched"),
        "method",
    )
