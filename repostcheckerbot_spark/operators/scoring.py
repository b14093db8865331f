"""Pairwise scoring: exact sha edges + Arrow-batched difflib ratio on candidates.

Reference parity (file:line in /root/reference/):
- exact probe   — ``SELECT ... WHERE Content = ?`` emitting 100%-score matches
  (database.py:365-388). Spark: a star per ``doc_sha`` group (J2, see
  exact_edges / star_edges).
- fuzzy scorer  — ``SequenceMatcher(None, stored, incoming).ratio()``
  (database.py:395) with the DEFAULT autojunk=True. F1≥0.99 parity forces us
  to call difflib itself — but only on LSH-surviving candidates (a vanishing
  fraction of N²), inside an Arrow-batched pandas UDF (no per-row Python at
  the Spark layer; the per-pair loop runs over an in-memory Arrow batch).
- accept rule   — ``10 - ratio*10 < thresh``  ⇔  ``ratio > 1 - thresh/10``
  (database.py:396; strict inequality).
- score         — ``ratio * 100`` (database.py:399); exact matches score 100
  (database.py:382).
- exclusion     — records already matched exactly are skipped by the fuzzy
  loop (``texts[0] not in result``, database.py:393) → sha inequality (J4).

Batch (pipeline.run_batch) and incremental (ingest.process_batch) runs share
star_edges and fuzzy_edges: the difflib scoring plan is built here only.
"""

from __future__ import annotations

from difflib import SequenceMatcher

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from repostcheckerbot_spark.config import PipelineConfig


@F.pandas_udf(T.DoubleType())
def difflib_ratio(a: pd.Series, b: pd.Series) -> pd.Series:
    """Batched Ratcliff–Obershelp ratio, reference semantics incl. autojunk.

    The reference computes SequenceMatcher(None, stored, incoming) — ratio()
    is symmetric in value, but autojunk classification is per-second-argument;
    we pass (a, b) in canonical (conv_id_a < conv_id_b) order and the fixture
    oracle is computed the same way, so verdicts align.

    The batch is processed in b-sorted order with ONE reused matcher:
    ``set_seq2`` (the expensive side — b2j index + autojunk classification)
    runs once per DISTINCT b in the batch instead of once per pair. Results
    are per-pair and order-independent, so this is value-identical to a
    fresh matcher per pair (asserted by the scorer parity tests);
    fuzzy_edges repartitions candidate pairs BY conv_id_b so same-b pairs
    land in the same batch and the reuse actually fires.
    """
    import numpy as np

    av = a.to_numpy(dtype=object)
    bv = b.to_numpy(dtype=object)
    keys = np.array([x if x is not None else "" for x in bv], dtype=object)
    order = np.argsort(keys, kind="stable")
    out = np.zeros(len(bv), dtype=np.float64)
    sm = SequenceMatcher(None)
    prev: object = None
    for i in order:
        x, y = av[i], bv[i]
        if x is None or y is None:
            continue
        if y != prev:
            sm.set_seq2(y)
            prev = y
        sm.set_seq1(x)
        out[i] = sm.ratio()
    return pd.Series(out)


#: difflib_ratio for FILTERED paths (guide §4.4): a `withColumn(ratio, udf)`
#: + `where(ratio > t)` otherwise plans TWO ArrowEvalPython nodes — the
#: optimizer pushes the filter below the explicit repartition with a COPY of
#: the UDF, so every candidate pair pays difflib twice AND the expensive
#: copy runs at the upstream AQE-coalesced partitioning (measured: a 10-task
#: 19.7 s stage at sf1.0 whose tasks idle on Python at 0.6 s JVM CPU).
#: Non-determinism pins a single evaluation above the repartition exchange.
difflib_ratio_once = difflib_ratio.asNondeterministic()


def _jaro(s1: str, s2: str) -> float:
    """Jaro similarity, DuckDB-parity conventions (validated bit-exact on 4000
    random pairs): empty side → 0.0 (even '' vs ''), match window
    max(len)//2 − 1 floored at 0, transpositions = mismatched-position
    count // 2 (integer floor)."""
    l1, l2 = len(s1), len(s2)
    if not l1 or not l2:
        return 0.0
    if s1 == s2:
        return 1.0
    md = max(max(l1, l2) // 2 - 1, 0)
    m2 = [False] * l2
    matched1 = [False] * l1
    matches = 0
    for i, c in enumerate(s1):
        lo, hi = max(0, i - md), min(l2, i + md + 1)
        for j in range(lo, hi):
            if not m2[j] and s2[j] == c:
                m2[j] = matched1[i] = True
                matches += 1
                break
    if not matches:
        return 0.0
    a = [s1[i] for i in range(l1) if matched1[i]]
    b = [s2[j] for j in range(l2) if m2[j]]
    t = sum(1 for x, y in zip(a, b) if x != y) // 2
    return (matches / l1 + matches / l2 + (matches - t) / matches) / 3.0


def _jaro_winkler(s1: str, s2: str, p: float = 0.1, boost: float = 0.7) -> float:
    """Winkler prefix bonus (≤4 chars, scale 0.1) applied only above the
    standard 0.7 boost threshold — the same rule DuckDB's
    jaro_winkler_similarity applies (verified empirically)."""
    j = _jaro(s1, s2)
    if j <= boost:
        return j
    l = 0
    for x, y in zip(s1[:4], s2[:4]):
        if x != y:
            break
        l += 1
    return j + l * p * (1.0 - j)


@F.pandas_udf(T.DoubleType())
def jaro_winkler(a: pd.Series, b: pd.Series) -> pd.Series:
    """Batched Jaro-Winkler similarity — the alternative scorer named by the
    design brief alongside difflib. Arrow-batched like difflib_ratio; the
    per-pair loop runs over an in-memory batch, so cap input length at the
    call site (similarity is front-loaded; 64-256 chars is the useful regime)
    — the O(len·window) inner loop is the cost driver."""
    return pd.Series(
        [
            _jaro_winkler(x, y) if x is not None and y is not None else 0.0
            for x, y in zip(a, b)
        ]
    )


def levenshtein_ratio(a, b):
    """Levenshtein similarity ratio 1 − dist/max(len) as a NATIVE column
    expression (JVM ``levenshtein`` — whole-stage codegen, no Python): the
    other brief-named scorer. Empty-vs-empty rates 1.0 (identical)."""
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    denom = F.greatest(F.length(a), F.length(b))
    return F.when(denom == 0, F.lit(1.0)).otherwise(1.0 - F.levenshtein(a, b) / denom)


def exact_edges(docs: DataFrame) -> DataFrame:
    """Exact matches as STAR edges: (group-min conv_id, member, 100, 'exact').

    The reference emits one match row per stored copy (database.py:373-388);
    the naive translation is an all-pairs self-join on doc_sha — quadratic in
    the duplicate-group size, which at 100 TB is the single worst skew bomb
    (one viral/spam document with 10⁶ copies ⇒ 5·10¹¹ rows). A star per sha
    group is linear, produces the identical connected components, and the
    group membership itself (same doc_sha ⇒ duplicate, score 100) remains a
    constant-time lookup — pairwise verdicts for ANY in-group pair are
    recoverable without materializing the pair.
    """
    reps = docs.groupBy("doc_sha").agg(F.min("conv_id").alias("rep"))
    return star_edges(docs.join(reps, "doc_sha"))


def star_edges(members: DataFrame) -> DataFrame:
    """``(conv_id, rep)`` rows → one canonical exact edge per non-rep member:
    (least, greatest, 100, 'exact'). Shared by the batch star (exact_edges),
    the incremental probe and the purge's re-star."""
    return members.where(F.col("conv_id") != F.col("rep")).select(
        F.least("conv_id", "rep").alias("conv_id_a"),
        F.greatest("conv_id", "rep").alias("conv_id_b"),
        F.lit(100.0).alias("score"),
        F.lit("exact").alias("method"),
    )


def fuzzy_edges(candidates: DataFrame, docs: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Score LSH candidates that were not already exact matches.

    candidates(conv_id_a, conv_id_b) × docs(conv_id, doc_sha, norm_text) →
    (conv_id_a, conv_id_b, score, score method='fuzzy') with
    ratio > cfg.ratio_threshold (strict, database.py:396).

    The exact-exclusion (J4, database.py:393) is sha-equality, not an edge
    anti-join: exact edges are stars (see exact_edges), so two non-rep
    members of one exact group would otherwise be re-scored here. The sha
    filter runs BEFORE any text is joined: most band collisions are
    same-sha pairs, which never ship their texts.
    """
    shas = docs.select("conv_id", "doc_sha")
    cand = (
        candidates.join(
            shas.withColumnRenamed("conv_id", "conv_id_a").withColumnRenamed("doc_sha", "sha_a"), "conv_id_a"
        )
        .join(shas.withColumnRenamed("conv_id", "conv_id_b").withColumnRenamed("doc_sha", "sha_b"), "conv_id_b")
        .where(F.col("sha_a") != F.col("sha_b"))
        .select("conv_id_a", "conv_id_b")
    )
    texts = docs.select("conv_id", "norm_text")
    paired = (
        cand.join(texts.withColumnRenamed("conv_id", "conv_id_a").withColumnRenamed("norm_text", "text_a"), "conv_id_a")
        .join(texts.withColumnRenamed("conv_id", "conv_id_b").withColumnRenamed("norm_text", "text_b"), "conv_id_b")
    )
    # The difflib stage is CPU-bound, not size-bound: AQE's size-based
    # coalescing would pack these (byte-small, cycle-heavy) rows onto 1-2
    # cores. Spread explicitly to the cluster's full parallelism — KEYED by
    # conv_id_b: a keyed exchange skips the local sort every keyless
    # repartition pays (spark.sql.execution.sortBeforeRepartition) and
    # co-locates same-b pairs so the scorer's set_seq2 reuse fires;
    # thousands of distinct b values over the pool hash evenly.
    paired = paired.repartition(
        paired.sparkSession.sparkContext.defaultParallelism, F.col("conv_id_b")
    )
    scored = paired.withColumn("ratio", difflib_ratio_once(F.col("text_a"), F.col("text_b")))
    return scored.where(F.col("ratio") > F.lit(cfg.ratio_threshold)).select(
        "conv_id_a",
        "conv_id_b",
        (F.col("ratio") * 100.0).alias("score"),
        F.lit("fuzzy").alias("method"),
    )


def match_edges(docs: DataFrame, candidates: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Union of match strategies (U1, database.py:379-405): exact ∪ fuzzy."""
    exact = exact_edges(docs)
    fuzzy = fuzzy_edges(candidates, docs, cfg)
    return exact.unionByName(fuzzy)
