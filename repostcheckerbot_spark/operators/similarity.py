"""Approximate-nearest-neighbor / similarity search over an embedding column.

Input: ``embeddings(vec_id:int64, embedding:array<float>, label:int)``.

- brute-force cosine top-k: the correctness baseline. Dot products via the
  native higher-order ``zip_with`` + ``aggregate`` (JVM-side); top-k via a
  window. O(N·M) — fine for a probe set, the oracle for the ANN variants.
- LSH-bucketed variant (random hyperplane signs): the scale path — candidates
  only within matching sign-sketch buckets, then exact cosine re-rank.

At 100 TB the brute-force path is only ever probe-batch × corpus with the
probe side broadcast; the bucketed path shuffles each side once on the sketch
key.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql import Window

from repostcheckerbot_spark.functions.partitioning import spread_to_parallelism


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk_bruteforce(
    embeddings: DataFrame, probes: DataFrame, k: int = 5, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """For each probe vector: the k most-cosine-similar corpus vectors
    (excluding itself). Probe side is broadcast — corpus is never shuffled."""
    corpus = spread_to_parallelism(embeddings).select(F.col(id_col).alias("corpus_id"), F.col(vec_col).alias("cv"))
    p = probes.select(F.col(id_col).alias("probe_id"), F.col(vec_col).alias("pv"))
    scored = (
        corpus.join(F.broadcast(p), F.col("probe_id") != F.col("corpus_id"))
        .withColumn("cos", F.round(cosine(F.col("pv"), F.col("cv")), 6))
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos"), F.asc("corpus_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("probe_id", "corpus_id", "cos", "rnk")
    )


def with_sign_sketch(embeddings: DataFrame, planes: list[list[float]], vec_col: str = "embedding") -> DataFrame:
    """Random-hyperplane LSH: sketch bit i = sign(v · plane_i). Planes are a
    deterministic host-side list (seeded by the caller), broadcast as literals
    inside the plan — no Python at eval time."""
    sketch = None
    for i, plane in enumerate(planes):
        arr = F.array(*[F.lit(float(x)) for x in plane])
        bit = (_dot(F.col(vec_col), arr) > 0).cast("int")
        sketch = bit if sketch is None else sketch * 2 + bit
    return embeddings.withColumn("sketch", sketch.cast("int"))


def cosine_topk_lsh(
    embeddings: DataFrame,
    probes: DataFrame,
    planes: list[list[float]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN: candidates share the sign sketch (all ``len(planes)`` hyperplane
    sides), exact cosine re-rank inside the bucket. Recall < 1 by design —
    compare against cosine_topk_bruteforce to measure it."""
    corpus = with_sign_sketch(spread_to_parallelism(embeddings), planes, vec_col).select(
        F.col(id_col).alias("corpus_id"), F.col(vec_col).alias("cv"), "sketch"
    )
    p = with_sign_sketch(probes, planes, vec_col).select(
        F.col(id_col).alias("probe_id"), F.col(vec_col).alias("pv"), "sketch"
    )
    scored = (
        corpus.join(F.broadcast(p), "sketch")
        .where(F.col("probe_id") != F.col("corpus_id"))
        .withColumn("cos", F.round(cosine(F.col("pv"), F.col("cv")), 6))
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos"), F.asc("corpus_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("probe_id", "corpus_id", "cos", "rnk")
    )


def make_planes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (host-side, seeded)."""
    import random

    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def make_plane_tables(dim: int, n_tables: int, n_planes: int, seed: int = 42) -> list[list[list[float]]]:
    """``n_tables`` independent sign-sketch tables (seeded, deterministic)."""
    return [make_planes(dim, n_planes, seed=seed * 1000 + t) for t in range(n_tables)]


def _multi_sketch(df: DataFrame, tables: list[list[list[float]]], id_alias: str, vec_alias: str, id_col: str, vec_col: str) -> DataFrame:
    """(id, vec, table_id, sketch) rows — one per sketch table. Sketches are
    pure column algebra (plane literals folded into the plan), so this is a
    narrow ×n_tables explode, no Python at eval time."""
    out = df
    for t, planes in enumerate(tables):
        out = with_sign_sketch(out, planes, vec_col).withColumnRenamed("sketch", f"_sk{t}")
    sketches = F.array(*[F.struct(F.lit(t).alias("table_id"), F.col(f"_sk{t}").alias("sketch")) for t in range(len(tables))])
    return (
        out.select(
            F.col(id_col).alias(id_alias),
            F.col(vec_col).alias(vec_alias),
            F.explode(sketches).alias("s"),
        )
        .select(id_alias, vec_alias, F.col("s.table_id").alias("table_id"), F.col("s.sketch").alias("sketch"))
    )


def cosine_topk_lsh_multi(
    embeddings: DataFrame,
    probes: DataFrame,
    tables: list[list[list[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-table sign-sketch ANN: candidates share ANY table's full sketch
    (the standard multi-table LSH recall amplifier — one sketch table has
    P(candidate) = (1−θ/π)^b for angle θ; T independent tables lift recall to
    1−(1−p)^T at T× candidate cost). One equi-join on (table_id, sketch);
    exact cosine re-rank; pair dedup before ranking."""
    corpus = _multi_sketch(spread_to_parallelism(embeddings), tables, "corpus_id", "cv", id_col, vec_col)
    p = _multi_sketch(probes, tables, "probe_id", "pv", id_col, vec_col)
    scored = (
        corpus.join(F.broadcast(p), ["table_id", "sketch"])
        .where(F.col("probe_id") != F.col("corpus_id"))
        .dropDuplicates(["probe_id", "corpus_id"])
        .withColumn("cos", F.round(cosine(F.col("pv"), F.col("cv")), 6))
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos"), F.asc("corpus_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("probe_id", "corpus_id", "cos", "rnk")
    )


# --------------------------------------------------------------------------
# IVF (inverted-file) ANN: coarse quantizer + nprobe search
# --------------------------------------------------------------------------
def sample_centroids(embeddings: DataFrame, n_centroids: int, id_col: str = "vec_id", vec_col: str = "embedding") -> list[list[float]]:
    """First-N-by-id coarse quantizer — a DEGENERATE baseline kept only so
    tests can demonstrate why it is insufficient (on clustered embeddings the
    first N ids may all fall in one cluster, skewing cells and sinking
    recall). Production call sites use :func:`kmeans_centroids`."""
    rows = (
        embeddings.select(id_col, vec_col).orderBy(id_col).limit(n_centroids).collect()
    )
    return [[float(x) for x in r[vec_col]] for r in rows]


def _kmeans_core(X: np.ndarray, n_centroids: int, n_iter: int) -> list[list[float]]:
    """Pure-numpy spherical k-means: greedy maximin / k-center init
    (Gonzalez 1985) + ``n_iter`` Lloyd rounds (Dhillon & Modha 2001) — fully
    deterministic (no RNG; ties → smallest index). Shared by the Spark
    sampler and the offline (oracle-side) reproduction, so both produce
    BIT-IDENTICAL centroids from the same sample matrix."""
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    k = min(n_centroids, len(Xn))
    chosen = [0]
    best_sim = Xn @ Xn[0]
    for _ in range(1, k):
        nxt = int(np.argmin(best_sim))  # least-covered point; ties → smallest index
        chosen.append(nxt)
        best_sim = np.maximum(best_sim, Xn @ Xn[nxt])
    C = Xn[chosen].copy()
    for _ in range(n_iter):
        assign = np.argmax(Xn @ C.T, axis=1)  # ties → smallest centroid id
        for j in range(k):
            members = Xn[assign == j]
            if len(members):
                c = members.mean(axis=0)
                nrm = np.linalg.norm(c)
                if nrm > 1e-12:
                    C[j] = c / nrm
    return [row.tolist() for row in C]


def kmeans_centroids(
    embeddings: DataFrame,
    n_centroids: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_size: int = 4096,
    n_iter: int = 10,
    seed: int = 42,
) -> list[list[float]]:
    """Spherical k-means coarse quantizer over a deterministic sample.

    - sample: the ``sample_size`` rows with smallest ``md5(seed || id)`` — a
      seeded pseudo-random sample that is identical across runs AND ENGINES
      (md5 is the repo's portable hash, so a DuckDB oracle reproduces the
      exact sample and therefore the exact centroids), collected to the
      driver (bounded: sample_size × dim floats).
    - init + refine: :func:`_kmeans_core` (maximin init, Lloyd rounds).

    At cluster scale the same construction runs as k-means|| over a
    DataFrame sample with the Lloyd step in Spark; the driver-side numpy
    version is legitimate because the SAMPLE is bounded, not the corpus.
    Returns k×dim floats, broadcast into the assignment UDF."""
    sampled = (
        embeddings.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .orderBy(F.md5(F.concat(F.lit(str(seed)), F.col("_id").cast("string"))), F.col("_id"))
        .limit(sample_size)
        .collect()
    )
    X = np.asarray([[float(x) for x in r["_v"]] for r in sampled], dtype=np.float64)
    return _kmeans_core(X, n_centroids, n_iter)


def kmeans_centroids_offline(
    parquet_path: str,
    n_centroids: int,
    sample_size: int = 4096,
    n_iter: int = 10,
    seed: int = 42,
) -> list[list[float]]:
    """Oracle-side reproduction of :func:`kmeans_centroids` without Spark:
    the identical md5-ordered sample read via DuckDB, fed to the identical
    numpy core — bit-identical centroids, so generated oracle SQL can embed
    them as literals."""
    import duckdb

    rows = duckdb.connect().execute(
        f"SELECT CAST(embedding AS DOUBLE[]) FROM '{parquet_path}' "
        f"ORDER BY md5('{seed}' || CAST(vec_id AS VARCHAR)), vec_id LIMIT {sample_size}"
    ).fetchall()
    X = np.asarray([r[0] for r in rows], dtype=np.float64)
    return _kmeans_core(X, n_centroids, n_iter)


def _centroid_topn_udf(centroids: list[list[float]], n: int):
    """pandas UDF: embedding → the ``n`` nearest centroid ids by cosine.
    One numpy matmul per Arrow batch — no per-row Python."""
    C = np.asarray(centroids, dtype=np.float64)
    C = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def topn(vecs: pd.Series) -> pd.Series:
        X = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        sims = X @ C.T
        # deterministic: argsort desc with centroid-id tiebreak via stable sort
        order = np.argsort(-sims, axis=1, kind="stable")[:, :n]
        return pd.Series([row.astype("int32").tolist() for row in order])

    return topn


def with_ivf_cell(embeddings: DataFrame, centroids: list[list[float]], vec_col: str = "embedding") -> DataFrame:
    """Assign every vector to its nearest centroid (its IVF cell). No
    spread: at sf0.1 on 4 cores, spreading the scan first made
    ``cosine_topk_ivf`` slower in 10 of 10 interleaved pairs."""
    topn = _centroid_topn_udf(centroids, 1)
    return embeddings.withColumn("cell", topn(F.col(vec_col))[0])


#: default per-cell membership cap for the IVF join paths. One degenerate
#: mega-cell (e.g. all-zero embeddings from empty documents — common in real
#: training data) would otherwise make the within-cell candidate join
#: quadratic — the same skew bomb max_band_bucket defuses in the text path.
IVF_MAX_CELL = 10_000


def _cap_cells(corpus: DataFrame, id_order_col: str, max_cell: int | None) -> DataFrame:
    """Deterministic per-cell cap: keep the ``max_cell`` smallest ids. Adds a
    ``_sz`` (pre-cap cell size) + ``_rn`` pair in ONE window pass partitioned
    on ``cell`` — the same exchange the cell join needs, so at rest-partitioned
    layouts this costs a sort, not a shuffle. Never silent: over-cap cells are
    enumerable via :func:`ivf_cell_metrics`."""
    if max_cell is None:
        return corpus
    w_rank = Window.partitionBy("cell").orderBy(id_order_col)
    w_size = Window.partitionBy("cell")
    return (
        corpus.withColumn("_rn", F.row_number().over(w_rank))
        .withColumn("_sz", F.count(F.lit(1)).over(w_size))
        .where(F.col("_rn") <= max_cell)
        .drop("_rn", "_sz")
    )


def ivf_cell_metrics(
    embeddings: DataFrame,
    centroids: list[list[float]],
    max_cell: int = IVF_MAX_CELL,
    vec_col: str = "embedding",
) -> DataFrame:
    """Skew lineage for the IVF cell cap: one row per over-cap cell
    (cell, cell_size, kept) — the enumerable record of what the cap dropped,
    mirroring blocking's bucket_metrics (no-silent-caps rule)."""
    sizes = with_ivf_cell(embeddings, centroids, vec_col).groupBy("cell").agg(
        F.count(F.lit(1)).alias("cell_size")
    )
    return sizes.where(F.col("cell_size") > max_cell).withColumn("kept", F.lit(max_cell))


def cosine_topk_ivf(
    embeddings: DataFrame,
    probes: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell: int | None = IVF_MAX_CELL,
    adaptive_stop: bool = False,
    keep_probe_rank: bool = False,
) -> DataFrame:
    """IVF ANN: corpus vectors live in their nearest-centroid cell; a probe
    scans only its ``nprobe`` nearest cells, exact cosine re-rank inside.

    100-TB shape: the corpus is partitioned by ``cell`` ONCE (scan-side narrow
    assignment, one numpy matmul per Arrow batch), so a probe batch touches
    nprobe/n_centroids of the data and the join is a broadcast of the (small)
    probe side against cell-pruned corpus partitions. Degenerate mega-cells
    are capped at ``max_cell`` members (deterministic smallest ids; over-cap
    cells enumerable via :func:`ivf_cell_metrics`). Probe cells come out of
    the assignment UDF nearest-first and ``probe_rank`` (= traversal order)
    is CARRIED THROUGH THE JOIN, so ``adaptive_stop=True`` early-terminates
    per probe: cells are consumed nearest-first and scanning stops at the
    first rank where the probe has accumulated ≥ k candidates (the whole
    tying rank is kept — deterministic). That is the IVF early-termination
    rule expressed declaratively — one extra range-frame window on the
    (probe_id) partitioning the top-k window needs anyway, no extra
    shuffle. Recall is tunable via nprobe and measured against brute force
    in ann_recall queries/tests; the adaptive variant trades recall for
    scanned cells (test asserts both directions)."""
    corpus = _cap_cells(
        with_ivf_cell(embeddings, centroids, vec_col).select(
            F.col(id_col).alias("corpus_id"), F.col(vec_col).alias("cv"), "cell"
        ),
        "corpus_id",
        max_cell,
    )
    topn = _centroid_topn_udf(centroids, nprobe)
    p = probes.select(
        F.col(id_col).alias("probe_id"),
        F.col(vec_col).alias("pv"),
        F.posexplode(topn(F.col(vec_col))).alias("probe_rank", "cell"),
    )
    scored = (
        corpus.join(F.broadcast(p), "cell")
        .where(F.col("probe_id") != F.col("corpus_id"))
        .withColumn("cos", F.round(cosine(F.col("pv"), F.col("cv")), 6))
    )
    if adaptive_stop:
        # candidates accumulated over STRICTLY nearer cells: a row survives
        # iff the probe had fewer than k candidates before its cell's rank —
        # i.e. everything up to and including the first rank that reaches k.
        w_prev = (
            Window.partitionBy("probe_id")
            .orderBy("probe_rank")
            .rangeBetween(Window.unboundedPreceding, -1)
        )
        scored = scored.withColumn(
            "_cum_prev", F.count(F.lit(1)).over(w_prev)
        ).where(F.col("_cum_prev") < k)
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos"), F.asc("corpus_id"))
    out_cols = ["probe_id", "corpus_id", "cos", "rnk"]
    if keep_probe_rank:
        out_cols.append("probe_rank")  # which traversal step found each hit
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(*out_cols)
    )


def ann_recall(ann: DataFrame, brute: DataFrame) -> DataFrame:
    """recall@k of an ANN result vs the brute-force ground truth: ONE row
    (n_probes, n_truth, n_hits, recall_millionths) — integer-exact, so the
    number is stable across engines and runs (fixed seeds everywhere)."""
    truth = brute.select("probe_id", "corpus_id")
    hits = ann.select("probe_id", "corpus_id").join(truth, ["probe_id", "corpus_id"], "left_semi")
    return (
        truth.agg(
            F.countDistinct("probe_id").alias("n_probes"),
            F.count(F.lit(1)).alias("n_truth"),
        )
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hits")))
        .select(
            "n_probes",
            "n_truth",
            "n_hits",
            F.floor(F.col("n_hits") * 1_000_000 / F.col("n_truth")).cast("long").alias("recall_millionths"),
        )
    )


# --------------------------------------------------------------------------
# embedding near-dup channel (dedup family over array<float> columns)
# --------------------------------------------------------------------------
def embedding_near_dup_pairs(
    embeddings: DataFrame,
    centroids: list[list[float]],
    min_cos: float = 0.9,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell: int | None = IVF_MAX_CELL,
) -> DataFrame:
    """Embedding-cosine near-duplicate PAIRS (id_a < id_b, cos ≥ min_cos) —
    the ANN rendering of the dedup family's "embedding channel": every vector
    probes its ``nprobe`` nearest IVF cells, so near-identical vectors (which
    share or neighbor a cell) collide without any all-pairs join.

    Scale shape: candidates = one equi-join on ``cell`` after narrow
    assignment; candidate count is Σ_cell |cell|·(probe hits in cell), capped
    by cell granularity — never O(N²). Recall for true near-dups (cos ≥ 0.9)
    is high because such pairs' cells coincide at small angle; measured in
    tests against the exact threshold join. The corpus side of the within-cell
    join is capped at ``max_cell`` members per cell (deterministic smallest
    ids, :func:`ivf_cell_metrics` enumerates the cut) — a degenerate mega-cell
    of identical vectors would otherwise go quadratic."""
    assigned = with_ivf_cell(embeddings, centroids, vec_col)
    corpus = _cap_cells(
        assigned.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), "cell"),
        "id_b",
        max_cell,
    )
    topn = _centroid_topn_udf(centroids, nprobe)
    probes = spread_to_parallelism(embeddings).select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        F.explode(topn(F.col(vec_col))).alias("cell"),
    )
    return (
        probes.join(corpus, "cell")
        .where(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("cos", F.round(cosine(F.col("va"), F.col("vb")), 6))
        .where(F.col("cos") >= min_cos)
        .select("id_a", "id_b", "cos")
    )
