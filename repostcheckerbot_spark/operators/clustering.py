"""Transitive closure: large-star / small-star connected components.

The reference has no explicit clustering — clusters exist implicitly as the
accumulation of pairwise matches against the stored corpus
(/root/reference/database.py:288-711: each new record is linked to ALL stored
matches, so a chain A≈B≈C ends up mutually reported over time). The batch
generalization is connected components over the match-edge set.

Algorithm: alternating large-star / small-star contractions
(Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14 —
public algorithm), which converges in O(log n) rounds:

  large-star(u): for every neighbor v > u, emit (v, m) where
                 m = min(Γ(u) ∪ {u})
  small-star(u): for every neighbor v ≤ u (edges oriented big→small),
                 emit (v, m) ∪ (u, m), m = min(Γ≤(u) ∪ {u})

Node ids are conv_id strings; "min" is lexicographic, so the converged parent
of every node is the smallest conv_id in its component — matching the golden
fixture convention (FIXTURES.md F-3).

Scale notes: each round is one groupBy + one join, both on node id;
``localCheckpoint`` per round truncates lineage (plans stay flat across ~log n
iterations); when a ``checkpoint_dir`` is given, every round ALSO lands in
parquet with round metadata so a killed job resumes mid-closure (north-rule
resumability). Convergence test = (count, xor-of-hashes) signature equality —
one cheap aggregate per round instead of an exceptAll subtraction.
"""

from __future__ import annotations

import time

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _large_star(edges: DataFrame) -> DataFrame:
    """edges(src, dst) undirected-unique → new edges after large-star."""
    nbrs = edges.select("src", "dst").union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    m = nbrs.groupBy("src").agg(F.least(F.min("dst"), F.first("src")).alias("m"))
    return (
        nbrs.join(m, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """edges oriented big→small, then connect all small neighbors to the min."""
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).where(F.col("src") != F.col("dst"))
    m = oriented.groupBy("src").agg(F.min("dst").alias("m"))
    nbr_edges = (
        oriented.join(m, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    self_edges = m.select("src", F.col("m").alias("dst"))
    return nbr_edges.union(self_edges).where(F.col("src") != F.col("dst")).distinct()


def _size_aggs(id_cols) -> list:
    """The sizing aggregate of a bounded collect: row count ``n`` and the
    summed UTF-8 byte length ``nbytes`` of the id columns."""
    nbytes = sum(F.coalesce(F.octet_length(F.col(c).cast("string")), F.lit(0)) for c in id_cols)
    return [
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(nbytes), F.lit(0)).alias("nbytes"),
    ]


def _signature(edges: DataFrame) -> tuple[int, int, int]:
    """(count, xor-of-hashes, id bytes) of an edge set in one aggregate: the
    first two are the convergence signature, count and bytes size the
    mid-run collect."""
    row = edges.agg(
        *_size_aggs(("src", "dst")),
        F.coalesce(F.bit_xor(F.xxhash64("src", "dst")), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"]), int(row["nbytes"])


def _driver_byte_budget(spark: SparkSession) -> float:
    """Byte budget for the id columns of one driver collect: half of
    ``spark.driver.maxResultSize``; the other half covers per-row framing
    and the non-id columns. 0, Spark's "unlimited", leaves only the row
    bound."""
    size = spark.conf.get("spark.driver.maxResultSize", "1g")
    budget = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(size) // 2
    return budget or float("inf")


def _bounded_collect(
    df: DataFrame,
    id_cols: tuple[str, ...],
    max_rows: int,
    sizes: tuple[int, int] | None = None,
    metrics: list[dict] | None = None,
) -> tuple[int, list | None]:
    """The driver fast paths' one gate: ``(n_rows, rows)``, with ``rows``
    collected only when ``n_rows`` ≤ ``max_rows`` AND the id bytes fit
    :func:`_driver_byte_budget` — else ``None`` and the caller takes its
    distributed path. A row count alone is no byte bound: 500k ids of a few
    KB each would overflow the driver. ``sizes`` = an already-aggregated
    ``(n, nbytes)`` (the CC probe folds them into its signature); otherwise
    one aggregate computes both. A byte refusal appends a metrics row.

    Count-then-collect, NOT limit-collect: limit executes as an incremental
    take (1, 4, 16, ... partitions per job), which serializes the expensive
    final stage of the upstream computation — the flagship's difflib stage
    ran a handful of tasks at a time instead of 32-wide (measured 38.6 s vs
    9.7 s for the identical chain at sf1.0). The sizing aggregate runs at
    full width and materializes a lazy checkpoint; the collect afterwards
    reads persisted partitions."""
    if sizes is None:
        row = df.agg(*_size_aggs(id_cols)).collect()[0]
        sizes = (int(row["n"]), int(row["nbytes"]))
    n, nbytes = sizes
    if n > max_rows:
        return n, None
    budget = _driver_byte_budget(df.sparkSession)
    if nbytes > budget:
        if metrics is not None:
            metrics.append(
                {"stage": "cc", "mode": "collect_refused", "edges": n, "bytes": nbytes, "budget": budget}
            )
        return n, None
    return n, df.collect()


def _union_find():
    """Driver union-find over the rows :func:`_bounded_collect` admitted:
    ``union(a, b)`` makes the smaller root the parent, so ``find(x)`` is
    always the min id of x's component (the cluster_id convention);
    ``find`` compresses paths. Returns ``(union, find)``."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    def union(a, b) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    return union, find


def connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    checkpoint_dir: str | None = None,
    max_iterations: int = 50,
    metrics: list[dict] | None = None,
    probe_interval: int = 2,
    small_graph_threshold: int = 500_000,
) -> DataFrame:
    """edges(conv_id_a, conv_id_b) [+ vertices(conv_id)] → (conv_id, cluster_id).

    cluster_id = lexicographic min conv_id of the component. Vertices absent
    from any edge (singletons) map to themselves when ``vertices`` is given.

    Hybrid by size (known after the dedup job): an edge set that passes
    :func:`_bounded_collect` (≤ ``small_graph_threshold`` edges and id bytes
    within the driver byte budget) → driver union-find; otherwise →
    distributed alternating-star contraction. Match edges are SPARSE relative
    to the corpus (pairs that actually scored above threshold), but at the
    10¹²-turn design point they still overflow any driver, so the
    distributed path is the primary design and the fast path is a latency
    optimization with an explicit bound: the star-contraction path pays
    ~1-3 s of scheduler latency per probe job, union-find on the same graph
    takes milliseconds. Pass ``small_graph_threshold=0`` to force the
    distributed path (tests assert both produce identical clusters).

    Driver-floor discipline for the distributed path (the serial floor is
    ~1-3 s of scheduler/AQE latency PER JOB LAUNCH, BENCH/BASELINE.md):
    checkpoints are LAZY — the convergence-probe aggregate materializes them,
    so a probed round is ONE job, not two — and the probe runs every
    ``probe_interval`` rounds with the intermediate rounds fused into the
    same job (lineage depth ≤ probe_interval; deeper fusion measurably
    EXPLODES plan/AQE time — probe_interval=3 measured 7× slower than 2).
    Comparing signatures ``probe_interval`` apart is sound: star contraction
    monotonically decreases the parent-id potential, so an unchanged
    (count, xor) signature across the window means no round in it changed
    anything.
    """
    spark = edges.sparkSession
    e = edges.select(F.col("conv_id_a").alias("src"), F.col("conv_id_b").alias("dst")).where(
        F.col("src") != F.col("dst")
    ).distinct()
    # the sizing aggregate materializes the checkpoint at full width; its
    # count also sizes the distributed path's partitions. Durable-resume mode
    # (checkpoint_dir) always runs distributed.
    e = e.localCheckpoint(eager=False)
    n_edges, uf_rows = _bounded_collect(
        e, ("src", "dst"), small_graph_threshold if checkpoint_dir is None else -1, metrics=metrics
    )
    if uf_rows is None:
        # edge sets are typically tiny relative to the corpus (only matched
        # pairs); right-size partitions so each of the O(log n) rounds doesn't
        # pay a full-width shuffle of near-empty tasks.
        parts = max(1, min(spark.sparkContext.defaultParallelism, n_edges // 20_000 + 1))
        e = e.repartition(parts)
        prev_sig = None
        for it in range(max_iterations):
            t0 = time.monotonic()
            e = _small_star(_large_star(e))
            # probe after the FIRST round unconditionally: one large+small round
            # collapses a dense match graph by orders of magnitude (measured
            # 1.77M → 43k edges at sf1.0), and the earlier the probe fires the
            # earlier the bounded fast path below can take over.
            probe_now = it == 0 or (it + 1) % probe_interval == 0 or it == max_iterations - 1
            if checkpoint_dir is not None:
                # durable-resume mode: every round lands in parquet (the write IS
                # the materialization; north-rule resumability)
                path = f"{checkpoint_dir}/cc_iter={it:04d}"
                e.write.mode("overwrite").parquet(path)
                e = spark.read.parquet(path)
            elif probe_now:
                e = e.localCheckpoint(eager=False)  # probe aggregate materializes it
            if not probe_now:
                continue
            n, h, nbytes = _signature(e)
            if metrics is not None:
                metrics.append(
                    {
                        "stage": "cc",
                        "iteration": it,
                        "edges": n,
                        "wall_s": time.monotonic() - t0,
                    }
                )
            if (n, h) == prev_sig:
                break
            prev_sig = (n, h)
            # Mid-run hybrid switch: both stars preserve the component partition
            # over the surviving node set (Kiveris et al. §3), and every non-root
            # member of a ≥2-node component keeps at least one incident edge each
            # round, so union-find over the CURRENT contracted edge set yields
            # exactly the final assignment. Once the probe (whose aggregate
            # already sized the rows) shows the graph within the bounds, the
            # remaining O(log n) rounds — each a full job on the driver floor —
            # collapse into one bounded collect.
            if checkpoint_dir is None:
                _, uf_rows = _bounded_collect(
                    e, ("src", "dst"), small_graph_threshold, sizes=(n, nbytes), metrics=metrics
                )
                if uf_rows is not None:
                    break

    if uf_rows is not None:
        t0 = time.monotonic()
        union, find = _union_find()
        for a, b in uf_rows:
            union(a, b)
        assign = sorted((x, find(x)) for x in {x for r in uf_rows for x in r})
        if metrics is not None:
            metrics.append(
                {
                    "stage": "cc",
                    "mode": "driver_union_find",
                    "edges": len(uf_rows),
                    "wall_s": time.monotonic() - t0,
                }
            )
        # build via pandas: with Arrow enabled the transfer is columnar instead
        # of per-row pickles (tens of thousands of rows per batch at bench
        # scale); sessions without Arrow fall back to the old path unchanged.
        out = spark.createDataFrame(
            pd.DataFrame(assign, columns=["conv_id", "cluster_id"]),
            schema="conv_id string, cluster_id string",
        )
    else:
        # converged edge set is a star forest: src → component min. Parents
        # also need their own row.
        assign = e.select(F.col("src").alias("conv_id"), F.col("dst").alias("cluster_id"))
        roots = e.select(F.col("dst").alias("conv_id")).distinct().withColumn("cluster_id", F.col("conv_id"))
        out = assign.unionByName(roots).groupBy("conv_id").agg(F.min("cluster_id").alias("cluster_id"))
    if vertices is not None:
        singles = (
            vertices.select("conv_id")
            .join(out.select("conv_id"), "conv_id", "left_anti")
            .withColumn("cluster_id", F.col("conv_id"))
        )
        out = out.unionByName(singles)
    return out


def star_clusters(
    edges: DataFrame,
    id_a_col: str = "conv_id_a",
    id_b_col: str = "conv_id_b",
    vertices: DataFrame | None = None,
    out_col: str = "conv_id",
) -> DataFrame:
    """One-hop min-id STAR clustering — the diameter-bounded alternative to
    full transitive closure: a chain A≈B≈C never collapses into one cluster
    unless the members actually share a hub. Where connected components is
    the RECALL end of the clustering spectrum (any match path merges), star
    clustering is the PRECISION end (every member is one hop from its
    center) — the standard near-duplicate trade-off, offered side by side.

    Deterministic semantics (no greedy ordering, so it parallelizes):
      - a node is a CENTER iff it has no smaller neighbor (min-id local
        minimum of the match graph);
      - a non-center adjacent to ≥1 center joins its SMALLEST center
        neighbor;
      - a non-center with no center neighbor stays a singleton (the split
        tail of a chain — the price of the diameter bound, stated, not
        hidden).
    Two centers are never adjacent (if u<v were neighbors both being
    centers, v would have the smaller neighbor u), so membership is
    well-defined and cluster diameter is ≤ 2 by construction.

    Shape: one groupBy(node) for the min-neighbor, one semi-join against
    centers plus one groupBy for member assignment — two shuffles on node
    id, no iteration, no driver state. At 10¹²-turn scale this replaces the
    O(log n)-round star-contraction loop with a constant-depth plan when
    chain-merging is unwanted.
    """
    e = (
        edges.select(F.col(id_a_col).alias("src"), F.col(id_b_col).alias("dst"))
        .where(F.col("src") != F.col("dst"))
    )
    nbrs = e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    agg = nbrs.groupBy("src").agg(F.min("dst").alias("min_nbr"))
    centers = agg.where(F.col("min_nbr") > F.col("src")).select(
        F.col("src").alias("center")
    )
    members = (
        nbrs.join(
            centers.select(F.col("center").alias("dst")), "dst", "left_semi"
        )
        .groupBy("src")
        .agg(F.min("dst").alias("cluster_id"))
    )
    leftovers = (
        agg.select("src")
        .join(centers.select(F.col("center").alias("src")), "src", "left_anti")
        .join(members.select("src"), "src", "left_anti")
        .withColumn("cluster_id", F.col("src"))
    )
    out = (
        centers.select(F.col("center").alias(out_col), F.col("center").alias("cluster_id"))
        .unionByName(members.select(F.col("src").alias(out_col), "cluster_id"))
        .unionByName(leftovers.select(F.col("src").alias(out_col), "cluster_id"))
    )
    if vertices is not None:
        singles = (
            vertices.select(out_col)
            .join(out.select(out_col), out_col, "left_anti")
            .withColumn("cluster_id", F.col(out_col))
        )
        out = out.unionByName(singles)
    return out


def cluster_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "conv_id",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """Churn report between two clusterings of (roughly) the same universe —
    the monitoring operator an INCREMENTAL ER deployment runs after every
    batch and before every model change: per record,

      - ``stable``  — present in both with the same cluster label
      - ``moved``   — present in both, label changed
      - ``added``   — only in the new clustering
      - ``removed`` — only in the old one

    Statuses compare cluster LABELS; under the min-member canonical
    labeling every clustering in this repo uses, ``moved`` means the
    record's canonical representative changed (new smallest member joined,
    or the record crossed clusters) — exactly the signal that invalidates
    downstream golden records. One full-outer join on the record id; safe
    whole-corpus at scale.

    Returns (id, old_cluster, new_cluster, status); aggregate by ``status``
    for the dashboard counts.
    """
    o = old.select(F.col(id_col).alias("_id"), F.col(cluster_col).alias("old_cluster"))
    n = new.select(F.col(id_col).alias("_id"), F.col(cluster_col).alias("new_cluster"))
    j = o.join(n, "_id", "full_outer")
    status = (
        F.when(F.col("old_cluster").isNull(), "added")
        .when(F.col("new_cluster").isNull(), "removed")
        .when(F.col("old_cluster") == F.col("new_cluster"), "stable")
        .otherwise("moved")
    )
    return j.select(
        F.col("_id").alias(id_col), "old_cluster", "new_cluster", status.alias("status")
    )


def resume_connected_components(
    spark: SparkSession, checkpoint_dir: str, **kwargs
) -> DataFrame:
    """Resume a closure from the latest persisted iteration (north-rule
    resumability): read the newest ``cc_iter=NNNN`` parquet and continue."""
    import os

    iters = sorted(d for d in os.listdir(checkpoint_dir) if d.startswith("cc_iter="))
    if not iters:
        raise FileNotFoundError(f"no cc checkpoints under {checkpoint_dir}")
    latest = spark.read.parquet(f"{checkpoint_dir}/{iters[-1]}")
    return connected_components(
        latest.select(F.col("src").alias("conv_id_a"), F.col("dst").alias("conv_id_b")),
        checkpoint_dir=checkpoint_dir,
        **kwargs,
    )


def pivot_clusters(
    edges: DataFrame,
    id_a_col: str = "conv_id_a",
    id_b_col: str = "conv_id_b",
    vertices: DataFrame | None = None,
    out_col: str = "conv_id",
    max_rounds: int = 60,
    small_graph_threshold: int = 500_000,
) -> DataFrame:
    """Greedy PIVOT correlation clustering — KwikCluster (Ailon, Charikar &
    Newman, STOC'05 — public algorithm) with the random permutation
    DERANDOMIZED into a frozen md5 one, so the output is deterministic and
    oracle-reproducible while keeping the O(log n)-round parallel depth the
    random order guarantees.

    Sequential definition (the frozen semantics): order nodes by
    (md5(id), id); repeatedly take the smallest unassigned node as pivot —
    it claims itself and every currently unassigned neighbor as one cluster
    (cluster_id = the pivot's original id). This sits BETWEEN the other two
    clusterers: unlike connected components (recall end) a pivot cluster
    never chains beyond one hop; unlike star_clusters (precision end) chain
    tails do not strand as singletons — they recurse into further pivots,
    which is exactly KwikCluster's 3-approximation for correlation
    clustering.

    Equivalent parallel schedule (Blelloch, Fineman & Shun, SPAA'12 —
    public result): the pivot set equals the greedy maximal independent set
    in permutation order (v pivots iff NO earlier neighbor pivots), and a
    non-pivot's absorber is its EARLIEST pivot neighbor — pivots activate
    in permutation order and are never absorbed, so the earliest pivot
    neighbor grabs the node first. So the rounds below compute the MIS
    fixpoint (per round: live permutation-local minima pivot; their live
    neighbors retire as decided non-pivots; edges among retired nodes
    drop), then ONE post-pass joins every non-pivot to min(pivot neighbors)
    over the ORIGINAL graph. Round count is the permutation's dependence
    depth — O(log n) whp under the md5 order regardless of adversarial id
    structure (an ascending-id chain would degrade the raw-id order to
    O(n) rounds; hashing restores the random-permutation bound). The
    sf0.01 driver oracle hash-checks the schedule equivalence against an
    offline sequential referee.

    Shape: per MIS round one groupBy(node) min-neighbor + two anti/semi
    joins, all shuffled on node id, lineage truncated by localCheckpoint
    (same discipline as connected_components); the assignment pass is one
    semi-join + groupBy. Termination = live-node count 0 on the
    checkpointed frame; exceeding ``max_rounds`` raises rather than
    returning a partial clustering.
    """
    # frozen permutation key: md5(id) || '|' || id — lexicographic order on
    # the key IS the permutation (ties broken by id; '|' keeps the two parts
    # unambiguous), and the original id recovers as substr(key, 34).
    def keyed(col: "F.Column") -> "F.Column":
        s = col.cast("string")
        return F.concat(F.md5(s), F.lit("|"), s)

    e = (
        edges.select(
            keyed(F.col(id_a_col)).alias("src"), keyed(F.col(id_b_col)).alias("dst")
        )
        .where(F.col("src") != F.col("dst"))
    )
    # the symmetrized edge set is re-read by EVERY MIS round's min-neighbor
    # aggregate and again by the final assignment pass — truncate its lineage
    # once so the (potentially expensive) upstream candidate computation runs
    # a single time, not once per consumer.
    nbrs = (
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # Bounded driver fast path (the same hybrid discipline as
    # connected_components / threshold_clustering): when the keyed edge set
    # passes _bounded_collect, ONE collect replaces the per-MIS-round
    # jobs — the greedy loop runs on the driver in permutation order, and
    # vertex singletons join lazily (vertices are never collected). This is
    # operator code written independently of referee.kwikcluster_sequential
    # (the oracle's independence argument); tests assert fast path, MIS
    # path, and referee all agree. small_graph_threshold=0 forces MIS.
    e_dir = e.distinct().localCheckpoint(eager=False)
    _, rows = _bounded_collect(e_dir, ("src", "dst"), small_graph_threshold)
    if rows is not None:
        spark = edges.sparkSession
        adj: dict[str, set] = {}
        for r in rows:
            adj.setdefault(r["src"], set()).add(r["dst"])
            adj.setdefault(r["dst"], set()).add(r["src"])
        assigned: dict[str, str] = {}
        for n in sorted(adj):  # keyed order IS the md5 permutation
            if n in assigned:
                continue
            assigned[n] = n
            for m in adj[n]:
                if m not in assigned:
                    assigned[m] = n
        data = [(k[33:], p[33:]) for k, p in sorted(assigned.items())]
        out = spark.createDataFrame(
            data, f"{out_col} string, cluster_id string"
        )
        if vertices is not None:
            singles = (
                vertices.select(F.col(out_col).cast("string").alias(out_col))
                .distinct()
                .join(out.select(out_col), out_col, "left_anti")
                .withColumn("cluster_id", F.col(out_col))
            )
            out = out.unionByName(singles)
        return out
    live_nodes = nbrs.select("src").distinct()
    if vertices is not None:
        live_nodes = vertices.select(keyed(F.col(out_col)).alias("src")).distinct()
    live_edges = nbrs
    pivot_parts: list[DataFrame] = []
    for _ in range(max_rounds):
        min_nbr = live_edges.groupBy("src").agg(F.min("dst").alias("min_nbr"))
        # permutation-local minimum among live nodes: no live neighbor, or
        # every live neighbor later in the permutation
        # checkpoints are LAZY: the round's single isEmpty() probe below is
        # the one job that materializes this round's pivots, survivors, and
        # pruned edge set together — eager checkpoints here cost ~4 job
        # launches per round on the 1-3 s driver floor (measured 27.6 s →
        # ~11 s warm at sf0.1 after fusing them).
        new_pivots = (
            live_nodes.join(min_nbr, "src", "left")
            .where(F.col("min_nbr").isNull() | (F.col("min_nbr") > F.col("src")))
            .select("src")
            .localCheckpoint(eager=False)
        )
        pivot_parts.append(new_pivots)
        # live neighbors of new pivots are decided non-pivots — retire both
        excluded = (
            live_edges.join(
                new_pivots.select(F.col("src").alias("dst")), "dst", "left_semi"
            )
            .select("src")
            .distinct()
        )
        retired = new_pivots.unionByName(excluded)
        live_nodes = live_nodes.join(retired, "src", "left_anti").localCheckpoint(
            eager=False
        )
        live_edges = (
            live_edges.join(live_nodes, "src", "left_semi")
            .join(live_nodes.select(F.col("src").alias("dst")), "dst", "left_semi")
            .localCheckpoint(eager=False)
        )
        if live_nodes.isEmpty():
            break
    else:
        raise RuntimeError(f"pivot_clusters did not converge in {max_rounds} rounds")
    pivots = pivot_parts[0]
    for p in pivot_parts[1:]:
        pivots = pivots.unionByName(p)
    # assignment pass over the ORIGINAL graph: non-pivot → earliest pivot nbr
    members = (
        nbrs.join(pivots.select(F.col("src").alias("dst")), "dst", "left_semi")
        .join(pivots, "src", "left_anti")
        .groupBy("src")
        .agg(F.min("dst").alias("pivot_key"))
    )
    out = pivots.select("src", F.col("src").alias("pivot_key")).unionByName(members)
    return out.select(
        F.substring("src", 34, 2**30).alias(out_col),
        F.substring("pivot_key", 34, 2**30).alias("cluster_id"),
    )


def threshold_clustering(
    edges: DataFrame,
    thresholds: list[int],
    weight_col: str = "weight",
    id_a_col: str = "conv_id_a",
    id_b_col: str = "conv_id_b",
    vertices: DataFrame | None = None,
    out_col: str = "conv_id",
    vertices_cover_edges: bool = False,
    **cc_kwargs,
) -> DataFrame:
    """Single-linkage clusters at a LADDER of distance thresholds — the
    dendrogram-cut family every ER deployment tunes over (one clustering per
    candidate accept threshold), computed in ONE pass instead of |thresholds|
    independent closures.

    Semantics per level θ (ascending): transitive closure over edges with
    ``weight_col`` ≤ θ; cluster_id = lexicographic min member id (the same
    convention as :func:`connected_components`, which defines level 0).

    Scale shape — CONTRACTION, not re-clustering: single linkage is monotone
    (clusters at a looser θ are unions of clusters at any tighter θ), so
    level i+1 never re-reads the level-i edge mass. Each looser level
    contracts the previous assignment to its representatives (one join of
    the NEW edge band θ_i < w ≤ θ_{i+1} against the assignment), runs CC on
    that contracted — strictly smaller — graph, and composes with one more
    join. At 100 TB the tightest closure dominates and each additional
    threshold costs only its marginal edge band plus two joins, vs a full
    closure per threshold for the naive plan. min-id composition is exact:
    every representative is the min of its sub-cluster, so the min over a
    merged component of representatives is the min over all members.

    Returns (out_col, threshold:int, cluster_id) — |thresholds| rows per
    vertex. Tests prove equality with an independent full closure per level
    (contraction losslessness) and with a sequential union-find referee.
    """
    ts = sorted(set(int(t) for t in thresholds))
    if not ts:
        raise ValueError("thresholds must be non-empty")
    # the weighted edge set feeds every level's band filter, the vertex
    # derivation, and each level's closure — truncate lineage once so the
    # upstream candidate computation (simhash/LSH joins) runs a single time.
    e = (
        edges.select(
            F.col(id_a_col).alias("ea"),
            F.col(id_b_col).alias("eb"),
            F.col(weight_col).alias("w"),
        )
        .where(F.col("ea") != F.col("eb"))
        .localCheckpoint(eager=False)
    )
    # every endpoint must be covered from level 0 on, even if its first edge
    # only activates at a loose threshold — otherwise the contraction at
    # that level would have no representative to map it through.
    # ``vertices_cover_edges``: the caller guarantees vertices ⊇ all edge
    # endpoints (true whenever the edges derive from the same record frame,
    # e.g. a self-join over the vertex table), so the 2·|edges|-row
    # endpoint union+distinct collapses to a distinct over the vertex frame
    # (measured 1.39 s → 0.32 s at sf1.0's 1.77M string edges).
    if vertices_cover_edges and vertices is not None:
        verts = vertices.select(F.col(out_col))
    else:
        verts = e.select(F.col("ea").alias(out_col)).unionByName(
            e.select(F.col("eb").alias(out_col))
        )
        if vertices is not None:
            verts = verts.unionByName(vertices.select(F.col(out_col)))
    verts = verts.distinct().localCheckpoint(eager=False)

    # each level's closure gets its OWN checkpoint subdirectory — a shared
    # dir would interleave the levels' cc_iter=NNNN parquet rounds and a
    # resume would splice iterations from different closures together.
    base_ckpt = cc_kwargs.pop("checkpoint_dir", None)

    # Bounded driver fast path, same hybrid discipline as
    # connected_components: when the WEIGHTED edge set passes
    # _bounded_collect, ONE collect replaces |thresholds| sequential closure
    # jobs (each paying the 1-3 s driver floor) — one union-find pass over
    # the rows in weight order, snapshotting every node's root at each cut,
    # one createDataFrame, singletons joined lazily. This is operator code,
    # NOT the referee (the oracle's independence argument requires
    # referee.single_linkage_levels to stay unshared).
    # small_graph_threshold=0 forces the distributed contraction path;
    # tests assert both paths produce identical ladders.
    small = cc_kwargs.get("small_graph_threshold", 500_000)
    rows = _bounded_collect(e, ("ea", "eb"), small)[1] if base_ckpt is None else None
    if rows is not None:
        from pyspark.sql import types as T

        spark = edges.sparkSession
        node_set = sorted({r["ea"] for r in rows} | {r["eb"] for r in rows})
        rows.sort(key=lambda r: r["w"])
        union, find = _union_find()
        data: list[tuple] = []
        i = 0
        for t in ts:
            while i < len(rows) and rows[i]["w"] <= t:
                union(rows[i]["ea"], rows[i]["eb"])
                i += 1
            data.extend((n, t, find(n)) for n in node_set)
        id_type = e.schema["ea"].dataType
        schema = T.StructType(
            [
                T.StructField(out_col, id_type),
                T.StructField("threshold", T.IntegerType(), False),
                T.StructField("cluster_id", id_type),
            ]
        )
        # pandas-built frames ride Arrow when the session enables it
        # (|node_set| x |thresholds| rows — six figures at bench scale);
        # non-Arrow sessions fall back to the row path unchanged.
        assign = spark.createDataFrame(
            pd.DataFrame(data, columns=[out_col, "threshold", "cluster_id"]),
            schema=schema,
        )
        nodes_df = spark.createDataFrame(
            pd.DataFrame({out_col: list(node_set)}),
            schema=T.StructType([T.StructField(out_col, id_type)]),
        )
        singles = (
            verts.join(nodes_df, out_col, "left_anti")
            .withColumn(
                "threshold",
                F.explode(F.array(*[F.lit(t).cast("int") for t in ts])),
            )
            .withColumn("cluster_id", F.col(out_col))
        )
        return assign.unionByName(
            singles.select(out_col, "threshold", "cluster_id")
        )

    def level_kwargs(t: int) -> dict:
        if base_ckpt is None:
            return cc_kwargs
        return {**cc_kwargs, "checkpoint_dir": f"{base_ckpt}/level={t}"}

    prev: DataFrame | None = None
    outs: list[DataFrame] = []
    lo = None
    for t in ts:
        if prev is None:
            lvl = e.where(F.col("w") <= t).select(
                F.col("ea").alias("conv_id_a"), F.col("eb").alias("conv_id_b")
            )
            assign = connected_components(
                lvl,
                vertices=verts.select(F.col(out_col).alias("conv_id")),
                **level_kwargs(t),
            )
        else:
            band = e.where((F.col("w") > lo) & (F.col("w") <= t))
            pa = prev.select(F.col("conv_id").alias("ea"), F.col("cluster_id").alias("ra"))
            pb = prev.select(F.col("conv_id").alias("eb"), F.col("cluster_id").alias("rb"))
            contracted = (
                band.join(pa, "ea")
                .join(pb, "eb")
                .select(F.col("ra").alias("conv_id_a"), F.col("rb").alias("conv_id_b"))
                .where(F.col("conv_id_a") != F.col("conv_id_b"))
            )
            reps = prev.select(F.col("cluster_id").alias("conv_id")).distinct()
            rep_assign = connected_components(
                contracted, vertices=reps, **level_kwargs(t)
            )
            assign = (
                prev.withColumnRenamed("cluster_id", "rep")
                .join(
                    rep_assign.select(
                        F.col("conv_id").alias("rep"), F.col("cluster_id")
                    ),
                    "rep",
                )
                .select("conv_id", "cluster_id")
            )
        assign = assign.localCheckpoint(eager=False)
        outs.append(assign.withColumn("threshold", F.lit(t).cast("int")))
        prev, lo = assign, t
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.select(
        F.col("conv_id").alias(out_col), "threshold", "cluster_id"
    )


def merge_responsible_edges(
    edges: DataFrame,
    tight_assign: DataFrame,
    loose_assign: DataFrame,
    id_a_col: str = "conv_id_a",
    id_b_col: str = "conv_id_b",
    node_col: str = "conv_id",
) -> DataFrame:
    """Which edges are RESPONSIBLE for cluster merges between two operating
    points: the review queue for threshold loosening. An edge qualifies iff
    its endpoints sit in DIFFERENT clusters under ``tight_assign`` but the
    SAME cluster under ``loose_assign`` — exactly the pairs a reviewer must
    inspect before promoting the looser threshold to production, and the
    counterpart of ``cluster_diff`` (which reports affected RECORDS, not the
    causal edges).

    Shape: four equi-joins of the edge set against the two assignments (all
    on node id — at scale the assignments are corpus-sized but the edge set
    is sparse, so each join shuffles only edge-mass), no iteration. Output:
    (id_a, id_b, tight_cluster_a, tight_cluster_b, merged_cluster).
    """
    ta = tight_assign.select(
        F.col(node_col).alias(id_a_col), F.col("cluster_id").alias("tight_cluster_a")
    )
    tb = tight_assign.select(
        F.col(node_col).alias(id_b_col), F.col("cluster_id").alias("tight_cluster_b")
    )
    la = loose_assign.select(
        F.col(node_col).alias(id_a_col), F.col("cluster_id").alias("la")
    )
    lb = loose_assign.select(
        F.col(node_col).alias(id_b_col), F.col("cluster_id").alias("lb")
    )
    return (
        edges.join(ta, id_a_col)
        .join(tb, id_b_col)
        .join(la, id_a_col)
        .join(lb, id_b_col)
        .where(
            (F.col("tight_cluster_a") != F.col("tight_cluster_b"))
            & (F.col("la") == F.col("lb"))
        )
        .select(
            id_a_col,
            id_b_col,
            "tight_cluster_a",
            "tight_cluster_b",
            F.col("la").alias("merged_cluster"),
        )
    )


def stable_cluster_ids(
    old_assign: DataFrame,
    new_assign: DataFrame,
    node_col: str = "conv_id",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """Persistent cluster identity across batches: map each NEW cluster to a
    STABLE id — inherit the old cluster's id when the two are each other's
    best overlap (mutual top-1 on shared-record count), mint a fresh id
    otherwise. This is the operator that keeps downstream consumers (repost
    report threads, golden-record keys) pointing at the same logical entity
    while the clustering underneath it shifts — cluster_diff tells you WHAT
    moved; this decides WHAT TO CALL the survivors. The reference keeps
    identity implicitly (rows keyed by first-seen post id, database.py
    insert-once semantics); batch re-clustering needs it explicit.

    Rules (frozen, oracle-mirrored): overlap(new, old) = shared record
    count; a new cluster inherits iff (new, old) is mutual-best
    (er.one_to_one_matches — ties: higher count, then smaller partner id);
    a non-inheriting cluster mints its own ``cluster_col`` value (already
    the min member id under this repo's conventions), suffixed with ``+``
    iff that value was just inherited by a DIFFERENT cluster (the
    split-steals-the-name case) so stable ids stay unique. Contract: node
    ids must not contain ``+``. Output: (cluster_id_new, stable_id,
    status∈{inherited,minted}, n_overlap — NULL when minted).

    Shape: one equi-join on record id (corpus-sized but 1:1), one groupBy on
    (new, old) cluster pairs (≤ edge count of the overlap graph), two
    row_number windows on near-uniform cluster keys, and one broadcast-sized
    join against the inherited id set. No iteration, no driver state.
    """
    from repostcheckerbot_spark.operators.er import one_to_one_matches

    old = old_assign.select(
        F.col(node_col).alias("_n"), F.col(cluster_col).alias("cluster_id_old")
    )
    new = new_assign.select(
        F.col(node_col).alias("_n"), F.col(cluster_col).alias("cluster_id_new")
    )
    overlap = (
        new.join(old, "_n")
        .groupBy("cluster_id_new", "cluster_id_old")
        .agg(F.count(F.lit(1)).cast("long").alias("n_overlap"))
    )
    best = one_to_one_matches(
        overlap,
        id_a_col="cluster_id_new",
        id_b_col="cluster_id_old",
        score_col="n_overlap",
    ).localCheckpoint(eager=False)
    inherited = best.select(
        "cluster_id_new",
        F.col("cluster_id_old").alias("stable_id"),
        F.lit("inherited").alias("status"),
        "n_overlap",
    )
    taken = inherited.select(
        F.col("stable_id").alias("cluster_id_new"), F.lit(True).alias("_taken")
    )
    minted = (
        new.select("cluster_id_new")
        .distinct()
        .join(best.select("cluster_id_new"), "cluster_id_new", "left_anti")
        .join(F.broadcast(taken), "cluster_id_new", "left")
        .select(
            "cluster_id_new",
            F.when(
                F.col("_taken").isNotNull(),
                F.concat(F.col("cluster_id_new"), F.lit("+")),
            )
            .otherwise(F.col("cluster_id_new"))
            .alias("stable_id"),
            F.lit("minted").alias("status"),
            F.lit(None).cast("long").alias("n_overlap"),
        )
    )
    return inherited.unionByName(minted)


def edge_triangle_support(
    edges: DataFrame,
    id_a_col: str = "conv_id_a",
    id_b_col: str = "conv_id_b",
) -> DataFrame:
    """Per-edge TRIANGLE SUPPORT — the collective-ER evidence feature: for
    every candidate edge (a, b), how many nodes are matched to BOTH
    endpoints in the same edge set. A borderline pair sharing several
    common match-neighbors is near-certain (transitivity closes around it);
    support 0 on a high-score pair flags a threshold inconsistency worth
    clerical review. This is the per-edge refinement of the global
    ``near_dup_triangles`` diagnostic (one number → a ranking signal), and
    the k-truss building block.

    Shape: symmetrize once, then two equi-joins hop (a→x) and (b→x) and a
    groupBy on the pair — the standard distributed triangle enumeration;
    cost is Σ_pairs |Γ(a) ∩ Γ(b)| work bounded by edge-mass × average
    degree, the same bound as the triangle count the repo already runs. A
    left join preserves support-0 edges. Output: (id_a, id_b, n_common).
    """
    e = edges.select(F.col(id_a_col).alias("a"), F.col(id_b_col).alias("b")).where(
        F.col("a") != F.col("b")
    )
    sym = (
        e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    na = sym.select(F.col("a"), F.col("b").alias("x"))
    nb = sym.select(F.col("a").alias("b"), F.col("b").alias("x"))
    support = (
        e.join(na, "a")
        .join(nb, ["b", "x"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    return (
        e.join(support, ["a", "b"], "left")
        .select(
            F.col("a").alias(id_a_col),
            F.col("b").alias(id_b_col),
            F.coalesce(F.col("n_common"), F.lit(0).cast("long")).alias("n_common"),
        )
    )


def ktruss_edges(
    edges: DataFrame,
    k: int,
    id_a_col: str = "conv_id_a",
    id_b_col: str = "conv_id_b",
    max_rounds: int = 60,
) -> DataFrame:
    """The k-TRUSS of the match graph: the (unique) maximal subgraph in
    which every edge closes at least k−2 triangles — the standard dense-core
    extraction that resists the chaining CC suffers and the over-splitting
    one-hop stars suffer (Cohen, "Trusses: cohesive subgraphs for social
    network analysis", 2008 — public definition). ER use: clusters built on
    truss-surviving edges need every pair to carry transitive evidence, so
    one spurious borderline match cannot bridge two real entities.

    Algorithm: simultaneous peeling — per round recompute per-edge triangle
    support (edge_triangle_support: two equi-joins + groupBy) and drop every
    edge below k−2, until the edge count is stable. The k-truss is
    order-independent (the maximal subgraph is unique), so simultaneous
    peeling, sequential peeling, and the offline referee all converge to the
    SAME edge set — which is what makes the VALUES-literal oracle exact.
    Round count is bounded by the peel depth (≤ longest chain of support
    collapses); each round is one triangle enumeration over a shrinking
    edge set, lineage truncated by the count probe's lazy checkpoint.
    Exceeding ``max_rounds`` raises rather than returning a partial truss.
    """
    if k < 3:
        raise ValueError("k-truss is defined for k >= 3")
    cur = (
        edges.select(F.col(id_a_col).alias("a"), F.col(id_b_col).alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n = cur.count()
    for _ in range(max_rounds):
        if n == 0:
            break
        sup = edge_triangle_support(cur, id_a_col="a", id_b_col="b")
        cur = (
            sup.where(F.col("n_common") >= k - 2)
            .select("a", "b")
            .localCheckpoint(eager=False)
        )
        n2 = cur.count()
        if n2 == n:
            break
        n = n2
    else:
        raise RuntimeError(f"ktruss_edges did not converge in {max_rounds} rounds")
    return cur.select(F.col("a").alias(id_a_col), F.col("b").alias(id_b_col))
